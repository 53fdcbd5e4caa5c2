"""Segment-manager API contract tests — the reference's golden status codes
and error bodies (tests/wsgi/test_segment_manager.py:141-169, 24-101)."""

from __future__ import annotations

import json

import pytest

from trough_spark.api import SegmentManagerAPI
from trough_spark.store import SegmentStore


@pytest.fixture()
def api(spark, tmp_path):
    return SegmentManagerAPI(SegmentStore(spark, str(tmp_path / "store")))


def test_put_schema_error_contracts(api):
    # reference tests/wsgi:141-169 — byte-for-byte bodies
    status, body, _ = api.put_schema("schema1", "not json")
    assert (status, body) == (400, "input could not be parsed as json")

    status, body, _ = api.put_schema("schema1", json.dumps({"id": "schema2", "sql": "x"}))
    assert (status, body) == (400, "id in json 'schema2' does not match id in url 'schema1'")

    status, body, _ = api.put_schema("schema1", json.dumps({"id": "schema1"}))
    assert (status, body) == (400, "input json has keys {'id'} (should be {'id', 'sql'})")

    status, body, _ = api.put_schema("schema1", json.dumps({"sql": "x"}))
    assert (status, body) == (400, "input json has keys {'sql'} (should be {'id', 'sql'})")

    status, body, _ = api.put_schema(
        "schema1", json.dumps({"id": "schema1", "sql": "create create table table blah"})
    )
    assert status == 400 and body.startswith("schema sql failed validation:")


def test_put_get_delete_roundtrip(api):
    # create → 201; update → 204 (reference :172-254)
    ddl = "create table foo (bar varchar(100));"
    assert api.put_schema("schema1", json.dumps({"id": "schema1", "sql": ddl}))[0] == 201
    assert api.put_schema("schema1", json.dumps({"id": "schema1", "sql": ddl}))[0] == 204
    status, body, mt = api.get_schema_sql("schema1")
    assert (status, body, mt) == (200, ddl, "application/sql")
    status, body, _ = api.get_schema("schema1")
    assert status == 200 and json.loads(body) == {"id": "schema1", "sql": ddl}
    assert api.get_schema("missing")[0] == 404
    assert json.loads(api.list_schemas()[1]) == ["default", "schema1"]

    # raw-sql PUT form
    assert api.put_schema_sql("schema2", "create table t2 (x INTEGER);")[0] == 201


def test_provision_write_read_delete_flow(api):
    ddl = "create table foo (bar varchar(100));"
    api.put_schema_sql("schema1", ddl)
    status, body, _ = api.provision(json.dumps({"segment": "segA", "schema": "schema1"}))
    assert status == 200 and json.loads(body)["segment"] == "segA"
    # bad provision json
    assert api.provision("zzz")[0] == 400

    assert api.write("segA", "INSERT INTO foo (bar) VALUES ('testing segment promotion');")[:2] == (200, "OK")
    status, body, _ = api.read("segA", "select * from foo")
    assert status == 200 and json.loads(body) == [{"bar": "testing segment promotion"}]
    # read-path gate → 400 (reference read.py:58-62)
    assert api.read("segA", "DROP TABLE foo")[0] == 400
    # write-path gate → 400 (reference write.py:27-37)
    assert api.write("segA", "SELECT * FROM foo")[0] == 400

    status, body, _ = api.promote(json.dumps({"segment": "segA"}))
    assert status == 200 and json.loads(body)["segment"] == "segA"

    assert api.delete_segment("segA")[0] == 204
    assert api.delete_segment("segA")[0] == 404  # already gone (reference :117-128)


def test_http_round_trip(api):
    """The full reference workflow over REAL HTTP: put schema → provision →
    write → read → delete (reference wsgi/segment_manager.py endpoints +
    read.py/write.py services), via urllib against wsgiref servers."""
    import threading
    import urllib.error
    import urllib.request

    from trough_spark.wsgi import read_app, segment_manager_app, serve, write_app

    servers = [
        serve(segment_manager_app(api)),
        serve(read_app(api)),
        serve(write_app(api)),
    ]
    mgr, rd, wr = (f"http://127.0.0.1:{s.server_port}" for s in servers)
    threads = [threading.Thread(target=s.serve_forever, daemon=True) for s in servers]
    for t in threads:
        t.start()

    def call(url, data=None, method=None):
        req = urllib.request.Request(
            url, data=data.encode() if isinstance(data, str) else data, method=method
        )
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read().decode()

    try:
        ddl = "create table kv (id INTEGER PRIMARY KEY AUTOINCREMENT, v TEXT);"
        status, _ = call(f"{mgr}/schema/s1/sql", data=ddl, method="PUT")
        assert status == 201
        status, body = call(f"{mgr}/schema", method="GET")
        assert status == 200 and "s1" in json.loads(body)
        status, body = call(
            f"{mgr}/provision", data=json.dumps({"segment": "web1", "schema": "s1"})
        )
        assert status == 200 and json.loads(body)["segment"] == "web1"
        # deprecated POST / returns the write url as plain text
        status, body = call(f"{mgr}/", data="web1")
        assert status == 200 and "web1" in body

        status, body = call(f"{wr}/?segment=web1", data="INSERT INTO kv (v) VALUES ('hello');")
        assert (status, body) == (200, "OK\n")
        status, body = call(f"{rd}/?segment=web1", data="SELECT * FROM kv")
        assert status == 200 and json.loads(body) == [{"id": 1, "v": "hello"}]

        status, body = call(f"{mgr}/promote", data=json.dumps({"segment": "web1"}))
        assert status == 200 and json.loads(body)["segment"] == "web1"
        status, _ = call(f"{mgr}/segment/web1", method="DELETE")
        assert status == 204
        with pytest.raises(urllib.error.HTTPError) as ei:
            call(f"{mgr}/segment/web1", method="DELETE")
        assert ei.value.code == 404
    finally:
        for s in servers:
            s.shutdown()
            s.server_close()


def test_only_typed_not_found_errors_map_to_404(api, monkeypatch):
    """A missing segment or table is 404; a KeyError from inside the write
    path is a server bug and must surface as 500, not as 'not found'."""
    import io

    from trough_spark.wsgi import write_app

    assert api.write("nope", "INSERT INTO kv (v) VALUES ('x')")[0] == 404
    assert api.read("nope", "SELECT 1")[0] == 404
    api.put_schema_sql("s1", "create table kv (id INTEGER PRIMARY KEY, v TEXT);")
    api.provision(json.dumps({"segment": "seg", "schema": "s1"}))
    assert api.write("seg", "INSERT INTO no_such_table (x) VALUES (1)")[0] == 404

    def broken(*_a, **_k):
        raise KeyError("internal row-index bug")

    monkeypatch.setattr(api.store, "_flush_inserts", broken)
    with pytest.raises(KeyError):
        api.write("seg", "INSERT INTO kv (v) VALUES ('x')")
    body = b"INSERT INTO kv (v) VALUES ('x')"
    environ = {
        "REQUEST_METHOD": "POST",
        "QUERY_STRING": "segment=seg",
        "CONTENT_LENGTH": str(len(body)),
        "wsgi.input": io.BytesIO(body),
    }
    statuses = []
    out = write_app(api)(environ, lambda status, headers: statuses.append(status))
    assert statuses[0].startswith("500") and b"internal row-index bug" in b"".join(out)
