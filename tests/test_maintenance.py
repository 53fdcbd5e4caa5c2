"""Store maintenance: compaction (small files) and snapshot/restore."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from trough_spark.dialect import QueryRejected
from trough_spark.store import SegmentStore


@pytest.fixture()
def store(spark, tmp_path):
    st = SegmentStore(spark, str(tmp_path / "store"))
    st.set_schema("s", "CREATE TABLE t (id INTEGER PRIMARY KEY, v VARCHAR);")
    st.provision("seg", "s")
    # many small appends → many small files
    for i in range(5):
        st.write("seg", f"INSERT INTO t VALUES ({i}, 'v{i}');")
    return st


def test_compact_reduces_files_keeps_rows(store):
    path = store._partition_path("t", "seg")
    before = len(store._parquet_files(path))
    assert before >= 5
    rep = store.compact("seg")
    assert rep["t"]["files_before"] == before
    assert rep["t"]["files_after"] < before
    assert rep["t"]["rows"] == 5
    rows = store.read("seg", "SELECT id, v FROM t ORDER BY id;")
    assert [r["id"] for r in rows] == [0, 1, 2, 3, 4]


def test_compact_sorted(store):
    store.write("seg", "UPDATE t SET v = 'a' WHERE id = 3;")
    store.compact("seg", table="t", sort_by=["v"])
    rows = store.read("seg", "SELECT id FROM t ORDER BY id;")
    assert len(rows) == 5
    [f] = store._parquet_files(store._partition_path("t", "seg"))
    assert pq.read_table(f).column("id").to_pylist() == [3, 0, 1, 2, 4]


def test_snapshot_restore_roundtrip(store):
    v1 = store.snapshot("seg")
    assert v1 == "v0001"
    store.write("seg", "DELETE FROM t WHERE id >= 2; INSERT INTO t VALUES (99, 'later');")
    assert {r["id"] for r in store.read("seg", "SELECT id FROM t;")} == {0, 1, 99}
    v2 = store.snapshot("seg", tag="after-edit")
    assert sorted(store.list_snapshots("seg")) == ["after-edit", "v0001"]
    store.restore("seg", v1)
    assert {r["id"] for r in store.read("seg", "SELECT id FROM t;")} == {0, 1, 2, 3, 4}
    store.restore("seg", v2)
    assert {r["id"] for r in store.read("seg", "SELECT id FROM t;")} == {0, 1, 99}


def test_restore_resets_autoincrement(spark, tmp_path):
    st = SegmentStore(spark, str(tmp_path / "st2"))
    st.set_schema("s", "CREATE TABLE t (id INTEGER PRIMARY KEY AUTOINCREMENT, v VARCHAR);")
    st.provision("seg", "s")
    st.write("seg", "INSERT INTO t (v) VALUES ('a'),('b');")
    v = st.snapshot("seg")
    st.write("seg", "INSERT INTO t (v) VALUES ('c'),('d');")
    st.restore("seg", v)
    st.write("seg", "INSERT INTO t (v) VALUES ('e');")
    rows = st.read("seg", "SELECT id, v FROM t ORDER BY id;")
    # ids continue from the RESTORED high-water mark (2), not the pre-restore 4
    assert [(r["id"], r["v"]) for r in rows] == [(1, "a"), (2, "b"), (3, "e")]


def test_snapshot_covers_tables_created_after_provision(store):
    store.write("seg", "CREATE TABLE u (k INTEGER); INSERT INTO u VALUES (7);")
    v = store.snapshot("seg")
    store.write("seg", "DROP TABLE u;")
    assert "u" not in store._segment_tables("seg")
    store.restore("seg", v)
    assert store.read("seg", "SELECT k FROM u;") == [{"k": 7}]


def test_duplicate_snapshot_tag_rejected(store):
    store.snapshot("seg", tag="x")
    with pytest.raises(QueryRejected):
        store.snapshot("seg", tag="x")


def test_restore_unknown_version_raises(store):
    with pytest.raises(KeyError):
        store.restore("seg", "nope")


def test_time_travel_read_sees_snapshot_state(store):
    v1 = store.snapshot("seg")
    store.write("seg", "DELETE FROM t WHERE id >= 2; INSERT INTO t VALUES (99, 'later');")
    # live read sees the edit; as_of read sees the snapshot; live is untouched
    assert {r["id"] for r in store.read("seg", "SELECT id FROM t;")} == {0, 1, 99}
    old = store.read("seg", "SELECT id, v FROM t ORDER BY id;", as_of=v1)
    assert [r["id"] for r in old] == [0, 1, 2, 3, 4]
    assert {r["id"] for r in store.read("seg", "SELECT id FROM t;")} == {0, 1, 99}


def test_time_travel_sees_dropped_table_and_old_catalog(store):
    store.write("seg", "CREATE TABLE extra (k INTEGER); INSERT INTO extra VALUES (7);")
    v = store.snapshot("seg", tag="with-extra")
    store.write("seg", "DROP TABLE extra;")
    with pytest.raises(Exception):
        store.read("seg", "SELECT k FROM extra;")
    assert [r["k"] for r in store.read("seg", "SELECT k FROM extra;", as_of=v)] == [7]
    names = {
        r["name"]
        for r in store.read(
            "seg", "SELECT name FROM sqlite_master WHERE type = 'table';", as_of=v
        )
    }
    assert "extra" in names
    # live catalog no longer lists it
    names_live = {
        r["name"]
        for r in store.read("seg", "SELECT name FROM sqlite_master WHERE type = 'table';")
    }
    assert "extra" not in names_live


def test_time_travel_unknown_version_raises(store):
    with pytest.raises(KeyError):
        store.read("seg", "SELECT id FROM t;", as_of="nope")
