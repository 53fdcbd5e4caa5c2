"""Segment-manager API surface with the reference's exact request/response
contracts (reference: trough/wsgi/segment_manager.py:8-130), framework-free:
each endpoint is a function returning ``(status_code, body, mimetype)``, so
it can be mounted under any WSGI/ASGI layer — or used directly — without the
engine depending on Flask.

Error contracts reproduced byte-for-byte where the reference's tests pin
them (tests/wsgi/test_segment_manager.py:141-169):
- non-JSON PUT body             → 400 'input could not be parsed as json'
- wrong key set                 → 400 "input json has keys {...} (should be {'id', 'sql'})"
- id mismatch                   → 400 "id in json '<x>' does not match id in url '<y>'"
- invalid schema sql            → 400 'schema sql failed validation: <err>'
- PUT create → 201, PUT update  → 204
- DELETE missing segment        → 404; GET missing schema → 404
"""

from __future__ import annotations

import json

from trough_spark.dialect import QueryRejected
from trough_spark.store import SegmentNotFound, SegmentStore, TableNotFound

JSON = "application/json"
TEXT = "text/plain"
SQL = "application/sql"


class SegmentManagerAPI:
    def __init__(self, store: SegmentStore):
        self.store = store

    # -- POST /provision (segment_manager.py:21-38) --------------------------

    def provision(self, body: str) -> tuple[int, str, str]:
        try:
            req = json.loads(body)
        except ValueError:
            return 400, "input could not be parsed as json", TEXT
        try:
            result = self.store.provision(req["segment"], req.get("schema", "default"))
        except (QueryRejected, KeyError) as e:
            return 400, json.dumps({"error": str(e)}), JSON
        return 200, json.dumps(result), JSON

    # -- POST /promote (segment_manager.py:40-52) ----------------------------

    def promote(self, body: str) -> tuple[int, str, str]:
        req = json.loads(body)
        try:
            return 200, json.dumps(self.store.promote(req["segment"])), JSON
        except KeyError:
            return 404, "", TEXT

    # -- GET /schema (segment_manager.py:54-58) ------------------------------

    def list_schemas(self) -> tuple[int, str, str]:
        return 200, json.dumps(self.store.list_schemas()), JSON

    # -- GET /schema/<id> and /schema/<id>/sql (segment_manager.py:60-75) ----

    def get_schema(self, schema_id: str) -> tuple[int, str, str]:
        sql = self.store.get_schema_sql(schema_id)
        if sql is None:
            return 404, "", TEXT
        return 200, json.dumps({"id": schema_id, "sql": sql}), JSON

    def get_schema_sql(self, schema_id: str) -> tuple[int, str, str]:
        sql = self.store.get_schema_sql(schema_id)
        if sql is None:
            return 404, "", TEXT
        return 200, sql, SQL

    # -- PUT /schema/<id> (segment_manager.py:77-101) ------------------------

    def put_schema(self, schema_id: str, body: str) -> tuple[int, str, str]:
        try:
            schema_dict = json.loads(body)
            if not isinstance(schema_dict, dict):
                raise ValueError
        except ValueError:
            return 400, "input could not be parsed as json", TEXT
        if set(schema_dict.keys()) != {"id", "sql"}:
            return 400, (
                "input json has keys %r (should be {'id', 'sql'})" % set(schema_dict.keys())
            ), TEXT
        if schema_dict.get("id") != schema_id:
            return 400, "id in json %r does not match id in url %r" % (
                schema_dict.get("id"), schema_id,
            ), TEXT
        return self._set_schema(schema_id, schema_dict["sql"])

    # -- PUT /schema/<id>/sql (segment_manager.py:103-114) -------------------

    def put_schema_sql(self, schema_id: str, sql: str) -> tuple[int, str, str]:
        return self._set_schema(schema_id, sql)

    def _set_schema(self, schema_id: str, sql: str) -> tuple[int, str, str]:
        try:
            created = self.store.set_schema(schema_id, sql)
        except QueryRejected as e:
            return 400, "schema sql failed validation: %s" % e, TEXT
        return (201 if created else 204), "", TEXT

    # -- DELETE /segment/<id> (segment_manager.py:117-128) -------------------

    def delete_segment(self, segment_id: str) -> tuple[int, str, str]:
        try:
            self.store.delete_segment(segment_id)
        except KeyError:
            return 404, "", TEXT
        return 204, "", TEXT

    # -- the read/write services (reference read.py:70-94, write.py:47-61) ---

    def read(self, segment_id: str, sql: str) -> tuple[int, str, str]:
        try:
            rows = self.store.read(segment_id, sql)
        except QueryRejected as e:
            return 400, str(e), TEXT
        except (SegmentNotFound, TableNotFound):
            return 404, "", TEXT
        return 200, json.dumps(rows, default=str), JSON

    def write(self, segment_id: str, sql_script: str) -> tuple[int, str, str]:
        try:
            returned = self.store.write(segment_id, sql_script)
        except QueryRejected as e:
            return 400, str(e), TEXT
        except (SegmentNotFound, TableNotFound):
            return 404, "", TEXT
        if returned:
            # RETURNING rows (SQLite 3.35+) come back as the response body;
            # scripts without one keep the reference's plain "OK"
            return 200, json.dumps(returned, default=str), JSON
        return 200, "OK", TEXT
