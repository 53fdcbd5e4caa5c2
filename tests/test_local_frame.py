"""Driver-row frames are Arrow LocalRelations (``store._local_frame``).

The helper replaced row-list ``spark.createDataFrame`` everywhere in
``store.py``; these tests pin that its rows and errors equal the row-list
path's for every declared column type, and that a plain INSERT stays on
the local-relation write path (no Python worker, two Spark jobs, one file).
"""

from __future__ import annotations

import datetime as dt
import os
import re
import time

import pyspark.sql.types as T
import pytest
from pyspark.sql import Row

from trough_spark import store as store_mod
from trough_spark.dialect import QueryRejected
from trough_spark.store import SegmentStore, _local_frame, sqlite_type_to_spark


def _outcome(fn):
    try:
        return ("rows", fn())
    except Exception as e:  # the error itself is what is compared
        return ("error", type(e).__name__, str(e))


@pytest.fixture()
def non_utc_tz():
    """Naive datetimes convert in the process time zone on both paths."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


_I64 = 2**63 - 1
_CASES = [
    ("DECIMAL(10,2)", [(1.23456,), (None,), (-0.005,)]),
    ("INTEGER", [(True,)]),
    ("INTEGER", [(_I64,), (-_I64,), (-_I64 - 1,)]),
    ("INTEGER", [(_I64 + 1,)]),
    ("BIGINT", [(1.5,)]),
    ("REAL", [(1,)]),
    ("BLOB", [(b"a\x00b",), (bytearray(b"\xff\xfe"),), (None,)]),
    ("TEXT", [("héllo ✓ 日本 \U0001f600",), ("",)]),
    ("BOOLEAN", [(True,), (False,), (None,)]),
    ("DATE", [(dt.date(2020, 3, 8),), (dt.datetime(2020, 3, 8, 23, 30),)]),
    (
        "TIMESTAMP",
        [
            (dt.datetime(2020, 3, 8, 2, 30),),  # skipped by the DST change
            (dt.datetime(2020, 11, 1, 1, 30),),  # repeated by the DST change
            (dt.datetime(2021, 6, 1, 12, 0, tzinfo=dt.timezone.utc),),
        ],
    ),
    ("DATETIME", [("2020-01-01",)]),
    ("TEXT", []),
]


@pytest.mark.parametrize("decl,rows", _CASES, ids=[c[0] for c in _CASES])
def test_local_frame_matches_row_list_path(spark, non_utc_tz, decl, rows):
    struct = T.StructType(
        [
            T.StructField("ord", T.LongType(), False),
            T.StructField("v", sqlite_type_to_spark(decl), True),
        ]
    )
    rows = [(i,) + r for i, r in enumerate(rows)]
    old = _outcome(lambda: spark.createDataFrame(rows, struct).collect())
    new = _outcome(lambda: _local_frame(spark, rows, struct).collect())
    assert new == old


def test_local_frame_rejects_null_in_non_nullable_like_row_list_path(spark):
    struct = T.StructType([T.StructField("k", T.LongType(), False)])
    old = _outcome(lambda: spark.createDataFrame([(None,)], struct).collect())
    new = _outcome(lambda: _local_frame(spark, [(None,)], struct).collect())
    assert new == old and new[0] == "error"


def test_local_frame_takes_rows_dicts_and_ddl(spark):
    ddl = "a bigint, b string"
    rows = [Row(a=1, b="x"), {"a": 2, "b": "y"}, (3, None)]
    assert _local_frame(spark, rows, ddl).collect() == (
        spark.createDataFrame(rows, ddl).collect()
    )


def test_store_builds_frames_only_through_local_frame():
    src = open(store_mod.__file__, encoding="utf-8").read()
    calls = [m.start() for m in re.finditer(r"\.createDataFrame\(", src)]
    helper = src.index("def _local_frame(")
    helper_end = src.index("\ndef ", helper + 1)
    assert calls and all(helper < c < helper_end for c in calls)


PK_DDL = (
    "CREATE TABLE items (id INTEGER PRIMARY KEY, name TEXT NOT NULL, "
    "qty INTEGER NOT NULL)"
)


def _values(ids):
    return ", ".join(f"({i}, 'n{i}', {i % 7})" for i in ids)


def test_plain_insert_is_a_local_relation_in_two_jobs_and_one_file(
    spark, tmp_path, monkeypatch
):
    store = SegmentStore(spark, str(tmp_path / "store"))
    store.set_schema("s", PK_DDL + ";")
    store.provision("seg", "s")
    store.write("seg", f"INSERT INTO items (id, name, qty) VALUES {_values(range(1, 6))}")

    plans = []
    write_files = store._write_files

    def spy(df, path, mode):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return write_files(df, path, mode)

    monkeypatch.setattr(store, "_write_files", spy)
    part = store._partition_path("items", "seg")
    files_before = {f for f in os.listdir(part) if f.endswith(".parquet")}
    sc = spark.sparkContext
    sc.setJobGroup("local-frame-insert", "5-row INSERT")
    try:
        store.write(
            "seg", f"INSERT INTO items (id, name, qty) VALUES {_values(range(6, 11))}"
        )
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("local-frame-insert")
    files_after = {f for f in os.listdir(part) if f.endswith(".parquet")}

    assert len(plans) == 1 and "LocalRelation" in plans[0]
    assert len(jobs) <= 2, jobs
    assert len(files_after - files_before) == 1
    assert [r["id"] for r in store.read("seg", "SELECT id FROM items ORDER BY id")] == (
        list(range(1, 11))
    )


@pytest.mark.parametrize(
    "values,msg",
    [
        ("(11, NULL, 1)", "NOT NULL constraint failed: items.name"),
        ("(11, 'x', NULL)", "NOT NULL constraint failed: items.qty"),
        ("(3, 'dup', 1)", "UNIQUE constraint failed: items.id"),
    ],
)
def test_plain_insert_probes_still_raise(spark, tmp_path, values, msg):
    store = SegmentStore(spark, str(tmp_path / "store"))
    store.set_schema("s", PK_DDL + ";")
    store.provision("seg", "s")
    store.write("seg", f"INSERT INTO items (id, name, qty) VALUES {_values(range(1, 6))}")
    with pytest.raises(QueryRejected, match=re.escape(msg)):
        store.write("seg", f"INSERT INTO items (id, name, qty) VALUES {values}")
    assert len(store.read("seg", "SELECT id FROM items")) == 5
