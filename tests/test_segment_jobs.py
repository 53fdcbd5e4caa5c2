"""A statement against one segment runs as one Spark job.

A segment partition is read as one task, so a single-segment read with
ORDER BY, GROUP BY, an aggregate or DISTINCT plans no exchange.  UPDATE and
DELETE collect the table's post-image once as Arrow, check it in process
and write it with the pyarrow writer a plain INSERT uses.  These tests pin
the job counts, the files a rewrite leaves, what a rewrite keeps of the
rows it does not touch, and the constraint errors the in-process check
raises.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import uuid
from decimal import Decimal

import pyspark.sql.types as T
import pytest

from trough_spark.dialect import QueryRejected
from trough_spark.store import SegmentStore, _local_frame

ITEMS = (
    "CREATE TABLE items (id INTEGER PRIMARY KEY, name TEXT NOT NULL, "
    "qty INTEGER NOT NULL CHECK (qty >= 0));"
)


def _jobs(spark, fn):
    """(Spark jobs, tasks) that ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"one-job-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one segment statement")
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(
        tracker.getStageInfo(s).numTasks for j in jobs for s in tracker.getJobInfo(j).stageIds
    )
    return len(jobs), tasks


@pytest.fixture()
def items(spark, tmp_path):
    """A segment whose ``items`` partition holds three files."""
    store = SegmentStore(spark, str(tmp_path / "store"))
    store.set_schema("s", ITEMS)
    store.provision("seg", "s")
    for lo in (1, 41, 81):
        rows = ", ".join(f"({i}, 'n{i}', {i % 7})" for i in range(lo, lo + 40))
        store.write("seg", f"INSERT INTO items VALUES {rows}")
    assert len(os.listdir(store._partition_path("items", "seg"))) == 3
    return store


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT id, name FROM items WHERE id IN (5, 50, 3) ORDER BY id",
        "SELECT qty, count(*) AS n FROM items GROUP BY qty",
        "SELECT count(*) AS n FROM items",
        "SELECT DISTINCT qty FROM items",
    ],
    ids=["order_by", "group_by", "count", "distinct"],
)
def test_single_segment_read_is_one_task(spark, items, sql):
    assert _jobs(spark, lambda: items.read("seg", sql)) == (1, 1)


def test_point_read_keeps_its_pushed_filter(items):
    plan = items.read_df("seg", "SELECT name FROM items WHERE id = 7")
    text = plan._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in text
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(id,7\)", text), text


def test_update_and_delete_are_one_job_and_leave_one_part_file(spark, items):
    assert _jobs(spark, lambda: items.write("seg", "UPDATE items SET qty = qty + 7 WHERE id = 5"))[0] == 1
    assert _jobs(spark, lambda: items.write("seg", "DELETE FROM items WHERE id = 6"))[0] == 1
    files = os.listdir(items._partition_path("items", "seg"))
    assert len(files) == 1
    assert re.fullmatch(r"part-[0-9a-f-]{36}\.snappy\.parquet", files[0])
    rows = items.read("seg", "SELECT id, qty FROM items WHERE id IN (5, 6, 7) ORDER BY id")
    assert rows == [{"id": 5, "qty": 12}, {"id": 7, "qty": 0}]


@pytest.mark.parametrize(
    "setup,script",
    [
        ("", "UPDATE items SET id = id + 1000"),
        ("", "UPDATE tags SET tag = tag || '!' WHERE id < 5"),
        ("", "UPDATE items SET qty = 1 WHERE id = 5 RETURNING id, qty"),
        ("", "DELETE FROM items WHERE id = 5 RETURNING id"),
        (
            "CREATE TRIGGER tr AFTER UPDATE ON items BEGIN INSERT INTO log VALUES (new.id); END",
            "UPDATE items SET qty = 2 WHERE id < 5",
        ),
        (
            "CREATE TRIGGER tr AFTER DELETE ON items BEGIN INSERT INTO log VALUES (old.id); END",
            "DELETE FROM items WHERE id < 5",
        ),
    ],
    ids=["pk-update", "unique-update", "update-returning", "delete-returning",
         "triggered-update", "triggered-delete"],
)
def test_update_and_delete_evaluate_once(spark, tmp_path, setup, script):
    """An UPDATE or DELETE evaluates its change set in one Spark job, from
    which the key check, RETURNING and the trigger pairs all derive."""
    store = SegmentStore(spark, str(tmp_path / "store"))
    store.set_schema(
        "s",
        ITEMS + "CREATE TABLE tags (id INTEGER PRIMARY KEY, tag TEXT UNIQUE);"
        "CREATE TABLE log (k INTEGER);",
    )
    store.provision("seg", "s")
    store.write(
        "seg",
        "INSERT INTO items VALUES " + ", ".join(f"({i}, 'n{i}', 1)" for i in range(1, 41)) + ";\n"
        "INSERT INTO tags VALUES " + ", ".join(f"({i}, 't{i}')" for i in range(1, 41)),
    )
    if setup:
        store.write("seg", setup)
    assert _jobs(spark, lambda: store.write("seg", script))[0] == 1


_PARITY_TYPES = [
    ("d102", T.DecimalType(10, 2), Decimal("-99999999.99")),
    ("d386", T.DecimalType(38, 6), Decimal("12345678901234567890123456789012.123456")),
    ("i", T.LongType(), -(2**63)),
    ("r", T.DoubleType(), 1.5e-300),
    ("bl", T.BinaryType(), b"a\x00\xff"),
    ("tx", T.StringType(), "héllo ✓ 日本 \U0001f600"),
    ("bo", T.BooleanType(), True),
    ("da", T.DateType(), dt.date(1, 1, 1)),
    ("ts", T.TimestampType(), dt.datetime(1900, 1, 1, 0, 0, 1)),
    ("dst", T.TimestampType(), dt.datetime(2020, 11, 1, 1, 30)),
]


@pytest.mark.usefixtures("non_utc_tz")
def test_rewrite_keeps_untouched_rows_of_every_type(spark, tmp_path):
    """Rows a Spark writer (bulk_load) and the pyarrow writer (INSERT) put
    down read back identical after an UPDATE of another row rewrote the
    partition through Arrow."""
    struct = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("seg", T.StringType())]
        + [T.StructField(n, t) for n, t, _v in _PARITY_TYPES]
    )
    values = tuple(v for _n, _t, v in _PARITY_TYPES)
    rows = [(1, "seg") + values, (2, "seg") + (None,) * len(values), (3, "seg") + values]
    store = SegmentStore(spark, str(tmp_path / "store"))
    store.bulk_load("p", _local_frame(spark, rows, struct), "seg")
    store.write(
        "seg",
        "INSERT INTO p (id, bl, tx, da, ts) "
        "VALUES (4, X'00ff', 'x', '0001-01-01', '1900-01-01 00:00:01')",
    )
    before = store.read("seg", "SELECT * FROM p WHERE id <> 3 ORDER BY id")
    assert len(before) == 3 and before[0]["da"] == dt.date(1, 1, 1)
    for i in (0, 1):  # the second rewrite reads the first one's file
        store.write("seg", f"UPDATE p SET i = {i} WHERE id = 3")
        assert store.read("seg", "SELECT * FROM p WHERE id <> 3 ORDER BY id") == before
    assert store.read("seg", "SELECT i, d386 FROM p WHERE id = 3") == [{"i": 1, "d386": values[1]}]


@pytest.mark.parametrize(
    "script,msg",
    [
        ("UPDATE items SET name = NULL WHERE id = 2", "NOT NULL constraint failed: items.name"),
        ("UPDATE items SET qty = -1 WHERE id = 2", "CHECK constraint failed: qty >= 0"),
        ("UPDATE OR REPLACE items SET qty = -1 WHERE id = 2", "CHECK constraint failed: qty >= 0"),
        ("UPDATE OR IGNORE items SET id = NULL WHERE id = 2", "datatype mismatch"),
        (
            "INSERT INTO items VALUES (2, 'x', 1) ON CONFLICT(id) DO UPDATE SET name = NULL",
            "NOT NULL constraint failed: items.name",
        ),
        (
            "INSERT OR REPLACE INTO items VALUES (2, 'x', -3)",
            "CHECK constraint failed: qty >= 0",
        ),
        (
            "CREATE TRIGGER tr AFTER INSERT ON log BEGIN "
            "UPDATE items SET qty = -5 WHERE id = new.k; END;\n"
            "INSERT INTO log VALUES (2)",
            "CHECK constraint failed: qty >= 0",
        ),
    ],
    ids=["update-not-null", "update-check", "update-or-replace", "update-or-ignore-rowid",
         "upsert", "insert-or-replace", "trigger"],
)
def test_rewrite_constraint_errors_roll_the_script_back(spark, tmp_path, script, msg):
    store = SegmentStore(spark, str(tmp_path / "store"))
    store.set_schema("s", ITEMS + "CREATE TABLE log (k INTEGER);")
    store.provision("seg", "s")
    store.write("seg", "INSERT INTO items VALUES (1, 'a', 1), (2, 'b', 2)")
    with pytest.raises(QueryRejected, match=re.escape(msg)):
        store.write("seg", "UPDATE items SET qty = 9 WHERE id = 1;\n" + script)
    assert store.read("seg", "SELECT * FROM items ORDER BY id") == [
        {"id": 1, "name": "a", "qty": 1},
        {"id": 2, "name": "b", "qty": 2},
    ]
    assert store.read("seg", "SELECT count(*) AS n FROM log") == [{"n": 0}]


def test_rewrites_check_only_the_values_they_write(spark, tmp_path):
    """A row ``append_dataframe`` stored unchecked (a NULL rowid, a NULL in
    a NOT NULL column, a failing CHECK) fails no DELETE, ALTER TABLE or
    compaction, and a NULL rowid fails no UPDATE whose SET leaves the
    rowid alone: SQLite checks only the values a statement writes."""
    store = SegmentStore(spark, str(tmp_path / "store"))
    store.set_schema("s", ITEMS)
    store.provision("seg", "s")
    store.write("seg", "INSERT INTO items VALUES (1, 'a', 1), (2, 'b', 2), (3, 'c', 3)")

    def append(*row):
        struct = T.StructType(
            [T.StructField(n, t) for n, t in store._table_schema("seg", "items").fields]
            + [T.StructField("segment_id", T.StringType())]
        )
        store.append_dataframe("items", _local_frame(spark, [row + ("seg",)], struct))

    append(None, None, -1)
    store.write("seg", "DELETE FROM items WHERE id = 1")
    store.write("seg", "ALTER TABLE items RENAME COLUMN name TO nm")
    store.compact("seg")
    assert store.read("seg", "SELECT id, nm, qty FROM items ORDER BY id") == [
        {"id": None, "nm": None, "qty": -1},
        {"id": 2, "nm": "b", "qty": 2},
        {"id": 3, "nm": "c", "qty": 3},
    ]
    store.write("seg", "DELETE FROM items WHERE nm IS NULL")
    append(None, "d", 4)
    store.write("seg", "UPDATE items SET qty = 5 WHERE id = 2")
    with pytest.raises(QueryRejected, match="datatype mismatch"):
        store.write("seg", "UPDATE items SET id = id + 10 WHERE id = 3")
    assert store.read("seg", "SELECT id, qty FROM items ORDER BY id") == [
        {"id": None, "qty": 4},
        {"id": 2, "qty": 5},
        {"id": 3, "qty": 3},
    ]
