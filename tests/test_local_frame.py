"""Driver-row frames are Arrow LocalRelations (``store._local_frame``).

The helper replaced row-list ``spark.createDataFrame`` everywhere in
``store.py``; these tests pin that its rows and errors equal the row-list
path's for every declared column type, that a file a plain INSERT writes
with pyarrow reads back like a Spark-written one, and that a plain INSERT
runs no Spark job and adds one file.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from decimal import Decimal

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest
from pyspark.sql import Row

from trough_spark import store as store_mod
from trough_spark.dialect import QueryRejected
from trough_spark.store import (
    SegmentStore,
    _arrow_table,
    _fit_decimal,
    _local_frame,
    sqlite_type_to_spark,
)


def _outcome(fn):
    try:
        return ("rows", fn())
    except Exception as e:  # the error itself is what is compared
        return ("error", type(e).__name__, str(e))


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


# (type, rows, the values stored when they are not the rows' own)
_FILE_CASES = [(sqlite_type_to_spark(d), rows, None) for d, rows in _CASES] + [
    (T.DecimalType(10, 2), [(Decimal("1.25"),), (Decimal("-99999999.99"),), (None,)], None),
    # more scale than declared: rounded HALF_UP, as a Spark cast stores it
    (T.DecimalType(10, 2), [(Decimal("1.23456"),), (Decimal("-0.005"),)], ["1.23", "-0.01"]),
    (T.DecimalType(38, 6), [(Decimal("12345678901234567890123456789012.123456"),)], None),
    (T.DateType(), [(dt.date(1, 1, 1),), (dt.date(1582, 10, 10),), (None,)], None),
    (T.TimestampType(), [(dt.datetime(1900, 1, 1, 0, 0, 1),), (None,)], None),
]


@pytest.mark.parametrize(
    "typ,rows,stored",
    _FILE_CASES,
    ids=[f"{t.simpleString()}-{i}" for i, (t, _r, _s) in enumerate(_FILE_CASES)],
)
def test_pyarrow_append_reads_like_spark_append(spark, non_utc_tz, tmp_path, typ, rows, stored):
    """A plain INSERT's file, written with pyarrow, reads back through
    Spark to the rows a Spark append of the same rows reads back to."""
    struct = T.StructType(
        [T.StructField("ord", T.LongType(), False), T.StructField("v", typ, True)]
    )
    rows = [(i,) + r for i, r in enumerate(rows)]

    def read_back(path, append):
        append(path)
        return spark.read.schema(struct).parquet(path).orderBy("ord").collect()

    spark_rows = _outcome(lambda: read_back(
        str(tmp_path / "spark"), lambda p: _local_frame(spark, rows, struct).write.parquet(p)
    ))
    arrow_rows = _outcome(lambda: read_back(
        str(tmp_path / "arrow"), lambda p: SegmentStore._append_file(_arrow_table(rows, struct), p)
    ))
    assert arrow_rows == spark_rows
    if stored is not None:
        assert arrow_rows[0] == "rows"
        assert [r["v"] for r in arrow_rows[1]] == [Decimal(v) for v in stored]


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


def test_plain_insert_runs_no_spark_job_and_adds_one_file(spark, tmp_path):
    """Each plain INSERT script appends exactly one parquet file and runs
    no Spark job: not its key check, not its append, and not a new
    process's first read of the autoincrement high-water mark."""
    root = str(tmp_path / "store")
    store = SegmentStore(spark, root)
    store.set_schema("s", PK_DDL + ";")
    store.provision("seg", "s")
    part = store._partition_path("items", "seg")
    sc = spark.sparkContext
    added = []
    sc.setJobGroup("arrow-insert", "plain INSERTs")
    try:
        for st, sql in [
            (store, f"INSERT INTO items (id, name, qty) VALUES {_values(range(1, 6))}"),
            (store, f"INSERT INTO items (id, name, qty) VALUES {_values(range(6, 11))}"),
            (SegmentStore(spark, root), "INSERT INTO items (name, qty) VALUES ('auto', 1)"),
        ]:
            before = set(os.listdir(part)) if os.path.isdir(part) else set()
            st.write("seg", sql)
            added.append(set(os.listdir(part)) - before)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("arrow-insert") == []
    assert [len(a) for a in added] == [1, 1, 1]
    # nothing but the appended files: no temporary, checksum or marker file
    assert sorted(os.listdir(part)) == sorted(set().union(*added))
    assert all(re.fullmatch(r"part-[0-9a-f-]{36}\.snappy\.parquet", f) for f in os.listdir(part))
    assert [r["id"] for r in store.read("seg", "SELECT id FROM items ORDER BY id")] == (
        list(range(1, 12))
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


def test_key_check_reads_spark_int96_timestamps(spark, non_utc_tz, tmp_path):
    """Spark writes TIMESTAMP columns as INT96; a plain INSERT's key check
    reads them as the instants its own rows convert to."""
    store = SegmentStore(spark, str(tmp_path / "store"))
    store.set_schema("s", "CREATE TABLE t (at TIMESTAMP PRIMARY KEY, v INTEGER);")
    store.provision("seg", "s")
    path = store._partition_path("t", "seg")
    rows = [(dt.datetime(2020, 11, 1, 1, 30), 1), (dt.datetime(1850, 6, 1, 12), 2)]
    store._write_files(_local_frame(spark, rows, store._table_schema("seg", "t").struct()), path, "append")
    types = {
        pq.ParquetFile(os.path.join(path, f)).schema.column(0).physical_type
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    assert types == {"INT96"}
    for at in ("2020-11-01 01:30:00", "1850-06-01 12:00:00"):
        with pytest.raises(QueryRejected, match=re.escape("UNIQUE constraint failed: t.at")):
            store.write("seg", f"INSERT INTO t VALUES ('{at}', 3)")
    store.write("seg", "INSERT INTO t VALUES ('2020-11-01 01:30:01', 4)")
    assert [r["v"] for r in store.read("seg", "SELECT v FROM t ORDER BY v")] == [1, 2, 4]


def test_decimal_excess_scale_insert_reads_like_update(spark, tmp_path):
    """An INSERT stores a DECIMAL value with more scale than declared as
    the UPDATE path's Spark cast does (HALF_UP); a value past the declared
    precision is refused."""
    struct = T.StructType([T.StructField("id", T.LongType()), T.StructField("d", T.DecimalType(10, 2))])
    store = SegmentStore(spark, str(tmp_path / "store"))
    store.bulk_load(
        "m", _local_frame(spark, [(0, Decimal("1.00"))], struct).withColumn("seg", F.lit("seg")), "seg"
    )
    store.write("seg", "INSERT INTO m VALUES (1, 3.256), (2, 0), (3, -0.005), (4, 0)")
    store.write("seg", "UPDATE m SET d = 3.256 WHERE id = 2; UPDATE m SET d = -0.005 WHERE id = 4")
    rows = store.read("seg", "SELECT id, d FROM m ORDER BY id")
    assert [r["d"] for r in rows] == [Decimal(v) for v in ("1.00", "3.26", "3.26", "-0.01", "-0.01")]
    # past the precision before rounding, after it, and far past it
    for v in ("123456789.5", "99999999.995", "1e79", "1e90"):
        with pytest.raises(QueryRejected, match=re.escape("out of range for DECIMAL(10,2)")):
            store.write("seg", f"INSERT INTO m VALUES (5, {v})")
    assert len(store.read("seg", "SELECT id FROM m")) == 5
    for v in ("Infinity", "-Infinity", "NaN"):
        with pytest.raises(QueryRejected, match="out of range"):
            _fit_decimal(Decimal(v), T.DecimalType(10, 2))
