"""A segment's table records: copied from the named schema at provision,
changed only by that segment's DDL, and decoded in Python without a JVM
call."""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pyspark.sql.types as T
import pytest

from trough_spark.store import (
    _AFFINITY,
    SegmentStore,
    TableSchema,
    _record_table,
    _table_record,
    parse_create_table,
    sqlite_type_to_spark,
)


def _round_trip(ts: TableSchema) -> TableSchema:
    return _record_table(ts.name, json.loads(json.dumps(_table_record(ts))))


# every declared-type spelling that reaches a distinct rule of
# sqlite_type_to_spark, plus the no-affinity fallbacks
DECLS = [key for key, _ in _AFFINITY] + ["TIMESTAMP", "", "WHATEVER"]


def test_decls_cover_every_type_sqlite_type_to_spark_yields():
    yielded = {sqlite_type_to_spark(d) for d in DECLS}
    assert yielded >= {typ for _, typ in _AFFINITY} | {T.StringType()}


@pytest.mark.parametrize("decl", DECLS)
def test_record_round_trip_per_declared_type(decl):
    ts = TableSchema("t", [("c", sqlite_type_to_spark(decl))])
    assert _round_trip(ts) == ts


def test_record_round_trip_keeps_every_attribute():
    ts = parse_create_table(
        "CREATE TABLE t (id INTEGER PRIMARY KEY AUTOINCREMENT, "
        "name TEXT NOT NULL COLLATE NOCASE DEFAULT 'x' CHECK (length(name) > 0), "
        "p INT REFERENCES parent(id) ON DELETE CASCADE, q REAL UNIQUE, "
        "g INT GENERATED ALWAYS AS (p * 2) STORED, UNIQUE (p, q COLLATE RTRIM))"
    )
    ts.unique_indexes["iu"] = (["name"], ["NOCASE"])
    assert _round_trip(ts) == ts
    # attributes at their defaults stay out of the record
    assert set(_table_record(TableSchema("t", [("c", T.LongType())]))) == {"fields"}


def test_decoded_schema_is_a_fresh_copy():
    ts = parse_create_table("CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE)")
    rec = _table_record(ts)
    first = _record_table("t", rec)
    first.primary_key.append("b")
    first.uniques.clear()
    assert _record_table("t", rec) == ts


def test_bulk_loaded_nested_types_round_trip(spark, tmp_path):
    struct = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("a", T.IntegerType()),
                        T.StructField("b", T.ArrayType(T.DecimalType(15, 2))),
                    ]
                ),
            ),
            T.StructField("attrs", T.MapType(T.StringType(), T.DoubleType())),
            T.StructField("seg", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, ["x"], (2, [Decimal("1.50")]), {"k": 0.5}, "s1")], struct
    )
    store = SegmentStore(spark, str(tmp_path / "st"))
    store.bulk_load("t", df, "seg")
    ts = store._table_schema("s1", "t")
    assert ts.fields == [(f.name, f.dataType) for f in struct.fields[:-1]]
    assert _round_trip(ts) == ts
    assert store.read("s1", "SELECT id, tags FROM t") == [{"id": 1, "tags": ["x"]}]


def test_reregistered_schema_leaves_provisioned_segment(spark, tmp_path):
    """A segment keeps the tables it was provisioned with, as a trough
    segment keeps the DDL run into its SQLite file."""
    store = SegmentStore(spark, str(tmp_path / "st"))
    store.set_schema("k", "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT);")
    store.provision("old", "k")
    store.write("old", "INSERT INTO t VALUES (1, 'a')")
    store.set_schema("k", "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT, w TEXT);")
    store.provision("new", "k")
    for s in (store, SegmentStore(spark, str(tmp_path / "st"))):
        assert s.read("old", "SELECT * FROM t") == [{"id": 1, "v": "a"}]
        assert [r["name"] for r in s.read("new", "PRAGMA table_info(t)")] == [
            "id",
            "v",
            "w",
        ]


def test_decode_makes_no_jvm_call(spark, tmp_path, monkeypatch):
    """A bulk-loaded segment's types decode in Python: a point read, an
    INSERT, ALTER ADD COLUMN and PRAGMA table_info never parse a type
    string through the JVM."""
    struct = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("amount", T.DecimalType(15, 2)),
            T.StructField("day", T.DateType()),
            T.StructField("at", T.TimestampType()),
            T.StructField("raw", T.BinaryType()),
            T.StructField("ok", T.BooleanType()),
            T.StructField("seg", T.StringType()),
        ]
    )
    row = (1, 1.5, Decimal("12.34"), dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5), b"\x01", True)
    df = spark.createDataFrame([(*row, "s1"), (*row, "s2")], struct)
    store = SegmentStore(spark, str(tmp_path / "st"))
    store.bulk_load("t", df, "seg")

    def jvm_parse(*_a, **_k):
        raise AssertionError("a type string was parsed through the JVM")

    monkeypatch.setattr(T, "_parse_datatype_string", jvm_parse)
    assert store.read("s1", "SELECT amount, day, ok FROM t WHERE id = 1") == [
        {"amount": Decimal("12.34"), "day": dt.date(2024, 1, 2), "ok": 1}
    ]
    store.write(
        "s1", "INSERT INTO t (id, price, amount, day, ok) VALUES (2, 2.5, 3.25, '2024-02-03', 0)"
    )
    store.write("s1", "ALTER TABLE t ADD COLUMN note TEXT")
    names = [r["name"] for r in store.read("s1", "PRAGMA table_info(t)")]
    assert names == [f.name for f in struct.fields[:-1]] + ["note"]
    assert store.read("s1", "SELECT id, amount, day, note FROM t ORDER BY id") == [
        {"id": 1, "amount": Decimal("12.34"), "day": dt.date(2024, 1, 2), "note": None},
        {"id": 2, "amount": Decimal("3.25"), "day": dt.date(2024, 2, 3), "note": None},
    ]


def test_two_stores_on_one_root_keep_each_others_registrations(spark, tmp_path):
    """A store writes back only the registry entries it changed, so a
    store opened earlier does not erase what another registered since."""
    root = str(tmp_path / "st")
    setup = SegmentStore(spark, root)
    setup.set_schema("k", "CREATE TABLE t (id INTEGER PRIMARY KEY);")
    setup.provision("seg", "k")
    a, b = SegmentStore(spark, root), SegmentStore(spark, root)
    a.write("seg", "CREATE TABLE z (q INT)")
    b.provision("segb", "k")
    reopened = SegmentStore(spark, root)
    assert reopened.list_segments() == ["seg", "segb"]
    assert reopened._segment_tables("seg") == ["t", "z"]
    # b's view of the entry it did not touch is refreshed, not kept stale
    assert b._segment_tables("seg") == ["t", "z"]


def test_a_store_does_not_bring_back_a_segment_another_deleted(spark, tmp_path):
    root = str(tmp_path / "st")
    setup = SegmentStore(spark, root)
    setup.set_schema("k", "CREATE TABLE t (id INTEGER PRIMARY KEY);")
    for seg in ("keep", "gone"):
        setup.provision(seg, "k")
    a, b = SegmentStore(spark, root), SegmentStore(spark, root)
    b.delete_segment("gone")
    a.write("keep", "CREATE TABLE z (q INT)")
    reopened = SegmentStore(spark, root)
    assert reopened.list_segments() == ["keep"]
    assert reopened._segment_tables("keep") == ["t", "z"]
