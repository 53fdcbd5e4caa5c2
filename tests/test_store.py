"""SegmentStore lifecycle tests — the reference test suite's golden cases
re-asserted against the Spark-native store (SURVEY §5, FIXTURES.md F1-F3, F6)."""

from __future__ import annotations

import gc
import json
import weakref
from collections import OrderedDict

import pytest
from py4j.protocol import Py4JError

from trough_spark.dialect import QueryRejected
from trough_spark.store import (
    SegmentStore,
    _drop_views,
    _validate_segment_id,
    parse_create_table,
    parse_schema_sql,
)

F1_DDL = "CREATE TABLE test (id INTEGER PRIMARY KEY AUTOINCREMENT, test varchar(4));"


@pytest.fixture()
def store(spark, tmp_path):
    return SegmentStore(spark, str(tmp_path / "store"))


def test_ddl_parsing_types_and_autoincrement():
    ts = parse_create_table(
        "CREATE TABLE t (id INTEGER PRIMARY KEY AUTOINCREMENT, name TEXT, "
        "score REAL, blob_col BLOB, flag BOOLEAN, created DATETIME, "
        "UNIQUE (name))"
    )
    types = dict((n, t.simpleString()) for n, t in ts.fields)
    assert types == {
        "id": "bigint",
        "name": "string",
        "score": "double",
        "blob_col": "binary",
        "flag": "boolean",
        "created": "timestamp",
    }
    assert ts.autoincrement_col == "id"


def test_schema_validation_rejects_garbage():
    # reference: tests/wsgi/test_segment_manager.py:165-169
    with pytest.raises(QueryRejected):
        parse_schema_sql("bad", "create create table table blah blah blah")


def test_schema_registry_crud(store):
    # reference: segment_manager.py:54-114 + FIXTURES F3
    assert store.list_schemas() == ["default"]
    assert store.get_schema_sql("default") == ""
    created = store.set_schema("schema1", "create table foo (bar varchar(100));")
    assert created is True
    assert store.set_schema("schema1", "create table foo (bar varchar(100));") is False
    assert store.get_schema_sql("schema1") == "create table foo (bar varchar(100));"
    with pytest.raises(QueryRejected):
        store.set_schema("bad id!", "create table x (y text);")
    assert store.get_schema_sql("nope") is None


def test_f1_golden_roundtrip(store):
    """The canonical reference fixture: empty read → [], one insert →
    [{'id': 1, 'test': 'test'}] (reference tests/test_read.py:36,56)."""
    store.set_schema("test1", F1_DDL)
    store.provision("seg1", "test1")
    assert store.read("seg1", "SELECT * FROM test") == []
    store.write("seg1", "INSERT INTO test (test) VALUES ('test');")
    assert store.read("seg1", "select * from test") == [{"id": 1, "test": "test"}]
    # autoincrement continues
    store.write("seg1", "INSERT INTO test (test) VALUES ('two');")
    rows = store.read("seg1", "select * from test order by id")
    assert rows == [{"id": 1, "test": "test"}, {"id": 2, "test": "two"}]


def test_read_gate_and_write_gate(store):
    store.set_schema("test1", F1_DDL)
    store.provision("seg1", "test1")
    with pytest.raises(QueryRejected):  # reference tests/test_read.py:57-74
        store.read("seg1", "DROP TABLE test;")
    with pytest.raises(QueryRejected):  # reference tests/test_write.py:24-36
        store.write("seg1", "SELECT * FROM test;")
    with pytest.raises(QueryRejected):
        store.write("seg1", "")


def test_f2_promotion_fixture(store):
    # reference: tests/wsgi/test_segment_manager.py:279-322
    store.set_schema("schema1", "create table foo (bar varchar(100));")
    store.provision("promo", "schema1")
    store.write("promo", "INSERT INTO foo (bar) VALUES ('testing segment promotion');")
    assert store.read("promo", "select * from foo") == [{"bar": "testing segment promotion"}]
    result = store.promote("promo")
    assert result["segment"] == "promo" and result["remote_paths"]


def test_parameter_binding(store):
    store.set_schema("test1", F1_DDL)
    store.provision("segp", "test1")
    store.write("segp", "INSERT INTO test (test) VALUES ('o''x');")
    rows = store.read("segp", "SELECT * FROM test WHERE test = %s", ["o'x"])
    assert rows == [{"id": 1, "test": "o'x"}]


def test_update_delete_partition_rewrite(store):
    store.set_schema("s", "create table kv (k INTEGER, v TEXT);")
    store.provision("seg_ud", "s")
    store.write("seg_ud", "INSERT INTO kv (k, v) VALUES (1, 'a'), (2, 'b'), (3, 'c');")
    store.write("seg_ud", "UPDATE kv SET v = 'B' WHERE k = 2;")
    store.write("seg_ud", "DELETE FROM kv WHERE k = 3;")
    rows = store.read("seg_ud", "SELECT * FROM kv ORDER BY k")
    assert rows == [{"k": 1, "v": "a"}, {"k": 2, "v": "B"}]


def test_update_pre_row_semantics(store):
    """SQLite evaluates the WHERE and every SET expression against the
    PRE-update row: a SET that satisfies-then-breaks its own WHERE must not
    stop later assignments, and `SET a=b, b=a` must swap (verified against
    stdlib sqlite3)."""
    store.set_schema("us", "create table jobs (id INTEGER, status TEXT, ts INTEGER);")
    store.provision("seg_us", "us")
    store.write(
        "seg_us",
        "INSERT INTO jobs (id, status, ts) VALUES (1, 'pending', 0), (2, 'done', 5);",
    )
    # first assignment flips status away from 'pending'; ts=99 must still apply
    store.write("seg_us", "UPDATE jobs SET status = 'done', ts = 99 WHERE status = 'pending';")
    assert store.read("seg_us", "SELECT * FROM jobs ORDER BY id") == [
        {"id": 1, "status": "done", "ts": 99},
        {"id": 2, "status": "done", "ts": 5},
    ]
    store.write(
        "seg_us",
        "CREATE TABLE p (a INTEGER, b INTEGER); INSERT INTO p (a, b) VALUES (1, 2);",
    )
    store.write("seg_us", "UPDATE p SET a = b, b = a;")
    assert store.read("seg_us", "SELECT * FROM p") == [{"a": 2, "b": 1}]


def test_write_path_ddl(store):
    store.provision("seg_ddl", "default")
    store.write("seg_ddl", "CREATE TABLE extra (x INTEGER); INSERT INTO extra (x) VALUES (7);")
    assert store.read("seg_ddl", "SELECT * FROM extra") == [{"x": 7}]
    store.write("seg_ddl", "DROP TABLE extra;")
    with pytest.raises(Exception):
        store.read("seg_ddl", "SELECT * FROM extra")


def test_multi_segment_isolation_and_fanout(store):
    # FIXTURES F6: same schema, many segments; fan-out = one Spark query
    store.set_schema("s", "create table kv (k INTEGER, v TEXT);")
    for i in range(4):
        store.provision(f"seg{i:02d}", "s")
        store.write(f"seg{i:02d}", f"INSERT INTO kv (k, v) VALUES ({i}, 'v{i}');")
    # per-segment isolation
    assert store.read("seg02", "SELECT * FROM kv") == [{"k": 2, "v": "v2"}]
    # regex lookup (A13)
    assert store.segments_matching(r"seg0[12]") == ["seg01", "seg02"]
    # fan-out with global merge (A12 upgrade)
    df = store.read_many_df(r"seg0\d", "SELECT segment_id, k FROM kv ORDER BY k")
    rows = [r.asDict() for r in df.collect()]
    assert [r["k"] for r in rows] == [0, 1, 2, 3]
    agg = store.read_many_df(r"seg0\d", "SELECT count(*) AS n, sum(k) AS s FROM kv").collect()
    assert agg[0]["n"] == 4 and agg[0]["s"] == 6
    # a fan-out view must NOT leak into a later single-segment read: a
    # segment WITHOUT kv cannot resolve the cross-segment view left behind
    store.set_schema("empty", "create table other (x INTEGER);")
    store.provision("seg_nokv", "empty")
    with pytest.raises(Exception):
        store.read("seg_nokv", "SELECT * FROM kv")
    # and a segment WITH kv sees only its own rows again
    assert store.read("seg03", "SELECT * FROM kv") == [{"k": 3, "v": "v3"}]


def test_delete_segment(store):
    store.set_schema("s", "create table kv (k INTEGER);")
    store.provision("seg_del", "s")
    store.write("seg_del", "INSERT INTO kv (k) VALUES (1);")
    store.delete_segment("seg_del")
    assert "seg_del" not in store.list_segments()
    with pytest.raises(KeyError):
        store.read("seg_del", "SELECT * FROM kv")


def test_seed_statements_replayed_on_provision(store):
    # reference: schema with DDL + seed INSERT (tests/wsgi:65-66)
    store.set_schema("seeded", F1_DDL + "INSERT INTO test (test) VALUES ('test');")
    store.provision("seg_seed", "seeded")
    assert store.read("seg_seed", "SELECT * FROM test") == [{"id": 1, "test": "test"}]
    # provision is idempotent: no double seeding
    store.provision("seg_seed", "seeded")
    assert len(store.read("seg_seed", "SELECT * FROM test")) == 1


def test_sqlite_dialect_on_read_path(store):
    store.set_schema("s", "create table kv (k INTEGER, v TEXT);")
    store.provision("seg_dialect", "s")
    store.write("seg_dialect", "INSERT INTO kv (k, v) VALUES (1, 'Apple'), (2, 'banana');")
    # LIKE is case-insensitive in SQLite
    rows = store.read("seg_dialect", "SELECT k FROM kv WHERE v LIKE 'APPLE'")
    assert rows == [{"k": 1}]
    # GLOB is case-sensitive
    assert store.read("seg_dialect", "SELECT k FROM kv WHERE v GLOB 'ban*'") == [{"k": 2}]
    # group_concat
    rows = store.read("seg_dialect", "SELECT group_concat(v) AS vs FROM kv")
    assert rows[0]["vs"] in ("Apple,banana", "banana,Apple")


def test_insert_or_replace_and_ignore(store):
    store.set_schema("pk", "create table kv (k INTEGER PRIMARY KEY, v TEXT);")
    store.provision("seg_up", "pk")
    store.write("seg_up", "INSERT INTO kv (k, v) VALUES (1, 'a'), (2, 'b');")
    store.write("seg_up", "INSERT OR REPLACE INTO kv (k, v) VALUES (2, 'B2'), (3, 'c');")
    rows = store.read("seg_up", "SELECT * FROM kv ORDER BY k")
    assert rows == [{"k": 1, "v": "a"}, {"k": 2, "v": "B2"}, {"k": 3, "v": "c"}]
    store.write("seg_up", "INSERT OR IGNORE INTO kv (k, v) VALUES (3, 'XX'), (4, 'd');")
    rows = store.read("seg_up", "SELECT * FROM kv ORDER BY k")
    assert rows == [
        {"k": 1, "v": "a"}, {"k": 2, "v": "B2"}, {"k": 3, "v": "c"}, {"k": 4, "v": "d"},
    ]
    # bare REPLACE INTO is SQLite's alias for INSERT OR REPLACE
    store.write("seg_up", "REPLACE INTO kv (k, v) VALUES (1, 'A9');")
    assert store.read("seg_up", "SELECT v FROM kv WHERE k = 1") == [{"v": "A9"}]


def test_insert_select(store):
    store.set_schema("s2", "create table src (x INTEGER); create table dst (x INTEGER);")
    store.provision("seg_is", "s2")
    store.write("seg_is", "INSERT INTO src (x) VALUES (1), (2), (3);")
    store.write("seg_is", "INSERT INTO dst (x) SELECT x * 10 FROM src WHERE x >= 2;")
    assert store.read("seg_is", "SELECT * FROM dst ORDER BY x") == [{"x": 20}, {"x": 30}]


def test_insert_select_autoincrement(store):
    store.set_schema(
        "s3",
        "create table src (v TEXT);"
        "create table dst (id INTEGER PRIMARY KEY AUTOINCREMENT, v TEXT);",
    )
    store.provision("seg_isa", "s3")
    store.write("seg_isa", "INSERT INTO src (v) VALUES ('a'), ('b');")
    store.write("seg_isa", "INSERT INTO dst (v) VALUES ('seed');")
    store.write("seg_isa", "INSERT INTO dst (v) SELECT v FROM src;")
    rows = store.read("seg_isa", "SELECT id, v FROM dst ORDER BY id")
    assert [r["id"] for r in rows] == [1, 2, 3]


def test_alter_table(store):
    store.set_schema("s4", "create table t (a INTEGER);")
    store.provision("seg_alt", "s4")
    store.write("seg_alt", "INSERT INTO t (a) VALUES (1);")
    store.write("seg_alt", "ALTER TABLE t ADD COLUMN b TEXT;")
    assert store.read("seg_alt", "SELECT * FROM t") == [{"a": 1, "b": None}]
    store.write("seg_alt", "INSERT INTO t (a, b) VALUES (2, 'x');")
    store.write("seg_alt", "ALTER TABLE t RENAME COLUMN b TO c;")
    rows = store.read("seg_alt", "SELECT * FROM t ORDER BY a")
    assert rows == [{"a": 1, "c": None}, {"a": 2, "c": "x"}]
    store.write("seg_alt", "ALTER TABLE t RENAME TO t2;")
    assert store.read("seg_alt", "SELECT count(*) AS n FROM t2") == [{"n": 2}]
    # per-segment divergence: other segments are untouched
    store.provision("seg_alt2", "s4")
    store.write("seg_alt2", "INSERT INTO t (a) VALUES (9);")
    assert store.read("seg_alt2", "SELECT * FROM t") == [{"a": 9}]


def test_write_script_prevalidation(store):
    store.set_schema("s5", "create table t (a INTEGER);")
    store.provision("seg_pre", "s5")
    # the garbage statement is rejected BEFORE the insert runs
    with pytest.raises(QueryRejected):
        store.write("seg_pre", "INSERT INTO t (a) VALUES (1); FROBNICATE t;")
    assert store.read("seg_pre", "SELECT * FROM t") == []


def test_fanout_partition_pruning_plan(store):
    """The fan-out read must be ONE partition-discovered scan with a
    PartitionFilters entry — not a union of per-segment reads — and an
    equality segment filter must prune to a single directory."""
    store.set_schema("s", "create table kv (k INTEGER, v TEXT);")
    for i in range(6):
        store.provision(f"pp{i}", "s")
        store.write(f"pp{i}", f"INSERT INTO kv (k, v) VALUES ({i}, 'v');")
    df = store.read_many_df(r"pp[0-3]", "SELECT count(*) AS n FROM kv")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert df.collect()[0]["n"] == 4
    # equality prune: one partition read
    whole = store.table_df("kv")
    pruned = whole.filter("segment_id = 'pp2'")
    pplan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pplan and "pp2" in pplan
    assert pruned.count() == 1


def test_create_view_and_drop_view(store):
    store.set_schema("s", "create table kv (k INTEGER, v TEXT);")
    store.provision("seg_v", "s")
    store.write("seg_v", "INSERT INTO kv (k, v) VALUES (1, 'a'), (2, 'b'), (3, 'c');")
    store.write("seg_v", "CREATE VIEW big AS SELECT k, upper(v) AS vu FROM kv WHERE k >= 2;")
    rows = store.read("seg_v", "SELECT * FROM big ORDER BY k")
    assert rows == [{"k": 2, "vu": "B"}, {"k": 3, "vu": "C"}]
    # view tracks underlying writes
    store.write("seg_v", "INSERT INTO kv (k, v) VALUES (4, 'd');")
    assert len(store.read("seg_v", "SELECT * FROM big")) == 3
    store.write("seg_v", "DROP VIEW big;")
    with pytest.raises(Exception):
        store.read("seg_v", "SELECT * FROM big")


def test_recursive_cte_counter(store):
    store.provision("seg_rc", "default")
    rows = store.read(
        "seg_rc",
        "WITH RECURSIVE cnt(x) AS (SELECT 1 UNION ALL SELECT x + 1 FROM cnt WHERE x < 10) "
        "SELECT sum(x) AS s, count(*) AS n FROM cnt",
    )
    assert rows == [{"s": 55, "n": 10}]


def test_recursive_cte_graph_closure(store):
    # transitive closure with UNION (distinct) termination on a cyclic graph
    store.set_schema("g", "create table edge (src INTEGER, dst INTEGER);")
    store.provision("seg_g", "g")
    store.write("seg_g", "INSERT INTO edge (src, dst) VALUES (1,2),(2,3),(3,1),(3,4);")
    rows = store.read(
        "seg_g",
        "WITH RECURSIVE reach(node) AS ("
        "  SELECT 1 UNION SELECT e.dst FROM edge e JOIN reach r ON e.src = r.node"
        ") SELECT node FROM reach ORDER BY node",
    )
    assert [r["node"] for r in rows] == [1, 2, 3, 4]


def test_raw_sql_udf_fallback(store, spark):
    # B13: the three reference functions are registered for un-shimmed SQL
    store.provision("seg_udf", "default")
    row = spark.sql(
        "SELECT REGEXP('^a', 'abc') AS r, SEEDCRAWLEDSTATUS(301) AS s, "
        "BUILDREDIRECTARRAY('http://x', 302, 'LL', NULL) AS b"
    ).collect()[0]
    assert row["r"] is True
    assert row["s"] == "Redirected"
    import json as _json

    assert _json.loads(row["b"]) == [None, {"seed": "http://x", "status": "Redirected"}]


def test_no_cross_segment_view_leak(store):
    # a table existing only in segment A must not resolve when reading B
    store.set_schema("sa", "create table only_a (x INTEGER);")
    store.provision("seg_a", "sa")
    store.write("seg_a", "INSERT INTO only_a (x) VALUES (1);")
    store.provision("seg_b", "default")
    assert store.read("seg_a", "SELECT * FROM only_a") == [{"x": 1}]
    with pytest.raises(Exception):
        store.read("seg_b", "SELECT * FROM only_a")


def test_bulk_load_lineitem_segments(store, spark):
    """FIXTURES F6 at table scale: bulk-load lineitem sliced into 16
    segments with one partitioned write, then per-segment + fan-out reads."""
    import pyspark.sql.functions as F

    from trough_spark.tables import load_table

    l = load_table(spark, "/root/testdata/sf0.001", "lineitem").withColumn(
        "seg", F.concat(F.lit("bulk"), F.lpad((F.col("l_orderkey") % 16).cast("string"), 2, "0"))
    )
    segs = store.bulk_load("lineitem", l, "seg")
    assert len(segs) == 16 and segs[0] == "bulk00"
    # per-segment read is pruned and correct
    one = store.read("bulk03", "SELECT count(*) AS n FROM lineitem")
    direct = l.filter("seg = 'bulk03'").count()
    assert one == [{"n": direct}]
    # fan-out aggregate equals the whole table
    total = store.read_many_df(r"^bulk", "SELECT count(*) AS n FROM lineitem").collect()
    assert total[0]["n"] == 6000
    # sqlite dialect still applies on bulk-loaded segments
    rows = store.read(
        "bulk03",
        "SELECT l_returnflag, count(*) AS n FROM lineitem "
        "WHERE l_returnflag LIKE 'a' GROUP BY l_returnflag",
    )
    assert rows and rows[0]["l_returnflag"] == "A"


def test_sqlite_master_view(store):
    # reference rewrites SHOW TABLES to sqlite_master (shell:149-155);
    # applications can query it directly per segment
    store.set_schema("sm", "create table kv (k INTEGER, v TEXT);")
    store.provision("seg_sm", "sm")
    store.write("seg_sm", "CREATE VIEW vv AS SELECT k FROM kv;")
    rows = store.read(
        "seg_sm", "SELECT type, name, sql FROM sqlite_master ORDER BY type, name"
    )
    assert [(r["type"], r["name"]) for r in rows] == [("table", "kv"), ("view", "vv")]
    assert rows[0]["sql"] == "CREATE TABLE kv (k INTEGER, v TEXT)"


def test_write_script_rollback_on_failure(store):
    """B17: a script failing mid-execution leaves the segment exactly as it
    was — appends removed, overwrites restored, metadata reverted."""
    store.set_schema("tx", "create table kv (k INTEGER, v TEXT);")
    store.provision("seg_tx", "tx")
    store.write("seg_tx", "INSERT INTO kv (k, v) VALUES (1, 'a'), (2, 'b');")
    before = store.read("seg_tx", "SELECT * FROM kv ORDER BY k")

    # INSERT succeeds, then UPDATE references a bogus column -> runtime error
    with pytest.raises(Exception):
        store.write(
            "seg_tx",
            "INSERT INTO kv (k, v) VALUES (3, 'c');"
            "UPDATE kv SET nope = 'x' WHERE k = 1;",
        )
    assert store.read("seg_tx", "SELECT * FROM kv ORDER BY k") == before

    # UPDATE succeeds (partition overwritten), then failure -> overwrite undone
    with pytest.raises(Exception):
        store.write(
            "seg_tx",
            "UPDATE kv SET v = 'CHANGED' WHERE k = 1;"
            "DELETE FROM missing_table;",
        )
    assert store.read("seg_tx", "SELECT * FROM kv ORDER BY k") == before

    # DDL rolled back too: CREATE TABLE then failure -> table gone from meta
    with pytest.raises(Exception):
        store.write("seg_tx", "CREATE TABLE t2 (x INTEGER); DELETE FROM missing_table;")
    with pytest.raises(Exception):
        store.read("seg_tx", "SELECT * FROM t2")
    # and the store still works after rollbacks
    store.write("seg_tx", "INSERT INTO kv (k, v) VALUES (3, 'c');")
    assert len(store.read("seg_tx", "SELECT * FROM kv")) == 3


def test_failed_ddl_script_restores_only_its_segment_entry(spark, store):
    """A script's rollback restores the registry entry of the segment it
    wrote, on disk too, and leaves every other segment's entry as it was
    (the same object: nothing else was copied or replaced)."""
    store.set_schema("tx", "create table kv (k INTEGER PRIMARY KEY, v TEXT);")
    store.provision("seg_a", "tx")
    store.provision("seg_b", "tx")
    store.write("seg_b", "CREATE TABLE only_b (x INTEGER)")
    entry_a = json.loads(json.dumps(store._meta["segments"]["seg_a"]))
    entry_b = store._meta["segments"]["seg_b"]
    snapshot_b = json.loads(json.dumps(entry_b))
    with pytest.raises(QueryRejected, match="UNIQUE constraint failed: kv.k"):
        store.write(
            "seg_a",
            "CREATE TABLE t2 (x INTEGER); ALTER TABLE kv ADD COLUMN w TEXT;"
            "CREATE UNIQUE INDEX iv ON kv (v); INSERT INTO kv VALUES (1, 'a', 'b');"
            "INSERT INTO kv VALUES (1, 'c', 'd');",
        )
    assert store._meta["segments"]["seg_a"] == entry_a
    assert store._meta["segments"]["seg_b"] is entry_b and entry_b == snapshot_b
    reopened = SegmentStore(spark, store.root)
    assert reopened._meta["segments"] == {"seg_a": entry_a, "seg_b": snapshot_b}
    assert reopened.read("seg_a", "SELECT * FROM kv") == []
    reopened.write("seg_a", "INSERT INTO kv VALUES (1, 'a')")


def test_cross_process_write_lock(store, spark):
    """A6/write-lock parity (reference write.py:55-57): a second writer on
    the same root is blocked while the lock is held, stale locks from dead
    processes are stolen, and the lock is released after every write."""
    import json
    import os

    from trough_spark.store import WriteLockError

    store.set_schema("s", "create table kv (k INTEGER);")
    store.provision("seg_lk", "s")
    store.write("seg_lk", "INSERT INTO kv (k) VALUES (1);")  # lock released after

    lock_path = os.path.join(store.root, "_locks", "segment-seg_lk.lock")
    assert not os.path.exists(lock_path)

    # simulate a LIVE foreign holder (our own pid is alive)
    os.makedirs(os.path.dirname(lock_path), exist_ok=True)
    with open(lock_path, "w") as f:
        json.dump({"pid": os.getpid(), "host": __import__("socket").gethostname()}, f)
    other = SegmentStore(spark, store.root)
    other.lock_timeout = 0.3
    with pytest.raises(WriteLockError):
        other.write("seg_lk", "INSERT INTO kv (k) VALUES (2);")
    assert store.read("seg_lk", "SELECT count(*) AS n FROM kv") == [{"n": 1}]

    # a DEAD holder's lock is stolen and the write proceeds
    with open(lock_path, "w") as f:
        json.dump({"pid": 2**22 + 12345, "host": __import__("socket").gethostname()}, f)
    other.write("seg_lk", "INSERT INTO kv (k) VALUES (3);")
    assert not os.path.exists(lock_path)
    assert store.read("seg_lk", "SELECT count(*) AS n FROM kv") == [{"n": 2}]


def test_last_insert_rowid_and_iif(store):
    store.set_schema("test1", F1_DDL)
    store.provision("lrid", "test1")
    # fresh connection semantics: 0 before any insert
    assert store.read("lrid", "SELECT last_insert_rowid() AS v") == [{"v": 0}]
    store.write("lrid", "INSERT INTO test (test) VALUES ('a');")
    store.write("lrid", "INSERT INTO test (test) VALUES ('b');")
    assert store.read("lrid", "SELECT last_insert_rowid() AS v") == [{"v": 2}]
    rows = store.read(
        "lrid", "SELECT iif(id = last_insert_rowid(), 'latest', 'older') AS tag FROM test ORDER BY id"
    )
    assert [r["tag"] for r in rows] == ["older", "latest"]
    # literal-aware: an occurrence INSIDE a string literal is data, not SQL
    rows = store.read("lrid", "SELECT 'last_insert_rowid()' AS s")
    assert rows == [{"s": "last_insert_rowid()"}]
    # write path: VALUES referencing last_insert_rowid() sees the id as of
    # the previous statement (sqlite3 connection semantics)
    store.write("lrid", "INSERT INTO test (test) SELECT 'ref ' || last_insert_rowid();")
    rows = store.read("lrid", "SELECT test FROM test WHERE id = 3")
    assert rows == [{"test": "ref 2"}]


def test_rollback_after_multiple_overwrites_restores_prescript_state(spark, tmp_path):
    """Two partition overwrites (UPDATEs) followed by a failing statement in
    ONE script must restore the exact pre-script state — the write fuzzer
    caught the second overwrite destroying the first (pre-script) `._old`
    backup, leaving rollback to wipe the partition."""
    from trough_spark.dialect import QueryRejected
    from trough_spark.store import SegmentStore

    store = SegmentStore(spark, str(tmp_path / "rbstore"))
    store.set_schema("s", "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER);")
    store.provision("seg", "s")
    store.write("seg", "INSERT INTO t VALUES (1, 10); INSERT INTO t VALUES (2, 20)")
    with pytest.raises(QueryRejected):
        store.write(
            "seg",
            "UPDATE t SET v = v + 1;\n"
            "UPDATE t SET v = v * 2;\n"
            "INSERT INTO t VALUES (1, 999)",  # duplicate pk -> whole script rolls back
        )
    assert store.read("seg", "SELECT id, v FROM t ORDER BY id") == [
        {"id": 1, "v": 10},
        {"id": 2, "v": 20},
    ]


def test_midscript_io_failure_rolls_back(store, monkeypatch):
    """Round-6 crash-consistency: an IO error thrown from INSIDE a partition
    write (disk full, lost mount — not a statement error) still rolls the
    whole script back, including files already appended by the earlier
    statements of the same script."""
    store.set_schema("io", "create table a (k INTEGER); create table b (k INTEGER);")
    store.provision("seg_io", "io")
    store.write("seg_io", "INSERT INTO a VALUES (1); INSERT INTO b VALUES (10);")
    before_a = store.read("seg_io", "SELECT * FROM a ORDER BY k")
    before_b = store.read("seg_io", "SELECT * FROM b ORDER BY k")

    calls = {"n": 0}
    orig = SegmentStore._append_file

    def flaky(batch, path):
        calls["n"] += 1
        if calls["n"] == 2:  # first table's append lands, second one dies
            raise OSError("No space left on device (injected)")
        return orig(batch, path)

    monkeypatch.setattr(SegmentStore, "_append_file", staticmethod(flaky))
    with pytest.raises(OSError, match="injected"):
        store.write("seg_io", "INSERT INTO a VALUES (2); INSERT INTO b VALUES (20);")
    monkeypatch.setattr(SegmentStore, "_append_file", staticmethod(orig))
    assert calls["n"] == 2

    assert store.read("seg_io", "SELECT * FROM a ORDER BY k") == before_a
    assert store.read("seg_io", "SELECT * FROM b ORDER BY k") == before_b
    # the store still accepts writes afterwards (no stale lock, no txn residue)
    store.write("seg_io", "INSERT INTO a VALUES (3);")
    assert len(store.read("seg_io", "SELECT * FROM a")) == 2


def test_write_path_contract(store):
    """INSERT, UPDATE + DELETE rewrites, INSERT OR REPLACE on the declared
    pk, and a mid-script failure that rolls the whole script back."""
    store.set_schema(
        "kv_schema",
        "CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT);\n"
        "CREATE TABLE log (k INTEGER, note TEXT);\n",
    )
    store.provision("seg1", "kv_schema")
    store.write(
        "seg1",
        "INSERT INTO kv VALUES (1, 'a');\n"
        "INSERT INTO kv VALUES (2, 'b');\n"
        "INSERT INTO log VALUES (1, 'first')",
    )
    store.write("seg1", "UPDATE kv SET v = 'B' WHERE k = 2; DELETE FROM log WHERE k = 1")
    store.write("seg1", "INSERT OR REPLACE INTO kv VALUES (1, 'A2'), (3, 'c')")
    rows = {r["k"]: r["v"] for r in store.read("seg1", "SELECT k, v FROM kv")}
    assert rows == {1: "A2", 2: "B", 3: "c"}
    assert store.read("seg1", "SELECT count(*) AS n FROM log")[0]["n"] == 0
    with pytest.raises(Exception):
        store.write(
            "seg1",
            "INSERT INTO kv VALUES (4, 'd');\n"
            "INSERT INTO nosuch VALUES (1)",
        )
    rows = {r["k"]: r["v"] for r in store.read("seg1", "SELECT k, v FROM kv")}
    assert rows == {1: "A2", 2: "B", 3: "c"}, "rollback must undo the partial insert"


def test_segment_id_charset_enforced(store, spark):
    """Round-6 (code-review): segment ids become partition directory and
    lock-file names — enforce the charset at every entry point instead of
    letting a quote or colon corrupt paths."""
    store.set_schema("sid", "create table t (k INTEGER);")
    for bad in ("se'g", "a:b", "x=1", "", "%41", ".hidden", "a b"):
        with pytest.raises(QueryRejected, match="invalid segment id"):
            store.provision(bad, "sid")
    store.provision("ok-1.x_2", "sid")  # dot/dash/underscore are fine
    df = spark.createDataFrame([(1, "se'g")], "k int, segment_id string")
    with pytest.raises(QueryRejected, match="invalid segment id"):
        store.bulk_load("t", df, segment_col="segment_id")
    with pytest.raises(QueryRejected, match="invalid segment id"):
        store.append_dataframe("t", df)


def test_trigger_when_subquery_live(store):
    """WHEN / RAISE conditions containing scalar subqueries read LIVE
    table state per row (round 10 — registration previously rejected
    them; differential parity pinned in test_dialect_fuzz).  The cap
    trigger here admits exactly two rows of a three-row script."""
    store.set_schema("wq", "create table t (x INTEGER);")
    store.provision("seg_wq", "wq")
    store.write(
        "seg_wq",
        "CREATE TRIGGER cap BEFORE INSERT ON t "
        "WHEN (SELECT count(*) FROM t) >= 2 "
        "BEGIN SELECT RAISE(IGNORE); END",
    )
    store.write(
        "seg_wq",
        "INSERT INTO t VALUES (1);\nINSERT INTO t VALUES (2);\n"
        "INSERT INTO t VALUES (3)",
    )
    assert [r["x"] for r in store.read("seg_wq", "SELECT x FROM t ORDER BY x")] == [1, 2]
    store.write(
        "seg_wq",
        "CREATE TRIGGER cap2 BEFORE INSERT ON t BEGIN "
        "SELECT RAISE(ABORT, 'full') WHERE (SELECT count(*) FROM t) >= 3; END",
    )
    store.write("seg_wq", "DROP TRIGGER cap")
    store.write("seg_wq", "INSERT INTO t VALUES (4)")
    with pytest.raises(Exception, match="full"):
        store.write("seg_wq", "INSERT INTO t VALUES (5)")
    assert [r["x"] for r in store.read("seg_wq", "SELECT x FROM t ORDER BY x")] == [1, 2, 4]


# -- round-8 point-read view cache (VERDICT r7 item 6) ------------------------


def test_point_read_view_cache_invalidation(store):
    """The per-session registration cache must be invisible: a write (data
    or DDL) from the same store invalidates the cached view, sqlite_master
    tracks DDL by content, and a recursive CTE that shadows a table name
    does not poison later reads."""
    store.set_schema("vc", "CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT);")
    store.provision("seg_vc", "vc")
    store.write("seg_vc", "INSERT INTO kv VALUES (1, 'a'), (2, 'b')")
    assert store.read("seg_vc", "SELECT v FROM kv WHERE k = 1")[0]["v"] == "a"
    # repeat read (cache hit) then write → next read must see new data
    assert store.read("seg_vc", "SELECT v FROM kv WHERE k = 1")[0]["v"] == "a"
    store.write("seg_vc", "UPDATE kv SET v = 'A2' WHERE k = 1")
    assert store.read("seg_vc", "SELECT v FROM kv WHERE k = 1")[0]["v"] == "A2"
    # DDL: sqlite_master content key must move
    names = {r["name"] for r in store.read("seg_vc", "SELECT name FROM sqlite_master")}
    assert names == {"kv"}
    store.write("seg_vc", "CREATE TABLE extra (x INTEGER)")
    names = {r["name"] for r in store.read("seg_vc", "SELECT name FROM sqlite_master")}
    assert names == {"kv", "extra"}
    # ALTER changes the declared schema without touching data files
    store.write("seg_vc", "ALTER TABLE extra ADD COLUMN y TEXT")
    store.write("seg_vc", "INSERT INTO extra (x, y) VALUES (1, 'yy')")
    assert store.read("seg_vc", "SELECT y FROM extra")[0]["y"] == "yy"
    # recursive CTE shadowing the table name: later plain reads unaffected
    rows = store.read(
        "seg_vc",
        "WITH RECURSIVE kv(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM kv "
        "WHERE n < 3) SELECT n FROM kv ORDER BY n",
    )
    assert [r["n"] for r in rows] == [1, 2, 3]
    assert store.read("seg_vc", "SELECT v FROM kv WHERE k = 1")[0]["v"] == "A2"


def test_point_read_view_cache_cross_store_isolation(spark, tmp_path):
    """Two stores sharing one SparkSession register same-named temp views;
    the per-session cache must never serve one store's registration to the
    other (keys embed the store root)."""
    a = SegmentStore(spark, str(tmp_path / "a"))
    b = SegmentStore(spark, str(tmp_path / "b"))
    for st, val in ((a, "from_a"), (b, "from_b")):
        st.set_schema("vc", "CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT);")
        st.provision("seg", "vc")
        st.write("seg", f"INSERT INTO kv VALUES (1, '{val}')")
    for _ in range(2):  # alternate: each switch must re-register
        assert a.read("seg", "SELECT v FROM kv WHERE k = 1")[0]["v"] == "from_a"
        assert b.read("seg", "SELECT v FROM kv WHERE k = 1")[0]["v"] == "from_b"


def test_point_read_view_cache_sees_external_writer(spark, tmp_path):
    """A second store instance on the SAME root (the multiprocess pattern:
    reader + writer processes) — the reader's cached view must miss after
    the writer's commit because the data-dir fingerprint moved."""
    root = str(tmp_path / "shared")
    writer = SegmentStore(spark, root)
    writer.set_schema("vc", "CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT);")
    writer.provision("seg", "vc")
    writer.write("seg", "INSERT INTO kv VALUES (1, 'v1')")
    reader = SegmentStore(spark, root)
    assert reader.read("seg", "SELECT v FROM kv WHERE k = 1")[0]["v"] == "v1"
    writer.write("seg", "UPDATE kv SET v = 'v2' WHERE k = 1")
    assert reader.read("seg", "SELECT v FROM kv WHERE k = 1")[0]["v"] == "v2"


def test_segment_partition_is_single_file(store, tmp_path):
    """Round-8 layout: statement flushes and partition rewrites coalesce to
    ONE parquet file per segment partition (the reference's one-SQLite-file
    segment, and one scan task per point read)."""
    import glob as _glob

    store.set_schema("sf", "CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT);")
    store.provision("seg_sf", "sf")
    store.write(
        "seg_sf",
        "INSERT INTO kv VALUES " + ",".join(f"({i},'v{i}')" for i in range(500)),
    )
    part = f"{store.root}/tables/kv/segment_id=seg_sf"
    assert len(_glob.glob(f"{part}/*.parquet")) == 1
    store.write("seg_sf", "UPDATE kv SET v = 'x' WHERE k < 10")
    assert len(_glob.glob(f"{part}/*.parquet")) == 1


# -- per-segment view names (name binding + view LRU) ------------------------


def _tree_segment(store, seg="seg_nb"):
    store.set_schema(
        "nb", "CREATE TABLE items (id INTEGER PRIMARY KEY, name TEXT, parent INTEGER);"
    )
    store.provision(seg, "nb")
    store.write(
        seg, "INSERT INTO items VALUES (1, 'root', NULL), (2, 'leaf', 1), (3, 'twig', 1)"
    )


def test_name_binding_qualified_aliases_self_join(store):
    _tree_segment(store)

    def q(sql):
        return store.read("seg_nb", sql)

    assert q("SELECT items.id FROM items WHERE items.name = 'leaf'") == [{"id": 2}]
    assert q("SELECT i.name FROM items AS i WHERE i.id = 3") == [{"name": "twig"}]
    assert q(
        "SELECT c.name AS child, p.name AS parent FROM items c "
        "JOIN items p ON c.parent = p.id ORDER BY c.id"
    ) == [{"child": "leaf", "parent": "root"}, {"child": "twig", "parent": "root"}]
    assert q(
        "SELECT name FROM items WHERE id = (SELECT max(id) FROM items)"
    ) == [{"name": "twig"}]


def test_name_binding_quoted_and_mixed_case_names(store):
    store.set_schema("mc", 'CREATE TABLE "MixedCase" (k INTEGER, v TEXT);')
    store.provision("seg_mc", "mc")
    store.write("seg_mc", "INSERT INTO \"MixedCase\" VALUES (1, 'a'), (2, 'b')")
    for ref in ('"MixedCase"', "MixedCase", "mixedcase", "[MIXEDCASE]", "`mixedCase`"):
        rows = store.read("seg_mc", f"SELECT {ref}.v FROM {ref} WHERE k = 2")
        assert rows == [{"v": "b"}], ref


def test_name_binding_user_ctes_named_like_tables(store):
    """A user CTE named like a segment table shadows it, at the top level
    and nested, as in SQLite; a statement that begins with WITH still sees
    the segment's tables from its own CTEs."""
    _tree_segment(store)

    def q(sql):
        return store.read("seg_nb", sql)

    assert q("WITH items AS (SELECT 42 AS id) SELECT id FROM items") == [{"id": 42}]
    assert q(
        "SELECT count(*) AS n FROM items WHERE id IN "
        "(WITH items AS (SELECT 2 AS id) SELECT id FROM items)"
    ) == [{"n": 1}]
    assert q(
        "SELECT n FROM (WITH items AS (SELECT 7 AS n) SELECT n FROM items)"
    ) == [{"n": 7}]
    assert q(
        "WITH kids AS (SELECT * FROM items WHERE parent = 1), "
        "named AS (SELECT kids.name FROM kids JOIN items p ON kids.parent = p.id) "
        "SELECT count(*) AS n FROM named"
    ) == [{"n": 2}]
    # the shadowing does not outlive the statement
    assert q("SELECT count(*) AS n FROM items") == [{"n": 3}]


def test_segment_view_reread_after_write(store):
    _tree_segment(store)
    store.write("seg_nb", "CREATE VIEW kids AS SELECT id, name FROM items WHERE parent = 1")
    assert store.read("seg_nb", "SELECT count(*) AS n FROM kids") == [{"n": 2}]
    before = store.view_stats()
    assert store.read("seg_nb", "SELECT count(*) AS n FROM kids") == [{"n": 2}]
    assert store.view_stats()["registrations"] == before["registrations"]
    store.write("seg_nb", "INSERT INTO items VALUES (4, 'bud', 1)")
    assert store.read(
        "seg_nb", "SELECT k.name FROM kids k ORDER BY k.id"
    ) == [{"name": "leaf"}, {"name": "twig"}, {"name": "bud"}]


def test_name_binding_as_of_master_and_recursive_cte(store):
    _tree_segment(store)
    v1 = store.snapshot("seg_nb")
    store.write("seg_nb", "DELETE FROM items WHERE id = 3")
    sql = "SELECT id FROM items ORDER BY id"
    assert [r["id"] for r in store.read("seg_nb", sql, as_of=v1)] == [1, 2, 3]
    assert [r["id"] for r in store.read("seg_nb", sql)] == [1, 2]
    assert [r["id"] for r in store.read("seg_nb", sql, as_of=v1)] == [1, 2, 3]
    # sqlite_master is keyed by content: a second segment of the same
    # schema reuses the first one's registration
    _tree_segment(store, "seg_nb2")
    master = "SELECT name, type FROM sqlite_master"
    assert store.read("seg_nb", master) == [{"name": "items", "type": "table"}]
    regs = store.view_stats()["registrations"]
    assert store.read("seg_nb2", master) == [{"name": "items", "type": "table"}]
    assert store.view_stats()["registrations"] == regs
    # a recursive CTE named like a table: its step and outer SELECT read
    # the frontier, its base may not name it (SQLite: circular reference)
    rows = store.read(
        "seg_nb",
        "WITH RECURSIVE items(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM items "
        "WHERE n < 4) SELECT sum(n) AS s FROM items",
    )
    assert rows == [{"s": 10}]
    rows = store.read(
        "seg_nb",
        "WITH RECURSIVE up(id) AS (SELECT id FROM items WHERE id = 2 "
        "UNION ALL SELECT i.parent FROM items i JOIN up ON i.id = up.id "
        "WHERE i.parent IS NOT NULL) SELECT id FROM up ORDER BY id",
    )
    assert rows == [{"id": 1}, {"id": 2}]
    with pytest.raises(Exception):
        store.read(
            "seg_nb",
            "WITH RECURSIVE items(n) AS (SELECT max(id) FROM items UNION ALL "
            "SELECT n + 1 FROM items WHERE n < 4) SELECT n FROM items",
        )
    assert store.read("seg_nb", "SELECT count(*) AS n FROM items") == [{"n": 2}]


def test_discarded_stores_drop_their_views(spark, tmp_path):
    prefixes = []
    for i in range(3):
        store = SegmentStore(spark, str(tmp_path / f"leak{i}"))
        _tree_segment(store)
        store.read("seg_nb", "SELECT count(*) AS n FROM items")
        store.read(
            "seg_nb",
            "WITH RECURSIVE c(x) AS (SELECT 1 UNION ALL SELECT x + 1 FROM c "
            "WHERE x < 3) SELECT sum(x) AS s FROM c",
        )
        prefix = store._frontier_view.rsplit("_", 1)[0] + "_"
        live = [t.name for t in spark.catalog.listTables() if t.name.startswith(prefix)]
        assert len(live) >= 2, live  # a table view and the frontier view
        prefixes.append(prefix)
        del store
    gc.collect()
    left = [
        t.name for t in spark.catalog.listTables() if t.name.startswith(tuple(prefixes))
    ]
    assert left == []


def test_store_view_finalizer(spark, tmp_path):
    """The finalizer that drops a store's views neither keeps the store
    alive nor runs at interpreter exit (the session may be gone by then)."""
    store = SegmentStore(spark, str(tmp_path / "fin"))
    _tree_segment(store)
    store.read("seg_nb", "SELECT count(*) AS n FROM items")
    finalizers = [
        f
        for f in gc.get_objects()
        if isinstance(f, weakref.finalize) and f.alive and f.peek()[0] is store
    ]
    assert [(f.peek()[1], f.atexit) for f in finalizers] == [(_drop_views, False)]
    ref = weakref.ref(store)
    del store, finalizers
    gc.collect()
    assert ref() is None


def test_drop_views_drops_cached_and_frontier_views(spark):
    names = ["__drop_views_t_0", "__drop_views_t_1"]
    for name in names:
        spark.range(1).createOrReplaceTempView(name)
    views = OrderedDict([(("tbl", "/data/t"), (("key",), names[1]))])
    _drop_views(spark, views, names[0])
    live = {t.name for t in spark.catalog.listTables()}
    assert live.isdisjoint(names)
    # a store that never ran WITH RECURSIVE has no frontier view to drop
    _drop_views(spark, OrderedDict(), "__drop_views_never_registered")


def test_drop_views_skips_a_stopped_session():
    class _Catalog:
        def dropTempView(self, name):
            raise AssertionError("a stopped session's catalog was called")

    class _StoppedSession:
        sparkContext = type("_Context", (), {"_jsc": None})()
        catalog = _Catalog()

    _drop_views(_StoppedSession(), OrderedDict([("slot", ("key", "v1"))]), "v0")


def test_drop_views_ignores_a_failing_jvm_call():
    dropped = []

    class _Catalog:
        def dropTempView(self, name):
            dropped.append(name)
            raise Py4JError("An error occurred while calling o88.dropTempView")

    class _Session:
        sparkContext = type("_Context", (), {"_jsc": object()})()
        catalog = _Catalog()

    _drop_views(_Session(), OrderedDict([("slot", ("key", "v1"))]), "v0")
    assert dropped == ["v0"]


@pytest.mark.parametrize("segment_id", ["a", "seg-1", "A.b_c", "9lives"])
def test_segment_id_accepted(segment_id):
    assert _validate_segment_id(segment_id) == segment_id


@pytest.mark.parametrize(
    "segment_id", ["../x", "a/b", "seg\n", "-lead", None, 5]
)
def test_segment_id_rejected(segment_id):
    with pytest.raises(QueryRejected, match="invalid segment id"):
        _validate_segment_id(segment_id)


def test_cross_segment_surfaces(store, spark):
    """bulk_load lands several segments in one partitioned write, table_df
    scans the whole table with its segment_id column, read_many_df runs a
    regex fan-out as one query and append_dataframe adds to a bulk table."""
    store.set_schema("kv_schema", "CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT);")
    for seg in ("xs1", "xs2", "xs3"):
        store.provision(seg, "kv_schema")
        store.write(seg, f"INSERT INTO kv VALUES (1, '{seg}')")
    extra = spark.createDataFrame(
        [(10, "x", "xs1"), (11, "y", "xs2")], "k int, v string, sid string"
    )
    assert store.bulk_load("kv2", extra, segment_col="sid") == ["xs1", "xs2"]
    tdf = store.table_df("kv")
    assert tdf.count() == 3
    assert [r["v"] for r in tdf.filter("segment_id = 'xs2'").collect()] == ["xs2"]
    n = store.read_many_df("^xs[12]$", "SELECT count(*) AS n FROM kv").collect()[0]["n"]
    assert n == 2
    more = spark.createDataFrame([(12, "z", "xs3")], "k int, v string, sid string")
    store.append_dataframe("kv2", more, segment_col="sid")
    assert store.table_df("kv2").count() == 3
    assert store.read("xs3", "SELECT k, v FROM kv2") == [{"k": 12, "v": "z"}]


def test_delete_segment_leaves_other_segments(store):
    """Segments share one partitioned table; deleting one empties only its
    partition."""
    store.set_schema("kv_schema", "CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT);")
    for seg in ("iso_a", "iso_b"):
        store.provision(seg, "kv_schema")
        store.write(seg, f"INSERT INTO kv VALUES (7, '{seg}')")
    assert store.read("iso_a", "SELECT v FROM kv") == [{"v": "iso_a"}]
    store.delete_segment("iso_a")
    assert store.list_segments() == ["iso_b"]
    assert store.table_df("kv").count() == 1
    assert store.read("iso_b", "SELECT v FROM kv") == [{"v": "iso_b"}]


def test_fanout_read_does_not_leak_into_segment_reads(store):
    store.set_schema("sa", "CREATE TABLE only_a (x INTEGER);")
    store.provision("fan_a", "sa")
    store.write("fan_a", "INSERT INTO only_a (x) VALUES (1)")
    store.provision("fan_b", "default")
    total = store.read_many_df("^fan_", "SELECT count(*) AS n FROM only_a").collect()
    assert total[0]["n"] == 1
    with pytest.raises(Exception):
        store.read("fan_b", "SELECT * FROM only_a")
    assert store.read("fan_a", "SELECT * FROM only_a") == [{"x": 1}]


def test_internal_view_names_are_rejected(spark, store, tmp_path):
    """A statement naming an internal view — this store's or another
    store's on the same session — never reaches that view's data."""
    _tree_segment(store)
    store.provision("seg_other", "default")
    store.read("seg_nb", "SELECT * FROM items")
    other = SegmentStore(spark, str(tmp_path / "other"))
    _tree_segment(other)
    other.read("seg_nb", "SELECT * FROM items")
    names = [t.name for t in spark.catalog.listTables() if t.name.startswith("__trough_view_")]
    assert len(names) >= 2
    for name in names:
        for ref in (name, f'"{name}"', name.upper()):
            with pytest.raises(QueryRejected):
                store.read("seg_other", f"SELECT * FROM {ref}")
        with pytest.raises(QueryRejected):
            store.read_many_df("^seg_", f"SELECT * FROM {name}")


def _bulk_segments(spark, store, n, rows_per=3):
    import pyspark.sql.functions as F

    df = spark.range(n * rows_per).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.format_string("lru%03d", F.col("id") % n).alias("seg"),
    )
    return store.bulk_load("kv", df, "seg")


def test_view_lru_evicts_and_rereads_correctly(spark, store):
    """More segments than the LRU holds: every read stays correct after its
    segment's view was evicted, and the cache never holds more than its
    capacity once a statement is analysed."""
    store._view_capacity = 4
    segs = _bulk_segments(spark, store, 6)
    for _ in range(2):
        for i, seg in enumerate(segs):
            rows = store.read(seg, "SELECT k, v FROM kv ORDER BY k")
            assert rows == [{"k": k, "v": 10 * k} for k in (i, i + 6, i + 12)]
            assert store.view_stats()["cached"] <= 4
    stats = store.view_stats()
    assert stats["evictions"] == stats["registrations"] - stats["cached"] > 0


def test_view_cache_holds_64_segments(spark, store):
    """The point_read shape: 64 segments with one table name.  The first
    pass registers one view per segment; the second registers none."""
    segs = _bulk_segments(spark, store, 64, rows_per=1)
    sql = "SELECT v FROM kv WHERE k = %s"
    for i, seg in enumerate(segs):
        assert store.read(seg, sql, (i,)) == [{"v": 10 * i}]
    first = store.view_stats()
    assert first["registrations"] == 64
    for i, seg in enumerate(segs):
        assert store.read(seg, sql, (i,)) == [{"v": 10 * i}]
    second = store.view_stats()
    assert second["registrations"] == first["registrations"]
    assert second["hits"] - first["hits"] == 64
    assert second["evictions"] == 0
