"""UNIQUE constraints and key collations (round 8): write-path differential
vs live SQLite.

Until round 8 the engine enforced only the binary PRIMARY KEY — UNIQUE
columns/constraints were silently unenforced and a `COLLATE NOCASE` pk
accepted case-variant duplicates (both found by live probing).  Every rule
asserted here was probed against stdlib sqlite3 first; the differential
runner below re-derives the expected outcome from live SQLite on every run
so drift in either engine is caught.
"""

from __future__ import annotations

import sqlite3

import pytest

from trough_spark.store import QueryRejected, SegmentStore


def _run_differential(spark, tmp_path, title, ddl, stmts):
    """Run the same script against live SQLite and the store; compare
    error positions, the rows RETURNING reports and final table
    contents."""
    con = sqlite3.connect(":memory:")
    for d in ddl.strip().rstrip(";").split(";"):
        con.execute(d)
    sq_err, sq_ret = [], []
    for s in stmts:
        try:
            sq_ret.append(sorted(con.execute(s).fetchall()))
            sq_err.append(None)
        except sqlite3.Error as e:
            sq_ret.append(None)
            sq_err.append(str(e))
    cols = [c[0] for c in con.execute("SELECT * FROM t").description]
    sq_rows = sorted(
        tuple(r[cols.index(k)] for k in sorted(cols))
        for r in con.execute("SELECT * FROM t").fetchall()
    )

    store = SegmentStore(spark, str(tmp_path / f"st_{abs(hash(title)) % 10**8}"))
    store.set_schema("s", ddl if ddl.rstrip().endswith(";") else ddl + ";")
    store.provision("seg", "s")
    en_err, en_ret = [], []
    for s in stmts:
        try:
            en_ret.append(sorted(tuple(d.values()) for d in store.write("seg", s)))
            en_err.append(None)
        except QueryRejected as e:
            en_ret.append(None)
            en_err.append(str(e))
    en_rows = sorted(
        tuple(d[k] for k in sorted(d))
        for d in store.read("seg", "SELECT * FROM t")
    )
    for i, (a, b) in enumerate(zip(sq_err, en_err)):
        assert (a is None) == (b is None), (
            f"{title} stmt {i}: sqlite={a!r} engine={b!r}"
        )
    assert sq_ret == en_ret, f"{title}: RETURNING {sq_ret} vs {en_ret}"
    assert sq_rows == en_rows, f"{title}: rows {sq_rows} vs {en_rows}"


CASES = [
    (
        "unique column plain insert raises",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, u TEXT UNIQUE)",
        ["INSERT INTO t VALUES (1,'x')", "INSERT INTO t VALUES (2,'x')",
         "INSERT INTO t VALUES (3,NULL)", "INSERT INTO t VALUES (4,NULL)"],
    ),
    (
        "nocase pk conflicts case-insensitively",
        "CREATE TABLE t (name TEXT PRIMARY KEY COLLATE NOCASE, v INT)",
        ["INSERT INTO t VALUES ('Alpha',1)", "INSERT INTO t VALUES ('alpha',2)",
         "INSERT INTO t VALUES ('beta',3)"],
    ),
    (
        "table-level multi-column unique",
        "CREATE TABLE t (a INT, b INT, UNIQUE (a, b))",
        ["INSERT INTO t VALUES (1,1)", "INSERT INTO t VALUES (1,2)",
         "INSERT INTO t VALUES (1,1)"],
    ),
    (
        "pk-clause collate overrides binary column",
        "CREATE TABLE t (a TEXT, v INT, PRIMARY KEY (a COLLATE NOCASE))",
        ["INSERT INTO t VALUES ('X',1)", "INSERT INTO t VALUES ('x',2)"],
    ),
    (
        "rtrim unique folds trailing spaces only",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, u TEXT UNIQUE COLLATE RTRIM)",
        ["INSERT INTO t VALUES (1,'a')", "INSERT INTO t VALUES (2,'a  ')",
         "INSERT INTO t VALUES (3,'a\t')"],
    ),
    (
        "or replace cascades across all constraints",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE, v INT)",
        ["INSERT INTO t VALUES (1,'x',10)", "INSERT INTO t VALUES (2,'y',20)",
         "INSERT OR REPLACE INTO t VALUES (1,'y',30)"],
    ),
    (
        "or replace sequential within one statement",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE)",
        ["INSERT INTO t VALUES (1,'x')",
         "INSERT OR REPLACE INTO t VALUES (2,'x'), (3,'x')"],
    ),
    (
        "or ignore skips unique conflicts per row",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE)",
        ["INSERT INTO t VALUES (1,'x')",
         "INSERT OR IGNORE INTO t VALUES (2,'x'), (3,'z')"],
    ),
    (
        "or replace on pk-less table resolves on unique",
        "CREATE TABLE t (a INT UNIQUE, b TEXT)",
        ["INSERT INTO t VALUES (1,'x')", "INSERT OR REPLACE INTO t VALUES (1,'y')"],
    ),
    (
        "do nothing with target skips on target",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE)",
        ["INSERT INTO t VALUES (1,'x')",
         "INSERT INTO t VALUES (1,'x') ON CONFLICT(a) DO NOTHING"],
    ),
    (
        "do nothing with target raises on other constraint",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE)",
        ["INSERT INTO t VALUES (1,'x')",
         "INSERT INTO t VALUES (2,'x') ON CONFLICT(a) DO NOTHING"],
    ),
    (
        "do nothing without target skips on any",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE)",
        ["INSERT INTO t VALUES (1,'x')",
         "INSERT INTO t VALUES (2,'x') ON CONFLICT DO NOTHING",
         "INSERT INTO t VALUES (1,'z') ON CONFLICT DO NOTHING"],
    ),
    (
        "do update on unique target",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE, n INT DEFAULT 0)",
        ["INSERT INTO t VALUES (1,'x',0)",
         "INSERT INTO t (a,b) VALUES (5,'x') ON CONFLICT(b) DO UPDATE SET n = n + 1",
         "INSERT INTO t (a,b) VALUES (1,'q') ON CONFLICT(b) DO UPDATE SET n = n + 1"],
    ),
    (
        "do update set creating third-row conflict raises",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE)",
        ["INSERT INTO t VALUES (1,'x')", "INSERT INTO t VALUES (2,'y')",
         "INSERT INTO t VALUES (1,'z') ON CONFLICT(a) DO UPDATE SET b='y'"],
    ),
    (
        "catch-all do update (sqlite 3.35 form)",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE, n INT DEFAULT 0)",
        ["INSERT INTO t VALUES (1,'x',0)",
         "INSERT INTO t VALUES (2,'x',0) ON CONFLICT DO UPDATE SET n = n + 1"],
    ),
    (
        "two-row catch-all updates the pk-first hit",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE, n INT DEFAULT 0)",
        ["INSERT INTO t VALUES (1,'x',0)", "INSERT INTO t VALUES (2,'y',0)",
         "INSERT INTO t VALUES (1,'y',0) ON CONFLICT DO UPDATE SET n = n + 1"],
    ),
    (
        "target not matching any constraint rejected",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE, c INT)",
        ["INSERT INTO t VALUES (1,'x',0)",
         "INSERT INTO t VALUES (2,'y',0) ON CONFLICT(c) DO NOTHING"],
    ),
    (
        "upsert clause on constraint-free table is plain insert",
        "CREATE TABLE t (a INT, b TEXT)",
        ["INSERT INTO t VALUES (1,'x') ON CONFLICT DO NOTHING",
         "INSERT INTO t VALUES (1,'x') ON CONFLICT DO UPDATE SET b='y'"],
    ),
    (
        "plain update violating unique raises",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE)",
        ["INSERT INTO t VALUES (1,'x')", "INSERT INTO t VALUES (2,'y')",
         "UPDATE t SET b='x' WHERE a=2"],
    ),
    (
        "plain update violating nocase unique raises",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE COLLATE NOCASE)",
        ["INSERT INTO t VALUES (1,'Xy')", "INSERT INTO t VALUES (2,'zz')",
         "UPDATE t SET b='xY' WHERE a=2"],
    ),
    (
        "nocase unique: or ignore",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE COLLATE NOCASE)",
        ["INSERT INTO t VALUES (1,'Xy')",
         "INSERT OR IGNORE INTO t VALUES (2,'xY'), (3,'zz')"],
    ),
    (
        "pk conflict error names pk even when unique also conflicts",
        "CREATE TABLE t (b TEXT UNIQUE, a INTEGER PRIMARY KEY)",
        ["INSERT INTO t VALUES ('x',1)", "INSERT INTO t VALUES ('x',1)"],
    ),
    (
        "insert..select respects unique",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE);"
        "CREATE TABLE src (x INT, y TEXT)",
        ["INSERT INTO src VALUES (9,'x')", "INSERT INTO t VALUES (1,'x')",
         "INSERT INTO t SELECT x, y FROM src"],
    ),
    (
        "insert..select or ignore respects unique",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE);"
        "CREATE TABLE src (x INT, y TEXT)",
        ["INSERT INTO src VALUES (9,'x')", "INSERT INTO src VALUES (10,'z')",
         "INSERT INTO t VALUES (1,'x')",
         "INSERT OR IGNORE INTO t SELECT x, y FROM src"],
    ),
    # ALTER keeps the table record consistent: a renamed column keeps its
    # key, NOT NULL, DEFAULT and collation; a dropped one leaves no trace
    (
        "rename pk column then insert",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT)",
        ["INSERT INTO t VALUES (1,'x')", "ALTER TABLE t RENAME COLUMN a TO k",
         "INSERT INTO t VALUES (2,'y')", "INSERT INTO t (k, b) VALUES (2,'z')"],
    ),
    (
        "rename not null column then insert",
        "CREATE TABLE t (a INT NOT NULL, b TEXT)",
        ["ALTER TABLE t RENAME COLUMN a TO c", "INSERT INTO t VALUES (1,'x')",
         "INSERT INTO t (b) VALUES ('y')"],
    ),
    (
        "rename unique column then insert",
        "CREATE TABLE t (a INT, b TEXT UNIQUE)",
        ["INSERT INTO t VALUES (1,'x')", "ALTER TABLE t RENAME COLUMN b TO c",
         "INSERT INTO t VALUES (2,'y')", "INSERT INTO t VALUES (3,'x')"],
    ),
    (
        "rename unique-indexed column then insert",
        "CREATE TABLE t (a INT, b TEXT)",
        ["CREATE UNIQUE INDEX iu ON t (b)", "INSERT INTO t VALUES (1,'x')",
         "ALTER TABLE t RENAME COLUMN b TO c", "INSERT INTO t VALUES (2,'y')",
         "INSERT INTO t VALUES (3,'x')"],
    ),
    (
        "renamed column keeps default and nocase",
        "CREATE TABLE t (a INT, b TEXT DEFAULT 'Zed' COLLATE NOCASE UNIQUE)",
        ["INSERT INTO t VALUES (1,'Xy')", "ALTER TABLE t RENAME COLUMN b TO c",
         "INSERT INTO t (a) VALUES (2)", "INSERT INTO t VALUES (3,'xY')",
         "INSERT INTO t VALUES (4,'ZED')"],
    ),
    (
        "drop not null column then insert",
        "CREATE TABLE t (a INT, b INT NOT NULL)",
        ["INSERT INTO t VALUES (1,2)", "ALTER TABLE t DROP COLUMN b",
         "INSERT INTO t VALUES (3)"],
    ),
    (
        "dropped column added back starts empty",
        "CREATE TABLE t (a INT, b INT)",
        ["INSERT INTO t VALUES (1,2)", "ALTER TABLE t DROP COLUMN b",
         "ALTER TABLE t ADD COLUMN b INT", "INSERT INTO t VALUES (3,4)"],
    ),
    (
        "drop pk column refused",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b INT)",
        ["INSERT INTO t VALUES (1,2)", "ALTER TABLE t DROP COLUMN a",
         "INSERT INTO t VALUES (2,3)"],
    ),
    (
        "drop unique column refused",
        "CREATE TABLE t (a INT, b TEXT UNIQUE)",
        ["INSERT INTO t VALUES (1,'x')", "ALTER TABLE t DROP COLUMN b",
         "INSERT INTO t VALUES (2,'y')", "INSERT INTO t VALUES (3,'x')"],
    ),
    # a unique index is part of its table's record: DROP INDEX works after
    # ALTER, RENAME TO carries it, DROP TABLE drops it
    (
        "drop index after add column",
        "CREATE TABLE t (a INT, b INT)",
        ["CREATE UNIQUE INDEX iu ON t (b)", "ALTER TABLE t ADD COLUMN c INT",
         "DROP INDEX iu", "INSERT INTO t VALUES (1,1,1)", "INSERT INTO t VALUES (2,1,2)"],
    ),
    (
        "drop index after rename to",
        "CREATE TABLE t (a INT, b INT)",
        ["CREATE UNIQUE INDEX iu ON t (b)", "ALTER TABLE t RENAME TO u",
         "INSERT INTO u VALUES (1,1)", "INSERT INTO u VALUES (2,1)",
         "DROP INDEX iu", "ALTER TABLE u RENAME TO t", "INSERT INTO t VALUES (3,1)"],
    ),
    (
        "drop table drops its unique index",
        "CREATE TABLE t (a INT, b INT)",
        ["CREATE TABLE x (p INT, q INT)", "CREATE UNIQUE INDEX ix ON x (q)",
         "DROP TABLE x", "CREATE TABLE x (p INT, q INT)",
         "INSERT INTO x VALUES (1,1)", "INSERT INTO x VALUES (2,1)",
         "CREATE UNIQUE INDEX ix ON t (b)", "INSERT INTO t VALUES (1,1)",
         "INSERT INTO t VALUES (2,1)"],
    ),
    # a plain INSERT checks its keys against every file of the partition:
    # INSERT..SELECT rows are Spark-written, VALUES rows pyarrow-written
    (
        "unique index on an added column over older files",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, a TEXT)",
        ["INSERT INTO t SELECT 1, 'p'", "INSERT INTO t VALUES (2,'q')",
         "ALTER TABLE t ADD COLUMN b TEXT", "CREATE UNIQUE INDEX ib ON t (b)",
         "INSERT INTO t VALUES (3,'r','x')", "INSERT INTO t VALUES (4,'s','x')",
         "INSERT INTO t VALUES (5,'t',NULL)", "INSERT INTO t SELECT 6, 'u', 'y'",
         "INSERT INTO t VALUES (7,'v','y')"],
    ),
    (
        "nocase and rtrim keys with non-ascii text",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, a TEXT UNIQUE COLLATE NOCASE, "
        "b TEXT UNIQUE COLLATE RTRIM)",
        ["INSERT INTO t SELECT 1, 'Äbc', 'ü '", "INSERT INTO t VALUES (2,'äbc','x')",
         "INSERT INTO t VALUES (3,'ÄBC','y')", "INSERT INTO t VALUES (4,'z','ü')",
         "INSERT INTO t VALUES (5,'w','Ü')", "INSERT INTO t VALUES (6,'v','ü\t')",
         "INSERT INTO t VALUES (7,'ÄbC ','ü  ')"],
    ),
    (
        "double keys 0.0 and -0.0 conflict",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, d REAL UNIQUE)",
        ["INSERT INTO t SELECT 1, 0.0", "INSERT INTO t VALUES (2,-0.0)",
         "INSERT INTO t VALUES (3,-0.5)", "INSERT INTO t SELECT 4, -1.5",
         "INSERT INTO t VALUES (5,-1.5)", "INSERT INTO t VALUES (6,-1.5e0)"],
    ),
    # SQLite table names are case-insensitive on every write statement
    (
        "table names match case-insensitively",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT)",
        ["INSERT INTO T VALUES (1,'x')", "CREATE UNIQUE INDEX iu ON T (b)",
         "INSERT INTO T VALUES (2,'x')", "INSERT INTO \"T\" VALUES (3,'y')",
         "UPDATE T SET b = 'z' WHERE a = 3", "DELETE FROM T WHERE a = 1",
         "INSERT INTO t VALUES (4,'x')", "INSERT INTO T VALUES (4,'w')"],
    ),
    (
        "rename to carries the table's triggers",
        "CREATE TABLE t (n INT); CREATE TABLE x (id INTEGER PRIMARY KEY)",
        ["CREATE TRIGGER tr AFTER INSERT ON x BEGIN INSERT INTO t VALUES (new.id); END",
         "ALTER TABLE x RENAME TO u", "INSERT INTO u VALUES (1)",
         "ALTER TABLE U RENAME TO w", "INSERT INTO W VALUES (2)"],
    ),
    (
        "rename to rewrites trigger bodies that name the table",
        "CREATE TABLE t (n INT); CREATE TABLE x (id INTEGER PRIMARY KEY)",
        ["CREATE TRIGGER tr AFTER INSERT ON x BEGIN INSERT INTO t VALUES (new.id); END",
         "ALTER TABLE t RENAME TO t2", "INSERT INTO x VALUES (1)",
         "ALTER TABLE T2 RENAME TO t", "INSERT INTO x VALUES (2)"],
    ),
    (
        "rename to leaves literals and same-named columns in trigger bodies",
        "CREATE TABLE t (t TEXT, n INT); CREATE TABLE x (id INTEGER PRIMARY KEY)",
        ["CREATE TRIGGER tr AFTER INSERT ON x BEGIN "
         "INSERT INTO t (t, n) VALUES ('t', new.id); "
         "UPDATE t SET n = n * 10 WHERE n = new.id AND t = 't'; END",
         "ALTER TABLE t RENAME TO t2", "INSERT INTO x VALUES (1)",
         "ALTER TABLE t2 RENAME TO t", "INSERT INTO x VALUES (2)"],
    ),
    (
        "rename to leaves an alias named like the table in trigger bodies",
        "CREATE TABLE t (n INT); CREATE TABLE x (id INTEGER PRIMARY KEY); CREATE TABLE log (k INT)",
        ["CREATE TRIGGER tr AFTER INSERT ON x BEGIN "
         "INSERT INTO log SELECT t.id * 10 FROM x AS t WHERE t.id = new.id; "
         "INSERT INTO t SELECT t.k FROM log t WHERE t.k = new.id * 10; END",
         "ALTER TABLE t RENAME TO t2", "INSERT INTO x VALUES (1)",
         "ALTER TABLE t2 RENAME TO t", "INSERT INTO x VALUES (2)"],
    ),
    (
        "drop trigger matches its name case-insensitively",
        "CREATE TABLE t (n INT); CREATE TABLE x (id INT)",
        ["CREATE TRIGGER tr AFTER INSERT ON x BEGIN INSERT INTO t VALUES (new.id); END",
         "INSERT INTO x VALUES (1)", "DROP TRIGGER TR", "INSERT INTO x VALUES (2)"],
    ),
    # An UPDATE or DELETE binds its table name, column collations and
    # subqueries as a SELECT does, and evaluates its SET values before any
    # BEFORE trigger body runs
    (
        "update with table-qualified columns",
        "CREATE TABLE t (n INT, m INT)",
        ["INSERT INTO t VALUES (1, 0), (2, 0)", "UPDATE t SET m = t.n * 10 WHERE t.n = 1"],
    ),
    (
        "delete with a table-qualified column",
        "CREATE TABLE t (n INT, m INT)",
        ["INSERT INTO t VALUES (1, 0), (2, 0)", "DELETE FROM t WHERE t.n = 2"],
    ),
    (
        "triggered update with table-qualified columns",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INT); CREATE TABLE log (k INT)",
        ["INSERT INTO t VALUES (1, 1), (2, 2)",
         "CREATE TRIGGER a AFTER UPDATE ON t BEGIN INSERT INTO log VALUES (new.id); END",
         "UPDATE t SET v = t.id * 3 WHERE t.id = 2"],
    ),
    (
        "update returning with a table-qualified column",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INT)",
        ["INSERT INTO t VALUES (1, 1), (2, 2)", "UPDATE t SET v = 9 WHERE t.id = 2 RETURNING id"],
    ),
    (
        "trigger body with table-qualified columns",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INT); CREATE TABLE log (k INT)",
        ["INSERT INTO t VALUES (1, 1), (2, 2)",
         "CREATE TRIGGER a AFTER INSERT ON log BEGIN "
         "UPDATE t SET v = t.v + 10 WHERE t.id = new.k; END",
         "INSERT INTO log VALUES (2)"],
    ),
    (
        "nocase column in an update where",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, name TEXT COLLATE NOCASE, v INT)",
        ["INSERT INTO t VALUES (1, 'alpha', 0), (2, 'beta', 0)",
         "UPDATE t SET v = 1 WHERE name = 'ALPHA'"],
    ),
    (
        "nocase column in a delete where",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, name TEXT COLLATE NOCASE, v INT)",
        ["INSERT INTO t VALUES (1, 'alpha', 0), (2, 'beta', 0)",
         "DELETE FROM t WHERE name = 'ALPHA'"],
    ),
    (
        "triggered delete with a subquery where",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INT); CREATE TABLE k (x INT); "
        "CREATE TABLE log (k INT)",
        ["INSERT INTO t VALUES (1, 1), (2, 2), (3, 3)", "INSERT INTO k VALUES (2), (3)",
         "CREATE TRIGGER a AFTER DELETE ON t BEGIN INSERT INTO log VALUES (old.id); END",
         "DELETE FROM t WHERE id IN (SELECT x FROM k)"],
    ),
    (
        "triggered update with a subquery where",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INT); CREATE TABLE k (x INT); "
        "CREATE TABLE log (k INT)",
        ["INSERT INTO t VALUES (1, 1), (2, 2), (3, 3)", "INSERT INTO k VALUES (2), (3)",
         "CREATE TRIGGER a AFTER UPDATE ON t BEGIN INSERT INTO log VALUES (new.id); END",
         "UPDATE t SET v = v * 100 WHERE id IN (SELECT x FROM k)"],
    ),
    (
        "set value computed before the before trigger body",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INT); CREATE TABLE log (k INT)",
        ["INSERT INTO t VALUES (1, 1), (2, 2)",
         "CREATE TRIGGER b BEFORE UPDATE ON t BEGIN INSERT INTO log VALUES (NEW.id); END",
         "UPDATE t SET v = (SELECT count(*) FROM log) + 10 WHERE id = 1"],
    ),
]


@pytest.mark.parametrize("case", CASES, ids=[c[0].replace(" ", "_") for c in CASES])
def test_unique_constraints_match_sqlite(spark, tmp_path, case):
    _run_differential(spark, tmp_path, *case)


def test_unknown_collation_rejected_at_ddl(spark, tmp_path):
    store = SegmentStore(spark, str(tmp_path / "st"))
    with pytest.raises(QueryRejected, match="no such collation sequence: WAT"):
        store.set_schema("s", "CREATE TABLE t (a TEXT COLLATE WAT);")


def test_schema_level_unique_index_enforced(spark, tmp_path):
    store = SegmentStore(spark, str(tmp_path / "st"))
    store.set_schema(
        "s",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT);\n"
        "CREATE UNIQUE INDEX iu ON t (b COLLATE NOCASE);",
    )
    store.provision("seg", "s")
    store.write("seg", "INSERT INTO t VALUES (1,'Xy')")
    with pytest.raises(QueryRejected, match="UNIQUE constraint failed: t.b"):
        store.write("seg", "INSERT INTO t VALUES (2,'xY')")
    # the index is the segment's own, so dropping it works as in SQLite
    _run_differential(
        spark,
        tmp_path,
        "drop schema-level unique index",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT);"
        "CREATE UNIQUE INDEX iu ON t (b COLLATE NOCASE)",
        ["INSERT INTO t VALUES (1,'Xy')", "INSERT INTO t VALUES (2,'xY')",
         "DROP INDEX iu", "INSERT INTO t VALUES (3,'xY')"],
    )


def test_write_path_unique_index_lifecycle(spark, tmp_path):
    store = SegmentStore(spark, str(tmp_path / "st"))
    store.set_schema("s", "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT);")
    store.provision("seg", "s")
    store.write("seg", "INSERT INTO t VALUES (1,'x'), (2,'x')")
    # over existing duplicates: fails like SQLite
    with pytest.raises(QueryRejected, match="UNIQUE constraint failed: t.b"):
        store.write("seg", "CREATE UNIQUE INDEX iu ON t (b)")
    store.write("seg", "DELETE FROM t WHERE a = 2")
    store.write("seg", "CREATE UNIQUE INDEX iu ON t (b)")
    with pytest.raises(QueryRejected, match="UNIQUE constraint failed: t.b"):
        store.write("seg", "INSERT INTO t VALUES (3,'x')")
    # constraint survives a store reopen (persisted in segment meta)
    store2 = SegmentStore(spark, str(tmp_path / "st"))
    with pytest.raises(QueryRejected, match="UNIQUE constraint failed: t.b"):
        store2.write("seg", "INSERT INTO t VALUES (3,'x')")
    store2.write("seg", "DROP INDEX iu")
    store2.write("seg", "INSERT INTO t VALUES (3,'x')")  # constraint gone
    rows = sorted(d["a"] for d in store2.read("seg", "SELECT * FROM t"))
    assert rows == [1, 3]


def test_alter_column_errors(spark, tmp_path):
    """SQLite's messages for a refused DROP COLUMN, and a refusal, before
    anything changes, where a rename or drop would leave a CHECK,
    generated column, trigger or view naming a missing column."""
    store = SegmentStore(spark, str(tmp_path / "st"))
    store.set_schema(
        "s",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE, c INT CHECK (c > 0),"
        " d INT, e INT AS (d * 2), f INT, g INT, h INT, i INT, UNIQUE (f, h));"
        "CREATE TABLE log (n INT);"
        "CREATE TRIGGER tr AFTER INSERT ON t BEGIN INSERT INTO log VALUES (NEW.g); END;"
        "CREATE VIEW v AS SELECT i FROM t;",
    )
    store.provision("seg", "s")
    store.write("seg", "INSERT INTO t (a, b, c, d, f, g, h, i) VALUES (1, 'x', 1, 2, 3, 4, 5, 6)")
    refused = {
        "DROP COLUMN a": 'cannot drop PRIMARY KEY column: "a"',
        "DROP COLUMN b": 'cannot drop UNIQUE column: "b"',
        "DROP COLUMN c": "error in table t after drop column: no such column: c",
        "DROP COLUMN d": "error in table t after drop column: no such column: d",
        "DROP COLUMN f": "error in table t after drop column: no such column: f",
        "DROP COLUMN g": "error in trigger tr after drop column: no such column: g",
        "DROP COLUMN zz": 'no such column: "zz"',
        "RENAME COLUMN c TO c2": "RENAME COLUMN c is not supported: table t refers to it",
        "RENAME COLUMN d TO d2": "RENAME COLUMN d is not supported: table t refers to it",
        "RENAME COLUMN g TO g2": "RENAME COLUMN g is not supported: trigger tr refers to it",
        "RENAME COLUMN b TO a": "error in table t after rename: duplicate column name: a",
    }
    before = store.read("seg", "PRAGMA table_info(t)")
    for alter, message in refused.items():
        with pytest.raises(QueryRejected) as e:
            store.write("seg", f"ALTER TABLE t {alter}")
        assert str(e.value) == message
    store.write("seg", "CREATE UNIQUE INDEX ig ON t (g)")
    with pytest.raises(QueryRejected, match="error in index ig after drop column"):
        store.write("seg", "ALTER TABLE t DROP COLUMN g")
    with pytest.raises(QueryRejected, match="error in view v after drop column"):
        store.write("seg", "ALTER TABLE t DROP COLUMN i")
    assert store.read("seg", "PRAGMA table_info(t)") == before
    assert store.read("seg", "SELECT * FROM t") == [
        {"a": 1, "b": "x", "c": 1, "d": 2, "e": 4, "f": 3, "g": 4, "h": 5, "i": 6}
    ]


def test_partial_and_expression_unique_indexes_rejected(spark, tmp_path):
    store = SegmentStore(spark, str(tmp_path / "st"))
    store.set_schema("s", "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT);")
    store.provision("seg", "s")
    with pytest.raises(QueryRejected, match="partial UNIQUE INDEX"):
        store.write("seg", "CREATE UNIQUE INDEX px ON t (b) WHERE a > 0")
    with pytest.raises(QueryRejected, match="expression entries"):
        store.write("seg", "CREATE UNIQUE INDEX ex ON t (lower(b))")
    # plain index forms stay no-ops, including expressions
    store.write("seg", "CREATE INDEX ip ON t (lower(b))")
    store.write("seg", "DROP INDEX ip")


def test_update_or_modes_rejected_with_unique(spark, tmp_path):
    store = SegmentStore(spark, str(tmp_path / "st"))
    store.set_schema(
        "s", "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE);"
    )
    store.provision("seg", "s")
    store.write("seg", "INSERT INTO t VALUES (1,'x')")
    with pytest.raises(QueryRejected, match="UNIQUE constraints"):
        store.write("seg", "UPDATE OR IGNORE t SET a = a + 1")


def test_triggers_with_unique_constraints(spark, tmp_path):
    """Triggered INSERTs on UNIQUE-constrained tables (round 10 — was a
    loud reject): plain inserts fire and enforce the UNIQUE at flush;
    UNIQUE-only conflicts resolve per mode with the probed trigger
    interplay (differential parity in test_dialect_fuzz).  Triggered
    UPDATE on such tables and pk-less variants stay loud rejects."""
    store = SegmentStore(spark, str(tmp_path / "st"))
    store.set_schema(
        "s",
        "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE, v INT);\n"
        "CREATE TABLE log (n INT);\n"
        "CREATE TRIGGER trg AFTER INSERT ON t BEGIN "
        "INSERT INTO log VALUES (NEW.a); END;",
    )
    store.provision("seg", "s")
    store.write("seg", "INSERT INTO t VALUES (1,'x',10)")
    store.write("seg", "INSERT INTO t VALUES (2,'y',20)")
    assert sorted(r["n"] for r in store.read("seg", "SELECT n FROM log")) == [1, 2]
    # plain dup on the UNIQUE raises (script rolls back, no log row)
    with pytest.raises(Exception, match="UNIQUE"):
        store.write("seg", "INSERT INTO t VALUES (9,'x',99)")
    # OR REPLACE on the UNIQUE deletes the conflicting row silently and
    # fires the INSERT triggers for the new row only (probed)
    store.write("seg", "INSERT OR REPLACE INTO t VALUES (9,'x',99)")
    assert {(r["a"], r["b"]) for r in store.read("seg", "SELECT a, b FROM t")} == {
        (2, "y"),
        (9, "x"),
    }
    assert sorted(r["n"] for r in store.read("seg", "SELECT n FROM log")) == [1, 2, 9]
    # OR IGNORE on the UNIQUE fires BEFORE-only semantics (no AFTER log)
    store.write("seg", "INSERT OR IGNORE INTO t VALUES (7,'y',70)")
    assert sorted(r["a"] for r in store.read("seg", "SELECT a FROM t")) == [2, 9]
    # triggered UPDATE on a UNIQUE-constrained table stays a loud reject
    with pytest.raises(QueryRejected, match="triggers and UNIQUE"):
        store.write(
            "seg",
            "CREATE TRIGGER tu AFTER UPDATE ON t BEGIN "
            "INSERT INTO log VALUES (-1); END;\n"
            "UPDATE t SET v = 0 WHERE a = 2",
        )


def test_unique_fast_path_unchanged_for_binary_pk(spark, tmp_path):
    """Tables with ONLY a binary pk keep the batch upsert path (no
    driver-side collect): spot-check OR REPLACE still works and the
    sequential resolver is not invoked (monkeypatch sentinel)."""
    store = SegmentStore(spark, str(tmp_path / "st"))
    store.set_schema("s", "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT);")
    store.provision("seg", "s")
    calls = []
    orig = store._conflict_rows_sequential
    store._conflict_rows_sequential = lambda *a, **k: calls.append(1) or orig(*a, **k)
    store.write("seg", "INSERT INTO t VALUES (1,'x')")
    store.write("seg", "INSERT OR REPLACE INTO t VALUES (1,'y')")
    assert not calls, "binary-pk table took the sequential path"
    assert store.read("seg", "SELECT * FROM t") == [{"a": 1, "b": "y"}]


def test_read_path_column_collations(spark, tmp_path):
    """SQLite uses the COLUMN's collation for bare =, IN, DISTINCT and
    ORDER BY; the registered views carry the matching Spark collation
    (NOCASE -> UTF8_LCASE, RTRIM -> UTF8_BINARY_RTRIM) so Catalyst applies
    it everywhere.  Differential vs live SQLite."""
    ddl = (
        "CREATE TABLE t (name TEXT PRIMARY KEY COLLATE NOCASE, v INT);"
        "CREATE TABLE r (s TEXT COLLATE RTRIM, n INT)"
    )
    seed = [
        "INSERT INTO t VALUES ('Alpha', 3)",
        "INSERT INTO t VALUES ('beta', 1)",
        "INSERT INTO r VALUES ('a  ', 1)",
        "INSERT INTO r VALUES ('b', 2)",
    ]
    con = sqlite3.connect(":memory:")
    for d in ddl.split(";"):
        con.execute(d)
    for s in seed:
        con.execute(s)
    store = SegmentStore(spark, str(tmp_path / "st"))
    store.set_schema("s", ddl + ";")
    store.provision("seg", "s")
    for s in seed:
        store.write("seg", s)
    queries = [
        "SELECT v FROM t WHERE name = 'aLpHa'",
        "SELECT count(*) AS n FROM t WHERE name IN ('ALPHA', 'BETA')",
        "SELECT name FROM t ORDER BY name",
        "SELECT count(DISTINCT name) AS d FROM t",
        "SELECT n FROM r WHERE s = 'a'",
        "SELECT count(*) AS n FROM r WHERE s = 'b   '",
    ]
    for q in queries:
        sq = [tuple(r) for r in con.execute(q).fetchall()]
        en = [tuple(d[k] for k in d) for d in store.read("seg", q)]
        assert sq == en, f"{q}: sqlite={sq} engine={en}"


def test_alter_add_column_constraint_rejects(spark, tmp_path):
    store = SegmentStore(spark, str(tmp_path / "st"))
    store.set_schema("s", "CREATE TABLE t (a INT);")
    store.provision("seg", "s")
    with pytest.raises(QueryRejected, match="Cannot add a UNIQUE column"):
        store.write("seg", "ALTER TABLE t ADD COLUMN u TEXT UNIQUE")
    with pytest.raises(QueryRejected, match="Cannot add a PRIMARY KEY column"):
        store.write("seg", "ALTER TABLE t ADD COLUMN p TEXT PRIMARY KEY")
    # COLLATE on an added column is legal and participates in later
    # unique indexes (SQLite)
    store.write("seg", "ALTER TABLE t ADD COLUMN c TEXT COLLATE NOCASE")
    store.write("seg", "INSERT INTO t VALUES (1, 'Xy')")
    store.write("seg", "CREATE UNIQUE INDEX iu ON t (c)")
    with pytest.raises(QueryRejected, match="UNIQUE constraint failed: t.c"):
        store.write("seg", "INSERT INTO t VALUES (2, 'xY')")


def test_merge_asserts_unique_state(spark, tmp_path):
    store = SegmentStore(spark, str(tmp_path / "st"))
    store.set_schema(
        "s", "CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT UNIQUE);"
    )
    store.provision("seg", "s")
    store.write("seg", "INSERT INTO t VALUES (1,'x'), (2,'y')")
    src = spark.createDataFrame([(2, "x")], "a long, b string")
    with pytest.raises(QueryRejected, match="UNIQUE constraint failed: t.b"):
        store.merge("seg", "t", src)
