"""WITH RECURSIVE parsing: the statement splits into its name, column list,
base and step SELECTs (at the body's last top-level UNION [ALL]) and the
outer SELECT.  The live fixpoint is checked against SQLite in
test_sqlite_differential.py; these cases pin the parse without a session,
except for CTEs that follow the recursive one, whose rows are checked
against live SQLite here."""

from __future__ import annotations

import sqlite3

import pytest

from trough_spark.dialect import QueryRejected
from trough_spark.store import SegmentStore, _parse_recursive_cte


def _squash(sql: str) -> str:
    # the parser re-renders body tokens with single spaces between them
    return "".join(sql.split())


@pytest.mark.parametrize(
    "sql, name, cols, base, step, union_all",
    [
        (
            "WITH RECURSIVE up(id, depth) AS (SELECT id, 0 FROM nodes WHERE id = 5 "
            "UNION ALL SELECT n.parent, up.depth + 1 FROM nodes n JOIN up ON n.id = up.id) "
            "SELECT id, depth FROM up",
            "up",
            ["id", "depth"],
            "SELECT id, 0 FROM nodes WHERE id = 5",
            "SELECT n.parent, up.depth + 1 FROM nodes n JOIN up ON n.id = up.id",
            True,
        ),
        (
            # no column list; a literal holding a comma and UNION stays whole
            "WITH RECURSIVE c AS (SELECT 1 AS x, 'a, UNION b' AS y UNION "
            "SELECT x + 1, y FROM c WHERE x < 3) SELECT * FROM c",
            "c",
            [],
            "SELECT 1 AS x, 'a, UNION b' AS y",
            "SELECT x + 1, y FROM c WHERE x < 3",
            False,
        ),
        (
            # quoted names; a UNION inside a subquery does not split the body
            'WITH RECURSIVE "c"("x", y) AS (SELECT 1, 2 UNION ALL SELECT x + 1, '
            "(SELECT max(v) FROM (SELECT 1 AS v UNION SELECT 2)) FROM c WHERE x < 3) "
            "SELECT x FROM c",
            "c",
            ["x", "y"],
            "SELECT 1, 2",
            "SELECT x + 1, (SELECT max(v) FROM (SELECT 1 AS v UNION SELECT 2)) "
            "FROM c WHERE x < 3",
            True,
        ),
        (
            # comments in the body are dropped, not split on
            "WITH RECURSIVE c(x) AS (SELECT 1 /* a, b */ UNION ALL -- step\n"
            " SELECT x + 1 FROM c WHERE x < 3) SELECT x FROM c",
            "c",
            ["x"],
            "SELECT 1",
            "SELECT x + 1 FROM c WHERE x < 3",
            True,
        ),
        (
            # three columns, one of them a CASE with commas in its arguments
            "WITH RECURSIVE f(n, a, b) AS (SELECT 0, 0, 1 UNION ALL SELECT n + 1, b, "
            "CASE WHEN n % 2 = 0 THEN coalesce(a + b, 0) ELSE a + b END FROM f "
            "WHERE n < 10) SELECT n, a FROM f",
            "f",
            ["n", "a", "b"],
            "SELECT 0, 0, 1",
            "SELECT n + 1, b, CASE WHEN n % 2 = 0 THEN coalesce(a + b, 0) "
            "ELSE a + b END FROM f WHERE n < 10",
            True,
        ),
    ],
)
def test_parse_recursive_cte(sql, name, cols, base, step, union_all):
    rec = _parse_recursive_cte(sql)
    assert rec.name == name
    assert rec.cols == cols
    assert _squash(rec.base_sql) == _squash(base)
    assert _squash(rec.step_sql) == _squash(step)
    assert rec.union_all is union_all
    assert rec.outer_sql == sql[sql.rindex(")") + 1 :].strip()


@pytest.mark.parametrize(
    "sql", ["WITH c(x) AS (SELECT 1) SELECT x FROM c", "SELECT 1"]
)
def test_parse_recursive_cte_ignores_other_statements(sql):
    assert _parse_recursive_cte(sql) is None


@pytest.mark.parametrize(
    "sql, message",
    [
        (
            "WITH RECURSIVE c(x) (SELECT 1 UNION ALL SELECT x + 1 FROM c) SELECT x FROM c",
            "unsupported WITH RECURSIVE form",
        ),
        (
            "WITH RECURSIVE c(x) AS SELECT 1 UNION ALL SELECT x + 1 FROM c",
            "unsupported WITH RECURSIVE form",
        ),
        (
            "WITH RECURSIVE c(x) AS (SELECT 1 UNION ALL SELECT x + 1 FROM c)",
            "without an outer SELECT",
        ),
        (
            "WITH RECURSIVE c(x) AS (SELECT 1) SELECT x FROM c",
            "must be 'base UNION",
        ),
        (
            "WITH RECURSIVE c(x) AS (SELECT 1 UNION ALL SELECT (x + 1 FROM c SELECT x FROM c",
            "unbalanced parentheses",
        ),
        (
            "WITH RECURSIVE c(x) AS (SELECT y FROM d UNION ALL SELECT x + 1 FROM c "
            "WHERE x < 3), d AS (SELECT 7 AS y) SELECT x FROM c",
            "names a later CTE",
        ),
    ],
)
def test_parse_recursive_cte_rejects(sql, message):
    with pytest.raises(QueryRejected, match=message):
        _parse_recursive_cte(sql)


_LATER_CTE = (
    "WITH RECURSIVE c(x) AS (SELECT 1 UNION ALL SELECT x + 1 FROM c WHERE x < 3), "
)


def test_parse_ctes_after_the_recursive_one():
    rec = _parse_recursive_cte(_LATER_CTE + "d AS (SELECT 7 AS y) SELECT x, y FROM c, d")
    assert (rec.name, _squash(rec.step_sql)) == ("c", "SELECTx+1FROMcWHEREx<3")
    assert rec.outer_sql == "WITH d AS (SELECT 7 AS y) SELECT x, y FROM c, d"
    # only a name in table position is a reference to a later CTE
    rec = _parse_recursive_cte(_LATER_CTE + "x AS (SELECT 7 AS y) SELECT y FROM x")
    assert rec.outer_sql == "WITH x AS (SELECT 7 AS y) SELECT y FROM x"


@pytest.mark.parametrize(
    "later",
    [
        "d AS (SELECT 7 AS y) SELECT x, y FROM c, d ORDER BY x",
        "d(y) AS (SELECT max(x) FROM c), e AS (SELECT 1) SELECT x, y FROM c, d ORDER BY x",
        # a later CTE named like the column the recursive body reads
        "x AS (SELECT 7 AS y) SELECT c.x, y FROM c, x ORDER BY c.x",
    ],
)
def test_ctes_after_the_recursive_one_match_sqlite(spark, tmp_path, later):
    sql = _LATER_CTE + later
    want = sqlite3.connect(":memory:").execute(sql).fetchall()
    store = SegmentStore(spark, str(tmp_path / "store"))
    store.set_schema("s", "CREATE TABLE t (a INTEGER);")
    store.provision("seg", "s")
    assert len(want) == 3
    assert [tuple(r.values()) for r in store.read("seg", sql)] == want
