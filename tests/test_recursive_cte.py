"""WITH RECURSIVE parsing: the statement splits into its name, column list,
base and step SELECTs (at the body's last top-level UNION [ALL]) and the
outer SELECT.  The live fixpoint is checked against SQLite in
test_sqlite_differential.py; these cases pin the parse without a session."""

from __future__ import annotations

import pytest

from trough_spark.dialect import QueryRejected
from trough_spark.store import _parse_recursive_cte


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
    ],
)
def test_parse_recursive_cte_rejects(sql, message):
    with pytest.raises(QueryRejected, match=message):
        _parse_recursive_cte(sql)
