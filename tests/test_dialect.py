"""Unit tests for the SQLite→Spark dialect shim — one per SURVEY §2.B rewrite."""

from __future__ import annotations

import datetime as dt

import pytest

from trough_spark import dialect
from trough_spark.dialect import QueryRejected


def test_split_statements_string_safe():
    stmts = dialect.split_statements(
        "INSERT INTO t VALUES ('a;b');\n-- c;\nSELECT 1; /* x; */ SELECT 2"
    )
    assert len(stmts) == 3
    assert stmts[0] == "INSERT INTO t VALUES ('a;b')"


def test_select_gate_accepts_single_select():
    assert dialect.assert_single_select("SELECT * FROM t") == "SELECT * FROM t"
    assert dialect.assert_single_select("WITH x AS (SELECT 1) SELECT * FROM x")


def test_select_gate_rejects_multi_and_nonselect():
    # reference: tests/test_read.py:57-74
    with pytest.raises(QueryRejected):
        dialect.assert_single_select("SELECT 1; SELECT 2")
    with pytest.raises(QueryRejected):
        dialect.assert_single_select("DROP TABLE t")
    with pytest.raises(QueryRejected):
        dialect.assert_single_select("INSERT INTO t VALUES (1)")


def test_write_gate():
    # reference: tests/test_write.py:14-36
    with pytest.raises(QueryRejected):
        dialect.assert_write_allowed("")
    with pytest.raises(QueryRejected):
        dialect.assert_write_allowed("SELECT * FROM t")
    assert len(dialect.assert_write_allowed("INSERT INTO t VALUES (1); DELETE FROM t")) == 2


def test_bind_names_prefix_shadowing_and_quoting():
    views = {"items": "v1", "u": "v2", "kv": "v3", "t2": "v4", "we`ird": "v5"}

    def bind(sql):
        return dialect.bind_names(sql, views.get, "__r_")

    # every bound name gets one definition; literals and comments bind none
    assert bind("SELECT a.x, 'kv' FROM `Items` a JOIN [u] ON a.id = u.id -- t2") == (
        "WITH `items` AS (SELECT * FROM `v1`), `u` AS (SELECT * FROM `v2`) "
        "SELECT a.x, 'kv' FROM `Items` a JOIN [u] ON a.id = u.id -- t2"
    )
    assert bind("SELECT 1") == "SELECT 1"
    assert bind("SELECT * FROM `we``ird`").startswith(
        "WITH `we``ird` AS (SELECT * FROM `v5`) "
    )
    # merged into the statement's own WITH list, minus the names it defines;
    # a nested CTE shadows ours inside its scope only
    assert bind(
        "/* c */ with kv AS (SELECT * FROM t2) "
        "SELECT * FROM kv, (WITH u AS (SELECT 1) SELECT * FROM u)"
    ) == (
        "/* c */ with `t2` AS (SELECT * FROM `v4`), `u` AS (SELECT * FROM `v2`), "
        "kv AS (SELECT * FROM t2) SELECT * FROM kv, (WITH u AS (SELECT 1) SELECT * FROM u)"
    )
    assert bind("WITH RECURSIVE c(x) AS (SELECT 1 FROM t2) SELECT * FROM c") == (
        "WITH RECURSIVE `t2` AS (SELECT * FROM `v4`), "
        "c(x) AS (SELECT 1 FROM t2) SELECT * FROM c"
    )
    for sql in ("SELECT * FROM __r_x", 'SELECT * FROM "__R_X"', "SELECT __r_1.a FROM t"):
        with pytest.raises(QueryRejected):
            bind(sql)


@pytest.mark.parametrize(
    "sql, renamed",
    [
        ("INSERT INTO t VALUES (new.id)", 'INSERT INTO "t2" VALUES (new.id)'),
        # column lists, same-named columns, literals and comments stay
        (
            "INSERT INTO T (t, n) VALUES ('t', 1) -- t",
            """INSERT INTO "t2" (t, n) VALUES ('t', 1) -- t""",
        ),
        # qualifiers, UPDATE OR <action>, a comma in a FROM list
        (
            'UPDATE OR IGNORE "t" SET n = t.n + 1 WHERE x.t IN (SELECT t.n FROM x, [t])',
            'UPDATE OR IGNORE "t2" SET n = "t2".n + 1 WHERE x.t IN (SELECT "t2".n FROM x, "t2")',
        ),
        # a function named like the table, and a comma outside FROM
        (
            "DELETE FROM t WHERE n = t(1); INSERT INTO x SELECT a, t FROM y JOIN t ON y.a = 1",
            'DELETE FROM "t2" WHERE n = t(1); INSERT INTO x SELECT a, t FROM y JOIN "t2" ON y.a = 1',
        ),
        # a qualifier naming another table's alias, with AS or without,
        # stays; the next statement's qualifiers are the table's again
        (
            "INSERT INTO log SELECT t.n FROM x AS t; DELETE FROM log WHERE k IN "
            "(SELECT t.n FROM x t); UPDATE log SET k = (SELECT t.n FROM t)",
            'INSERT INTO log SELECT t.n FROM x AS t; DELETE FROM log WHERE k IN '
            '(SELECT t.n FROM x t); UPDATE log SET k = (SELECT "t2".n FROM "t2")',
        ),
    ],
)
def test_rename_table_respells_table_references_only(sql, renamed):
    assert dialect.rename_table(sql, "t", "t2") == renamed


def test_like_becomes_ilike():
    assert "ILIKE" in dialect.sqlite_to_spark("SELECT * FROM t WHERE a LIKE 'x%'")


def test_glob_translation():
    out = dialect.sqlite_to_spark("SELECT * FROM t WHERE a GLOB 'ab*c?'")
    assert "RLIKE" in out and "^ab.*c.$" in out
    # the range start appears twice ([00-9]) because SQLite also tests it
    # as a literal member — semantically identical for a well-ordered range
    assert dialect.glob_to_regex("a[0-9]b") == "^a[00-9]b$"
    # SQLite class corner semantics (pinned by live-probe battery):
    # inverted range = nothing, range start = literal, unclosed = no match
    import re as _re

    assert _re.fullmatch(dialect.glob_to_regex("[b-a]")[1:-1], "b")
    assert not _re.fullmatch(dialect.glob_to_regex("[b-a]")[1:-1], "a")
    assert not _re.fullmatch(dialect.glob_to_regex("x[")[1:-1], "x[")
    assert _re.fullmatch(dialect.glob_to_regex("[]a]")[1:-1], "]")


def test_regexp_operator_and_function():
    assert "RLIKE" in dialect.sqlite_to_spark("SELECT * FROM t WHERE a REGEXP 'x'")
    out = dialect.sqlite_to_spark("SELECT * FROM t WHERE REGEXP('x', a)")
    assert "RLIKE" in out  # function form: REGEXP(pattern, item) → item RLIKE pattern


def test_seedcrawledstatus_expansion():
    out = dialect.sqlite_to_spark("SELECT SEEDCRAWLEDSTATUS(code) FROM t")
    assert "CASE WHEN" in out and "Redirected" in out and "blocked by robots" in out


def test_group_concat_and_total():
    out = dialect.sqlite_to_spark("SELECT group_concat(a), total(b) FROM t")
    assert "concat_ws(',', collect_list(a))" in out
    assert "coalesce(sum(CAST(b AS DOUBLE)), 0.0d)" in out
    out2 = dialect.sqlite_to_spark("SELECT group_concat(a, '|') FROM t")
    assert "concat_ws('|', collect_list(a))" in out2


def test_datetime_family(spark):
    assert "current_timestamp()" in dialect.sqlite_to_spark("SELECT datetime('now')")
    # strftime translates to per-directive date_format pieces; pin semantics
    out = dialect.sqlite_to_spark("SELECT strftime('%Y-%m-%d', '2024-01-15 10:30:00') AS v")
    assert spark.sql(out).collect()[0].v == "2024-01-15"
    out = dialect.sqlite_to_spark("SELECT datetime(c, '+1 day') FROM t")
    assert "INTERVAL +1 DAY" in out
    assert "2440587.5" in dialect.sqlite_to_spark("SELECT julianday(c) FROM t")


def test_scalar_min_max_and_trim():
    out = dialect.sqlite_to_spark("SELECT min(a, b), max(a, b, c) FROM t")
    # round 6: args bound once via named_struct, then least/greatest over
    # the struct fields (NULL-strict, single evaluation)
    assert "least(_s.c0, _s.c1)" in out and "named_struct('c0', a, 'c1', b)" in out
    assert "greatest(_s.c0, _s.c1, _s.c2)" in out
    # 1-arg stays an aggregate
    assert "min(a)" in dialect.sqlite_to_spark("SELECT min(a) FROM t")
    assert "trim(BOTH 'x' FROM a)" in dialect.sqlite_to_spark("SELECT trim(a, 'x') FROM t")


def test_double_quoted_identifiers():
    assert "`my col`" in dialect.sqlite_to_spark('SELECT "my col" FROM t')
    assert "`br`" in dialect.sqlite_to_spark("SELECT [br] FROM t")


def test_nested_function_rewrites():
    out = dialect.sqlite_to_spark("SELECT ifnull(group_concat(a), printf('%d', 0)) FROM t")
    # round 9: group_concat gained the count-guard (NULL over zero non-NULL
    # values, like SQLite) — the concat_ws stays inside it
    assert (
        "coalesce(CASE WHEN count(a) = 0 THEN NULL "
        "ELSE concat_ws(',', collect_list(a)) END, format_string('%d', 0))" in out
    )


def test_identity_args_do_not_block_outer_rewrites():
    """Regression: an arg containing substr/instr/1-arg min must not keep
    the ENCLOSING call untranslated (innermost-first used to deadlock)."""
    out = dialect.sqlite_to_spark("SELECT group_concat(substr(x, 1, 1)) FROM t")
    assert "collect_list(substr(x, 1, 1))" in out
    # SQLite 1-arg log is base-10 even when its arg is an identity call
    out = dialect.sqlite_to_spark("SELECT log(substr(x, 1, 3)) FROM t")
    assert "log10(substr(x, 1, 3))" in out
    out = dialect.sqlite_to_spark("SELECT total(min(a)) FROM t")
    assert "sum(CAST(min(a) AS DOUBLE))" in out
    # typeof's template mentions typeof — must expand exactly once
    out = dialect.sqlite_to_spark("SELECT typeof(x) FROM t")
    assert out.count("CASE WHEN typeof") == 1


def test_sql_value_encoding():
    # reference client.py:110-131 semantics
    assert dialect.sql_value(None) == "null"
    assert dialect.sql_value(True) == "1" and dialect.sql_value(False) == "0"
    assert dialect.sql_value(5) == "5"
    assert dialect.sql_value("o'brien") == "'o''brien'"
    assert dialect.sql_value(dt.datetime(2024, 1, 2, 3, 4, 5)).startswith("timestamp'")
    assert dialect.interpolate("SELECT * FROM t WHERE a = %s AND b = %s", ["x", 2]).endswith(
        "a = 'x' AND b = 2"
    )


def test_isnull_notnull():
    assert "IS NULL" in dialect.sqlite_to_spark("SELECT * FROM t WHERE a ISNULL")
    assert "IS NOT NULL" in dialect.sqlite_to_spark("SELECT * FROM t WHERE a NOTNULL")


def test_cast_type_mapping():
    out = dialect.sqlite_to_spark("SELECT CAST(a AS TEXT), CAST(b AS INTEGER) FROM t")
    assert "AS STRING" in out and "AS BIGINT" in out
    out = dialect.sqlite_to_spark("SELECT CAST(x AS REAL) FROM t WHERE CAST(y AS BLOB) IS NULL")
    assert "AS DOUBLE" in out and "AS BINARY" in out
    # aliases must NOT be rewritten
    out = dialect.sqlite_to_spark("SELECT a AS TEXT FROM t")
    assert "AS TEXT" in out
    # nested expressions inside CAST
    out = dialect.sqlite_to_spark("SELECT CAST(substr(a, 1, 2) AS TEXT) FROM t")
    assert "AS STRING" in out


def test_iif_rewrites_to_if():
    out = dialect.sqlite_to_spark("SELECT iif(a > 1, 'big', 'small') FROM t")
    assert "if(a > 1, 'big', 'small')" in out.replace("  ", " ")


def test_modern_sqlite_function_mappings(spark):
    # SQLite 3.38-3.44 additions: this container's sqlite3 (3.40) cannot run
    # them, so the mapping is pinned here and executed on Spark directly.
    out = dialect.sqlite_to_spark("SELECT concat('a', NULL, 'b') AS v")
    assert "concat_ws(''," in out
    # concat skips NULLs (SQLite semantics), unlike Spark's native concat
    assert spark.sql(out).collect()[0].v == "ab"

    out = dialect.sqlite_to_spark("SELECT unixepoch('2024-01-15 10:30:00') AS v")
    assert spark.sql(out).collect()[0].v == 1705314600

    out = dialect.sqlite_to_spark("SELECT string_agg(c, ',') AS v FROM (SELECT 'x' AS c UNION ALL SELECT 'y' ORDER BY c)")
    assert "collect_list" in out


def test_strftime_344_directives_and_embedded_specials(spark):
    # 3.44 directives (%F/%R/%T/%I/%p) can't run on this container's sqlite
    # (3.40) — execute the translation on Spark and pin the rendering
    out = dialect.sqlite_to_spark(
        "SELECT strftime('%F %R %T %I %p', '2024-01-15 14:30:05') AS v"
    )
    assert spark.sql(out).collect()[0].v == "2024-01-15 14:30 14:30:05 02 PM"
    # %s and %w embedded in larger formats concat around date_format pieces
    out = dialect.sqlite_to_spark(
        "SELECT strftime('day %w of %Y', '2024-01-15 00:00:00') AS v"
    )
    assert spark.sql(out).collect()[0].v == "day 1 of 2024"


def test_advice_r4_dialect_fixes(spark):
    """Three ADVICE r4 items pinned: (1) strftime format literals with
    SQL-escaped quotes render one apostrophe, not two; (2) likely() with a
    parenthesized boolean argument still casts to INT (SQLite returns 0/1);
    (3, lifted in round 6) month-modifier chains bind the base once per
    step via a transform() lambda, so arbitrarily long chains translate
    with linear growth."""
    out = dialect.sqlite_to_spark(
        "SELECT strftime('%Y''s end', '2024-01-15 10:30:00') AS v"
    )
    assert spark.sql(out).collect()[0].v == "2024's end"

    out = dialect.sqlite_to_spark("SELECT likely((1 = 1)) AS v")
    row = spark.sql(out).collect()[0]
    assert row.v == 1 and not isinstance(row.v, bool)

    out = dialect.sqlite_to_spark(
        "SELECT datetime('2024-01-31 00:00:00', '+1 month', '+1 month') AS v"
    )
    assert str(spark.sql(out).collect()[0].v) == "2024-04-02 00:00:00"

    # 6 chained month/year steps: previously rejected, now linear; value
    # matches live SQLite (probed: 2024-01-31 +4 months +2 years stepwise)
    import sqlite3 as _sq

    chain = "'+1 month', '+1 month', '+1 month', '+1 month', '+1 year', '+1 year'"
    out = dialect.sqlite_to_spark(
        f"SELECT datetime('2024-01-31 00:00:00', {chain}) AS v"
    )
    assert len(out) < 2000, "chain translation must grow linearly"
    expected = _sq.connect(":memory:").execute(
        f"SELECT datetime('2024-01-31 00:00:00', {chain})"
    ).fetchone()[0]
    assert str(spark.sql(out).collect()[0].v) == expected


def test_bare_extreme_columns_tie_consistency(spark):
    """Round-6 bare-column quirk: under tied extremes every bare column must
    come from the SAME extreme row (the struct-valued max_by dedupes into
    one aggregate), matching SQLite's pick-one-row semantics."""
    spark.sql(
        "SELECT * FROM VALUES (5, 1, 'a'), (5, 2, 'b'), (3, 9, 'c') "
        "t(price, id, name)"
    ).createOrReplaceTempView("tie_t")
    q = dialect.sqlite_to_spark("SELECT max(price), id, name FROM tie_t")
    r = spark.sql(q).collect()[0]
    assert r[0] == 5 and (r["id"], r["name"]) in [(1, "a"), (2, "b")]
    # scalar 2-arg min/max next to a bare column stays the per-row form
    q2 = dialect.sqlite_to_spark("SELECT min(price, 4) AS m, name FROM tie_t")
    rows = spark.sql(q2).collect()
    assert sorted((r["m"], r["name"]) for r in rows) == [
        (3, "c"), (4, "a"), (4, "b"),
    ]


class TestWindowFilterRewrite:
    """agg FILTER (WHERE ...) OVER — CASE rewrite + the probed min/max
    sliding-frame ignore (see _rewrite_window_filter docstring)."""

    def test_sum_over_rewrites_to_case(self):
        from trough_spark.dialect import _rewrite_window_filter

        out = _rewrite_window_filter(
            "SELECT sum(b) FILTER (WHERE a > 1) OVER (ORDER BY a) FROM t"
        )
        assert "CASE WHEN a > 1 THEN b END" in out and "FILTER" not in out

    def test_count_star_counts_literal_one(self):
        from trough_spark.dialect import _rewrite_window_filter

        out = _rewrite_window_filter(
            "SELECT count(*) FILTER (WHERE b = 1) OVER (ORDER BY a) FROM t"
        )
        assert "count(CASE WHEN b = 1 THEN 1 END)" in out

    def test_grouped_filter_untouched(self):
        from trough_spark.dialect import _rewrite_window_filter

        sql = "SELECT sum(b) FILTER (WHERE a > 1) AS s FROM t"
        assert _rewrite_window_filter(sql) == sql

    def test_distinct_stays_outside_case(self):
        from trough_spark.dialect import _rewrite_window_filter

        out = _rewrite_window_filter(
            "SELECT count(DISTINCT b) FILTER (WHERE a < 3) OVER (PARTITION BY c) FROM t"
        )
        assert "count(DISTINCT CASE WHEN a < 3 THEN b END)" in out

    def test_minmax_sliding_frame_drops_filter(self):
        from trough_spark.dialect import _rewrite_window_filter

        out = _rewrite_window_filter(
            "SELECT max(b) FILTER (WHERE s = 'x') OVER "
            "(ORDER BY a ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t"
        )
        assert "max(b) OVER" in out and "CASE" not in out and "FILTER" not in out

    def test_minmax_unbounded_start_keeps_filter(self):
        from trough_spark.dialect import _rewrite_window_filter

        out = _rewrite_window_filter(
            "SELECT min(b) FILTER (WHERE s = 'x') OVER "
            "(ORDER BY a ROWS UNBOUNDED PRECEDING) FROM t"
        )
        assert "CASE WHEN s = 'x' THEN b END" in out

    def test_minmax_named_window_rejected(self):
        import pytest as _pytest

        from trough_spark.dialect import QueryRejected, _rewrite_window_filter

        with _pytest.raises(QueryRejected):
            _rewrite_window_filter(
                "SELECT max(b) FILTER (WHERE s='x') OVER w FROM t WINDOW w AS (ORDER BY a)"
            )

    def test_group_concat_separator_preserved(self):
        from trough_spark.dialect import _rewrite_window_filter

        out = _rewrite_window_filter(
            "SELECT group_concat(b, ';') FILTER (WHERE a > 0) OVER (ORDER BY a) FROM t"
        )
        # round 9: the window form is handled wholesale here (the scalar
        # mapping would strand OVER on concat_ws), with the count guard
        # reproducing SQLite's NULL over a no-non-NULL-value frame
        assert (
            "concat_ws(';', collect_list(CASE WHEN a > 0 THEN b END) "
            "OVER (ORDER BY a))" in out
        )
        assert "CASE WHEN count(CASE WHEN a > 0 THEN b END) OVER (ORDER BY a) = 0" in out

    def test_grouped_filter_on_wrapped_aggregates_folds(self):
        """ADVICE r8: grouped (non-window) FILTER on total / group_concat /
        string_agg must fold to the CASE form here — left alone, the later
        function rewrite would strand FILTER on a non-aggregate wrapper."""
        from trough_spark.dialect import _rewrite_window_filter, sqlite_to_spark

        out = _rewrite_window_filter(
            "SELECT total(v) FILTER (WHERE v > 1) FROM t GROUP BY g"
        )
        assert "total(CASE WHEN v > 1 THEN v END)" in out
        assert "FILTER" not in out.upper()
        out = _rewrite_window_filter(
            "SELECT group_concat(v, '|') FILTER (WHERE v < 3) FROM t"
        )
        assert "group_concat(CASE WHEN v < 3 THEN v END, '|')" in out
        # end to end: the folded call then rewrites cleanly
        full = sqlite_to_spark("SELECT total(v) FILTER (WHERE v > 1) AS t1 FROM t")
        assert "FILTER" not in full.upper()
        assert "coalesce(sum(CAST(CASE WHEN v > 1 THEN v END AS DOUBLE)), 0.0d)" in full
        # plain aggregates keep Spark's native grouped-FILTER path
        native = _rewrite_window_filter("SELECT sum(v) FILTER (WHERE v > 1) FROM t")
        assert "FILTER" in native.upper()


class TestJsonEachRewrite:
    """json_each table-valued rewrite shapes (live-SQLite parity is in
    test_sqlite_differential; these pin the token surgery)."""

    def test_from_sole_source_no_lateral(self):
        from trough_spark.dialect import _rewrite_json_each

        out = _rewrite_json_each("SELECT key FROM json_each('[1]')")
        assert "LATERAL" not in out and "variant_explode" in out
        assert out.rstrip().endswith("AS json_each")

    def test_comma_source_gets_lateral_and_alias(self):
        from trough_spark.dialect import _rewrite_json_each

        out = _rewrite_json_each("SELECT je.key FROM t, json_each(t.j) je")
        assert ", LATERAL (" in out and out.rstrip().endswith("AS je")

    def test_as_alias(self):
        from trough_spark.dialect import _rewrite_json_each

        out = _rewrite_json_each("SELECT x.key FROM t, json_each(t.j) AS x WHERE 1")
        assert "AS x WHERE 1" in out

    def test_alias_not_stolen_from_keyword(self):
        from trough_spark.dialect import _rewrite_json_each

        out = _rewrite_json_each("SELECT key FROM t, json_each(t.j) WHERE t.id = 1")
        assert "AS json_each WHERE" in out

    def test_path_form_prefixes(self):
        from trough_spark.dialect import _rewrite_json_each

        out = _rewrite_json_each("SELECT key FROM json_each(j, '$.a')")
        assert "get_json_object(j, '$.a')" in out
        assert "'$.a'" in out and "'$.a['" in out  # path column + fullkey prefix

    def test_expression_position_untouched(self):
        from trough_spark.dialect import _rewrite_json_each

        sql = "SELECT json_each('[1]') FROM t"
        assert _rewrite_json_each(sql) == sql

    def test_json_tree_expands(self):
        """json_tree in FROM position expands to the bounded-depth
        recursive walk (round 10; was a loud reject in r9; round 11
        restructured the union-of-level-chains into a single fork-chain —
        O(depth) generates).  Runtime parity pinned against live SQLite
        in test_sqlite_differential.py and by the b12_shim_json_tree
        oracle."""
        from trough_spark.dialect import _JSON_TREE_DEPTH, _rewrite_json_each

        # last-relation position: the native LATERAL VIEW chain — one
        # explode per level plus the final inline, no correlated subquery
        out = _rewrite_json_each("SELECT key FROM json_tree('{\"a\": 1}')")
        assert out.count("LATERAL VIEW explode(") == _JSON_TREE_DEPTH + 1
        assert "LATERAL VIEW inline(" in out and "UNION ALL" not in out
        assert " json_tree AS key, value, type, atom," in out
        out = _rewrite_json_each(
            "SELECT key FROM json_tree('{\"a\": {\"b\": 1}}', '$.a') jt WHERE 1"
        )
        assert "LATERAL VIEW inline(" in out and " jt AS key," in out
        # non-last position: falls back to the correlated-subquery
        # fork-chain (D fork explodes + D child variant_explodes, single
        # branch — no per-depth UNION re-exploding ancestors)
        out = _rewrite_json_each(
            "SELECT key FROM json_tree('{\"a\": 1}') jt, items i"
        )
        assert "variant_explode" in out
        assert out.count("variant_explode") == _JSON_TREE_DEPTH
        assert out.count("LATERAL explode(IF(") == _JSON_TREE_DEPTH
        assert "UNION ALL" not in out and "AS jt" in out

    def test_json_tree_root_parts(self):
        from trough_spark.dialect import _path_root_parts

        assert _path_root_parts("$") == ("$", None)
        assert _path_root_parts("$.a") == ("$", "a")
        assert _path_root_parts("$.a[1]") == ("$.a", None)
        assert _path_root_parts('$."z w"') == ("$", "z w")
        assert _path_root_parts('$.a."x\\"y"') == ("$.a", 'x"y')
        assert _path_root_parts("$.a.b.c") == ("$.a.b", "c")

    def test_nonliteral_path_rejected(self):
        import pytest as _pytest

        from trough_spark.dialect import QueryRejected, _rewrite_json_each

        with _pytest.raises(QueryRejected):
            _rewrite_json_each("SELECT key FROM json_each(j, p)")

    def test_total_window_wraps_over_clause(self):
        from trough_spark.dialect import sqlite_to_spark

        out = sqlite_to_spark("SELECT total(a) OVER (ORDER BY id) FROM t")
        assert "coalesce(sum(" in out and "OVER (ORDER BY id), 0e0d)" in out

    def test_total_window_filter_case_wrapped(self):
        from trough_spark.dialect import sqlite_to_spark

        out = sqlite_to_spark(
            "SELECT total(a) FILTER (WHERE b > 0) OVER "
            "(ORDER BY id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) FROM t"
        )
        assert "CASE WHEN b > 0 THEN a END" in out
        assert "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 0e0d)" in out

    def test_total_scalar_mapping_unchanged(self):
        from trough_spark.dialect import sqlite_to_spark

        out = sqlite_to_spark("SELECT total(a) FROM t")
        assert "coalesce(sum(CAST(a AS DOUBLE)), 0.0d)" in out


class TestJsonPathTranslation:
    """SQLite → Spark JSON-path grammar translation (round 9)."""

    def test_quoted_segment_to_bracket(self):
        from trough_spark.dialect import _sqlite_path_to_spark

        assert _sqlite_path_to_spark('$."a b"') == "$[''a b'']"
        assert _sqlite_path_to_spark('$."x.y"[0].c') == "$[''x.y''][0].c"
        # no quotes: verbatim passthrough
        assert _sqlite_path_to_spark("$.a[3].b") == "$.a[3].b"

    def test_loud_rejects(self):
        import pytest as _pytest

        from trough_spark.dialect import QueryRejected, _sqlite_path_to_spark

        with _pytest.raises(QueryRejected):
            _sqlite_path_to_spark("$[#-1]")
        with _pytest.raises(QueryRejected):
            # literal inner text: a single quote is spelled '' there
            _sqlite_path_to_spark('$."q\'\'t"')
        with _pytest.raises(QueryRejected):
            _sqlite_path_to_spark('$."unclosed')


def test_printf_sqlite_conversions_rewritten():
    """%q/%Q/%w are SQLite-only quoting conversions with no Java
    equivalent; round 10 rewrites bare forms to native replace()/CASE
    chains (round 9 rejected them loudly).  Semantics pinned against live
    SQLite in test_sqlite_differential.py."""
    out = dialect.sqlite_to_spark("SELECT printf('%q', s) FROM t")
    assert "replace(CAST(s AS STRING), '''', '''''')" in out
    assert "'(NULL)'" in out  # SQLite 3.40 renders NULL as (NULL) under %q
    out = dialect.sqlite_to_spark("SELECT format('x%Qy', s) FROM t")
    assert "concat(" in out and "'NULL'" in out  # %Q: bare NULL, outer quotes
    assert "format_string('x'" in out or "'x'" in out
    out = dialect.sqlite_to_spark("SELECT printf('%w', s) FROM t")
    assert 'replace(CAST(s AS STRING), \'"\', \'""\')' in out
    # %% must not be read as starting a conversion (ADVICE r9 false positive)
    out = dialect.sqlite_to_spark("SELECT printf('100%%quality: %d', x) FROM t")
    assert "format_string('100%%quality: %d', x)" in out
    # mixed: standard conversions keep their args, in order, around the piece
    out = dialect.sqlite_to_spark("SELECT printf('%d=%q;%s', a, b, c) FROM t")
    assert "format_string('%d=', a)" in out
    assert "replace(CAST(b AS STRING)" in out
    assert "format_string(';%s', c)" in out
    # * width in another conversion consumes its extra arg before the %q
    out = dialect.sqlite_to_spark("SELECT printf('%*d %q', w, a, b) FROM t")
    assert "format_string('%*d ', w, a)" in out
    assert "replace(CAST(b AS STRING)" in out
    # width/precision/flags ON q/Q/w still a loud (narrower) reject
    for bad in (
        "SELECT printf('%10q', s) FROM t",
        "SELECT printf('%.2q', s) FROM t",
        "SELECT printf('%-5Q', s) FROM t",
    ):
        with pytest.raises(QueryRejected):
            dialect.sqlite_to_spark(bad)
    # the ignored ! flag is accepted (probed: '%!q' == '%q')
    out = dialect.sqlite_to_spark("SELECT printf('%!q', s) FROM t")
    assert "replace(CAST(s AS STRING)" in out
    # standard conversions unaffected
    out = dialect.sqlite_to_spark("SELECT printf('%05.2f-%s', x, s) FROM t")
    assert "format_string('%05.2f-%s', x, s)" in out


def test_glob_non_literal_pattern_fallback():
    """A non-literal GLOB pattern can't compile to a regex statically;
    round 10 rewrites both forms to the registered row-time compiler
    (x RLIKE TROUGH_GLOB_REGEX(expr)) instead of the round-9 loud reject.
    Runtime equivalence pinned against live SQLite in
    test_sqlite_differential.py; the no-BatchEvalPython plan assertion for
    LITERAL patterns lives in test_plans.py."""
    out = dialect.sqlite_to_spark("SELECT * FROM t WHERE a GLOB b")
    assert "RLIKE TROUGH_GLOB_REGEX(" in out
    out = dialect.sqlite_to_spark("SELECT glob(b, a) FROM t")
    assert "CAST(a RLIKE TROUGH_GLOB_REGEX(b) AS INT)" in out
    # pattern extent: || chain, call, dotted name, parenthesized group
    out = dialect.sqlite_to_spark(
        "SELECT * FROM t WHERE a GLOB substr(b, 1, 2) || '*' AND c = 1"
    )
    assert "TROUGH_GLOB_REGEX( substr(b, 1, 2) || '*' )" in out
    assert "AND c = 1" in out
    out = dialect.sqlite_to_spark("SELECT * FROM t WHERE a NOT GLOB t.p ORDER BY a")
    assert "NOT RLIKE TROUGH_GLOB_REGEX( t.p )" in out
    # literal forms still compile statically (never the UDF)
    out = dialect.sqlite_to_spark("SELECT * FROM t WHERE a GLOB 'x*'")
    assert "RLIKE" in out and "TROUGH_GLOB_REGEX" not in out
    # unsupported extent shapes keep the loud reject
    with pytest.raises(QueryRejected):
        dialect.sqlite_to_spark(
            "SELECT * FROM t WHERE a GLOB CASE WHEN c THEN 'x' ELSE 'y' END"
        )


def test_json_each_container_key_corners(spark):
    """The runtime bracket re-extraction path for CONTAINER children
    survives keys with spaces, dots, '['/']', and even backslashes
    (probed round 10 — ADVICE r9 asked for this surface to be stated
    accurately; the backslash suspicion turned out FALSE, only probe-
    escaping artifacts).  The one true corner is a key containing a
    single quote: its container value is NULL — the documented
    divergence (SQLite returns the subtree text).  Scalar-valued members
    are unaffected either way."""
    import json as _json

    doc = {
        "a]b": {"x": 1},   # bracket key: WORKS
        "a b": {"y": 2},   # space key: WORKS
        "a\\b": {"z": 3},  # backslash key: WORKS (probed round 10)
        "q't": {"w": 4},   # quote key: the documented NULL corner
        "s\\c": 7,         # backslash key, SCALAR value: unaffected
    }
    doc_sql = _json.dumps(doc, separators=(",", ":")).replace("'", "''")
    rows = spark.sql(
        dialect.sqlite_to_spark(
            f"SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, "
            f"CAST(atom AS TEXT) AS a FROM json_each('{doc_sql}')"
        )
    ).collect()
    got = {r["k"]: (r["v"], r["a"]) for r in rows}
    assert got["a]b"] == ('{"x":1}', None)
    assert got["a b"] == ('{"y":2}', None)
    assert got["a\\b"] == ('{"z":3}', None)
    assert got["q't"] == (None, None)  # the documented corner
    assert got["s\\c"] == ("7", "7")  # scalars never re-extract


def test_like_concatenated_pattern_mixed_semantics(spark):
    """A LIKE pattern built by CONCATENATION (literal || expr) gets the
    value-level backslash re-doubling on its LITERAL part (so the literal
    half reads as its SQLite VALUE under Spark's escape semantics —
    correct), while the non-literal remainder keeps Spark's escape
    reading — the documented 'non-literal pattern' divergence, extended
    to the mixed literal||expr shape it previously didn't name (ADVICE
    r9: pin the intended semantics)."""
    spark.createDataFrame(
        [("abc", "ab"), ("a%c", "zz"), ("c:\\dir", "c:"), ("c:x", "c:")],
        "s string, p string",
    ).createOrReplaceTempView("liket")
    # escape-free concatenated pattern: both engines read it identically
    out = spark.sql(
        dialect.sqlite_to_spark("SELECT s FROM liket WHERE s LIKE p || '%'")
    )
    assert {r["s"] for r in out.collect()} == {"abc", "c:\\dir", "c:x"}
    # the LITERAL half of a mixed pattern is value-corrected: the SQLite
    # source 'c:\' (one backslash, an ordinary byte there) is re-doubled
    # so Spark's escape reading yields the same one-backslash VALUE
    t = dialect.sqlite_to_spark("SELECT s FROM liket WHERE s LIKE 'c:\\' || '%'")
    assert "'c:\\\\\\\\'" in t  # spelled \\\\ -> Spark value c:\
    out = spark.sql(t)
    assert {r["s"] for r in out.collect()} == {"c:\\dir"}  # NOT the c:x row


def test_json_tree_spliced_and_subquery_forms_agree(spark):
    """Round-11 optimization: json_tree in last-relation position takes a
    native LATERAL VIEW chain; any other position keeps the correlated
    subquery fork-chain.  Both forms must emit identical row sets for the
    same document — pinned here on the corner shapes (nested containers,
    arrays of containers, non-identifier/escape-needing keys, empty
    containers, scalar/NULL roots, 2-arg paths)."""
    from trough_spark import dialect

    docs = [
        '{"a":[1,{"b":2}],"c":"x","z w":true}',
        '[[[["deep"]]],{"k":[null,false,1.5]}]',
        '{"q\\"uote":1,"tab\\tkey":[{}],"":{"inner":[]}}',
        '{"e":[],"o":{}}',
        '"scalar"',
        "7",
        "null",
    ]
    for doc, pfx in [(d, None) for d in docs] + [
        ('{"a":[1,{"b":2}]}', "$.a"),
        ('{"c":"x"}', "$.c"),
        ('{"c":1}', "$.nope"),
    ]:
        lit = "'" + doc.replace("'", "''") + "'"
        args = f"{lit}, '{pfx}'" if pfx else lit
        # spliced: json_tree is the only relation
        spliced_sql = dialect.sqlite_to_spark(
            f"SELECT key, value, type, atom, id, parent, fullkey, path "
            f"FROM json_tree({args}) ORDER BY fullkey"
        )
        assert "LATERAL VIEW inline(" in spliced_sql
        # fallback: a trailing one-row relation forces the subquery form
        fallback_sql = dialect.sqlite_to_spark(
            f"SELECT jt.key, jt.value, jt.type, jt.atom, jt.id, jt.parent, "
            f"jt.fullkey, jt.path "
            f"FROM json_tree({args}) jt, (SELECT 1 AS one) d ORDER BY jt.fullkey"
        )
        assert "LATERAL VIEW inline(" not in fallback_sql
        a = [tuple(r) for r in spark.sql(spliced_sql).collect()]
        b = [tuple(r) for r in spark.sql(fallback_sql).collect()]
        assert a == b, f"forms disagree for {doc!r} path={pfx!r}"
        assert (doc == "null" and pfx is None and len(a) == 1) or (
            pfx == "$.nope" and len(a) == 0
        ) or len(a) > 0
