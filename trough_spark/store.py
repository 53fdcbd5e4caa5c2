"""SegmentStore — trough's data lifecycle on partitioned Parquet.

Reference model: a segment is one SQLite file, provisioned from a registered
DDL schema, written via SQL scripts, promoted to HDFS, queried one segment per
request (reference: trough/sync.py:179-253, trough/write.py:23-44,
trough/read.py:54-94).

Spark-first model (SURVEY.md §7.1): every schema table is stored at
``root/tables/<table>/segment_id=<seg>/*.parquet`` — a Hive-partitioned
layout, so:

- a per-segment read is a statically pruned single-directory scan (the same
  worst-case-bounded-latency argument as the reference, README.rst:16-31);
- a regex fan-out is ONE Spark query over the matching partitions, with real
  cross-segment merge (upgrade over the reference's scatter-only shell);
- a write script is one atomic commit per statement batch (a hidden file
  renamed into place, like the reference's ``._COPYING_`` + rename dance,
  sync.py:1130-1146, or Spark's file commit protocol);
- promotion is a no-op that reports the durable path — data is already on
  the cluster FS at commit (the whole stale-sync/promotion machinery of
  sync.py collapses, SURVEY.md §4.3).

Deliberately NOT ported: RethinkDB registry, heartbeats, elections, write
locks, consistent-hash assignment, GC (SURVEY.md §4.3) — Spark + the cluster
filesystem provide those invariants.

Concurrency: one writer per segment, matching the reference's write-lock
semantics (trough/write.py:55-57) — enforced here by construction (the
engine is driver-coordinated) rather than by a lock table.
"""

from __future__ import annotations

import contextlib
import copy
import dataclasses
import decimal
import itertools
import json
import os
import re
import secrets
import shutil
import socket
import time
import uuid
import weakref
from collections import OrderedDict
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _create_converter, _make_type_verifier

from trough_spark import dialect
from trough_spark.dialect import QueryRejected

# every temp view a store registers is named ``<prefix><store token>_<n>``;
# a statement naming one directly is rejected (dialect.bind_names)
_VIEW_PREFIX = "__trough_view_"

# ---------------------------------------------------------------------------
# SQLite DDL → Spark schema (type affinity, reference model SURVEY §1.2)
# ---------------------------------------------------------------------------

_AFFINITY = (
    ("INT", T.LongType()),
    ("CHAR", T.StringType()),
    ("CLOB", T.StringType()),
    ("TEXT", T.StringType()),
    ("BLOB", T.BinaryType()),
    ("REAL", T.DoubleType()),
    ("FLOA", T.DoubleType()),
    ("DOUB", T.DoubleType()),
    ("BOOL", T.BooleanType()),
    ("DATETIME", T.TimestampType()),
    ("DATE", T.DateType()),
    ("TIMESTAMP", T.TimestampType()),
    ("DECIMAL", T.DoubleType()),
    ("NUMERIC", T.DoubleType()),
)


def sqlite_type_to_spark(decl: str) -> T.DataType:
    u = decl.upper()
    # order matters: DATETIME before DATE, INT wins per SQLite affinity rule 1
    for key, typ in (("DATETIME", T.TimestampType()), ("TIMESTAMP", T.TimestampType())):
        if key in u:
            return typ
    for key, typ in _AFFINITY:
        if key in u:
            return typ
    if not u.strip():
        return T.StringType()
    return T.StringType()  # SQLite: anything else has, effectively, no affinity


def _struct(spec: str) -> T.StructType:
    """``"name type, ..."`` with JSON type names as a StructType, built in
    Python: ``StructType.fromDDL`` is a JVM call."""
    out = T.StructType()
    for f in spec.split(","):
        out.add(*f.split())
    return out


@dataclass
class TableSchema:
    name: str
    fields: list[tuple[str, T.DataType]]
    autoincrement_col: str | None = None
    primary_key: list[str] = field(default_factory=list)
    # CHECK constraints as (label, sqlite_expr): label is the CONSTRAINT
    # name if given, else the expression text (SQLite's error-message rule)
    checks: list[tuple[str, str]] = field(default_factory=list)
    not_null: list[str] = field(default_factory=list)
    # declared DEFAULT expressions (col -> raw sqlite expression text),
    # applied to unspecified columns on INSERT (round 6 — previously they
    # silently landed as NULL, diverging from SQLite)
    defaults: dict[str, str] = field(default_factory=dict)
    # WITHOUT ROWID (round 8, probed): the pk IS the btree key — every pk
    # column is implicitly NOT NULL (enforced via not_null), NOTHING
    # auto-assigns (autoincrement_col stays None even for an INTEGER pk),
    # and the UPDATE OR position-visit chase applies to ANY pk shape
    # because the visit order is pk order by construction
    without_rowid: bool = False
    # verbatim per-column DDL text for PRAGMA table_info parity (round 8):
    # col_lower -> {"type": declared type text as written (may be ""),
    # "dflt": DEFAULT term text with SQLite's one-outer-paren strip, or
    # None} — SQLite reports both VERBATIM (probed: 'VARCHAR (10)',
    # 'DOUBLE   PRECISION', '1+2'), so the normalized `defaults` dict
    # cannot serve the catalog surface
    col_decls: dict[str, dict] = field(default_factory=dict)
    # declared foreign keys in DECLARATION order, for PRAGMA
    # foreign_key_list parity (round 8): {"table", "from": [cols],
    # "to": [cols] | None, "on_update", "on_delete"}.  Introspection only —
    # enforcement stays correctly OFF (the reference opens plain
    # connections; SQLite needs PRAGMA foreign_keys=ON)
    fks: list = field(default_factory=list)
    # UNIQUE constraints (round 8): each entry is (cols, collations) in
    # declaration order — column-level UNIQUE becomes a singleton entry.
    # SQLite enforces these exactly like the pk index (probed: plain
    # INSERT raises, OR IGNORE skips, OR REPLACE deletes conflicting rows
    # across ALL constraints, UPDATE raises); ignoring them was a silent
    # divergence until round 8.
    uniques: list = field(default_factory=list)
    # per-pk-column collations ("BINARY"/"NOCASE"/"RTRIM"), aligned with
    # primary_key: a pk declared COLLATE NOCASE conflicts case-insensitively
    # (probed; an index-clause COLLATE overrides the column's)
    pk_collations: list = field(default_factory=list)
    # column-level declared collations (col_lower -> non-BINARY name) —
    # kept so later CREATE UNIQUE INDEX entries without an explicit
    # COLLATE resolve to the column's (SQLite's rule)
    collations: dict = field(default_factory=dict)
    # generated columns (round 8, SQLite 3.31 gencol.html): declaration-
    # ordered {col -> (expr_sql, stored)}.  VIRTUAL and STORED both
    # materialize in storage here — every base-column change goes through
    # the write paths, which recompute, so read results are identical;
    # the flag is kept for table_xinfo (hidden 2/3) and the ALTER rule
    # (ADD COLUMN may only add VIRTUAL ones, SQLite's own restriction)
    generated: dict = field(default_factory=dict)
    # STRICT table flag (round 8, SQLite 3.37 stricttables.html): type
    # names restricted to INT/INTEGER/REAL/TEXT/BLOB at DDL time and value
    # storage enforced with SQLite's lossless-coercion rules + verbatim
    # errors (probed); ANY columns are rejected loudly — a declared-schema
    # engine has no untyped storage class
    strict: bool = False
    # CREATE UNIQUE INDEX constraints by lowercased index name -> (cols,
    # collations), checked after ``uniques``; DROP INDEX removes one, and
    # they move and go with their table, as SQLite's indexes do
    unique_indexes: dict = field(default_factory=dict)

    def struct(self) -> T.StructType:
        return T.StructType([T.StructField(n, t, True) for n, t in self.fields])

    @property
    def rowid_alias(self) -> str | None:
        """The INTEGER PRIMARY KEY column that IS the rowid, if any."""
        pk = self.primary_key
        auto = self.autoincrement_col
        return auto if auto and len(pk) == 1 and pk[0].lower() == auto.lower() else None

    def unique_constraints(self) -> list[tuple[list[str], list[str]]]:
        """Every uniqueness constraint as (cols, collations) — the pk
        first (SQLite's conflict-check order), then UNIQUEs in declaration
        order."""
        out = []
        if self.primary_key:
            colls = list(self.pk_collations) or ["BINARY"] * len(self.primary_key)
            out.append((list(self.primary_key), colls))
        out.extend(
            (list(c), list(cl))
            for c, cl in [*self.uniques, *self.unique_indexes.values()]
        )
        return out

    def has_extended_uniqueness(self) -> bool:
        """True when conflict handling needs more than the binary pk fast
        path: extra UNIQUE constraints, or a non-BINARY pk collation."""
        return bool(self.uniques or self.unique_indexes) or any(
            c != "BINARY" for c in self.pk_collations
        )


@dataclass
class Schema:
    """A named schema: raw SQL text + parsed tables, mirroring the reference's
    schema registry entries {id, sql} (trough/sync.py:152-164)."""

    id: str
    sql: str
    tables: dict[str, TableSchema] = field(default_factory=dict)
    seed_statements: list[str] = field(default_factory=list)


_CREATE_RE = re.compile(
    r"^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[\w\"\[\]`]+)\s*\(",
    re.IGNORECASE,
)

_CONSTRAINT_WORDS = ("PRIMARY", "UNIQUE", "CHECK", "FOREIGN", "CONSTRAINT")

# words that END a column's type-name token run (start a column constraint);
# SQLite's type-name grammar is any word sequence up to one of these
_COLCONSTRAINT_WORDS = frozenset(
    {
        "PRIMARY",
        "NOT",
        "NULL",
        "UNIQUE",
        "CHECK",
        "DEFAULT",
        "COLLATE",
        "REFERENCES",
        "CONSTRAINT",
        "GENERATED",
        "AS",
    }
)


def _unquote(ident: str) -> str:
    ident = ident.strip()
    if ident[:1] in "\"'`[":
        return ident[1:-1]
    return ident


# SQLite's three built-in collations (datatype3.html §6; any other name is
# "no such collation sequence" at DDL time — probed).  NOCASE folds ASCII
# A-Z ONLY ('Ä' != 'ä' — probed), RTRIM ignores trailing 0x20 spaces ONLY
# (tabs compare distinct — probed), so the folds below use an exact ASCII
# translate / rstrip(' '), NOT lower()/rtrim-of-whitespace.
_VALID_COLLATIONS = frozenset({"BINARY", "NOCASE", "RTRIM"})
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
_NOCASE_TBL = str.maketrans(_ASCII_UPPER, _ASCII_LOWER)


def _check_collation(name: str) -> str:
    up = name.upper()
    if up not in _VALID_COLLATIONS:
        # SQLite's own error, verbatim
        raise QueryRejected(f"no such collation sequence: {name}")
    return up


def _fold_value(v, collation: str):
    """Collation-fold one Python value for conflict-key comparison.
    Collations only affect text (SQLite: numeric compares ignore them)."""
    if collation == "NOCASE" and isinstance(v, str):
        return v.translate(_NOCASE_TBL)
    if collation == "RTRIM" and isinstance(v, str):
        return v.rstrip(" ")
    return v


def _fold_sql(col_sql: str, collation: str) -> str:
    """The Spark-SQL expression computing the same fold as ``_fold_value``
    (ASCII translate, not lower(), for exact SQLite NOCASE parity)."""
    if collation == "NOCASE":
        return f"translate({col_sql}, '{_ASCII_UPPER}', '{_ASCII_LOWER}')"
    if collation == "RTRIM":
        return f"rtrim({col_sql})"
    return col_sql


_FK_CLAUSE_WORDS = ("ON", "MATCH", "NOT", "DEFERRABLE")


def _parse_fk_tail(toks: list, i: int) -> tuple[dict, int]:
    """``toks[i]`` is a REFERENCES word token: parse the foreign-key tail
    (target table, optional column list, ON DELETE / ON UPDATE actions —
    SQLite's defaults are 'NO ACTION'); returns (fk_dict, next_index)."""
    n = len(toks)

    def skipws(j: int) -> int:
        while j < n and toks[j].kind in ("space", "comment"):
            j += 1
        return j

    j = skipws(i + 1)
    tgt = _unquote(toks[j].text)
    j = skipws(j + 1)
    to = None
    if j < n and toks[j].kind == "op" and toks[j].text == "(":
        cols: list[str] = []
        depth = 0
        while j < n:
            t = toks[j]
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                depth -= 1
                if depth == 0:
                    j += 1
                    break
            elif t.kind in ("word", "dquote", "string"):
                cols.append(_unquote(t.text))
            j += 1
        to = cols
        j = skipws(j)
    on_update = on_delete = "NO ACTION"
    while (
        j < n
        and toks[j].kind == "word"
        and toks[j].text.upper() in _FK_CLAUSE_WORDS
    ):
        w = toks[j].text.upper()
        if w == "ON":
            j = skipws(j + 1)
            which = toks[j].text.upper()
            j = skipws(j + 1)
            act = toks[j].text.upper()
            if act in ("SET", "NO"):
                j = skipws(j + 1)
                act = f"{act} {toks[j].text.upper()}"
            j = skipws(j + 1)
            if which == "DELETE":
                on_delete = act
            elif which == "UPDATE":
                on_update = act
        elif w == "MATCH":
            j = skipws(j + 1)
            j = skipws(j + 1)
        else:  # [NOT] DEFERRABLE [INITIALLY DEFERRED/IMMEDIATE] — ignored
            j = skipws(j + 1)
            while (
                j < n
                and toks[j].kind == "word"
                and toks[j].text.upper()
                in ("DEFERRABLE", "INITIALLY", "DEFERRED", "IMMEDIATE")
            ):
                j = skipws(j + 1)
    return {
        "table": tgt,
        "to": to,
        "on_update": on_update,
        "on_delete": on_delete,
    }, j


def _col_decl_info(coldef: list, name_tok) -> dict:
    """Verbatim {type, dflt} for one column def's tokens (spaces included),
    matching what ``PRAGMA table_info`` reports: the declared type is the
    raw text from after the column name up to the first column-constraint
    keyword (paren args included, original spacing preserved); the default
    is the DEFAULT term's text with SQLite's one-outer-paren strip."""
    start = next(i for i, t in enumerate(coldef) if t is name_tok) + 1
    depth = 0
    type_end = len(coldef)
    for i in range(start, len(coldef)):
        t = coldef[i]
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif (
            depth == 0
            and t.kind == "word"
            and t.text.upper() in _COLCONSTRAINT_WORDS
        ):
            type_end = i
            break
    type_text = dialect.render(coldef[start:type_end]).strip()
    dflt = None
    i = type_end
    while i < len(coldef):
        t = coldef[i]
        if t.kind == "word" and t.text.upper() == "DEFAULT":
            j = i + 1
            while j < len(coldef) and coldef[j].kind in ("space", "comment"):
                j += 1
            if j < len(coldef) and coldef[j].kind == "op" and coldef[j].text == "(":
                d, k = 0, j
                while k < len(coldef):
                    if coldef[k].kind == "op" and coldef[k].text == "(":
                        d += 1
                    elif coldef[k].kind == "op" and coldef[k].text == ")":
                        d -= 1
                        if d == 0:
                            break
                    k += 1
                # SQLite strips exactly the outer parens, keeps the inner
                # text verbatim (probed: DEFAULT (1+2) reports '1+2')
                dflt = dialect.render(coldef[j + 1 : k]).strip()
            else:
                # first term token unconditionally (DEFAULT NULL is legal —
                # NULL is a constraint keyword only in constraint position)
                k = j + 1
                while k < len(coldef):
                    t2 = coldef[k]
                    if t2.kind == "word" and t2.text.upper() in _COLCONSTRAINT_WORDS:
                        break
                    k += 1
                dflt = dialect.render(coldef[j:k]).strip()
            break
        i += 1
    return {"type": type_text, "dflt": dflt}


_GEN_NONDETERMINISTIC = frozenset({
    "random", "randomblob", "changes", "total_changes", "last_insert_rowid",
})
_GEN_AGGREGATES = frozenset({
    "count", "total", "group_concat", "string_agg", "avg", "sum",
})


def _validate_generated_expr(col: str, expr: str) -> None:
    """SQLite's generated-column expression rules with its verbatim errors
    (all probed live): no subqueries, no aggregates (single-argument
    min/max is the aggregate form), no non-deterministic functions, and no
    bare CURRENT_* keywords (while datetime('now') is — probed — allowed)."""
    toks = [
        t for t in dialect.tokenize(expr) if t.kind not in ("space", "comment")
    ]
    for j, t in enumerate(toks):
        if t.kind != "word":
            continue
        up = t.text.upper()
        if up in ("SELECT", "EXISTS"):
            raise QueryRejected("subqueries prohibited in generated columns")
        if up in ("CURRENT_TIMESTAMP", "CURRENT_TIME", "CURRENT_DATE"):
            raise QueryRejected(
                "non-deterministic functions prohibited in generated columns"
            )
        low = t.text.lower()
        calls = (
            j + 1 < len(toks)
            and toks[j + 1].kind == "op"
            and toks[j + 1].text == "("
        )
        if not calls:
            continue
        if low in _GEN_NONDETERMINISTIC:
            raise QueryRejected(
                "non-deterministic functions prohibited in generated columns"
            )
        if low in _GEN_AGGREGATES:
            raise QueryRejected(f"misuse of aggregate function {low}()")
        if low in ("min", "max"):
            depth, args, k = 0, 1, j + 1
            while k < len(toks):
                tk = toks[k]
                if tk.kind == "op" and tk.text == "(":
                    depth += 1
                elif tk.kind == "op" and tk.text == ")":
                    depth -= 1
                    if depth == 0:
                        break
                elif tk.kind == "op" and tk.text == "," and depth == 1:
                    args += 1
                k += 1
            if args == 1:
                raise QueryRejected(f"misuse of aggregate function {low}()")


def parse_create_table(stmt: str) -> TableSchema:
    m = _CREATE_RE.match(stmt)
    if not m:
        raise QueryRejected(f"not a CREATE TABLE statement: {stmt[:80]!r}")
    name = _unquote(m.group("name"))
    open_idx = stmt.index("(", m.end() - 1)
    tokens = dialect.tokenize(stmt)
    # find the token index of that '('
    pos = 0
    open_tok = None
    for i, t in enumerate(tokens):
        if pos <= open_idx < pos + len(t.text) and t.kind == "op" and t.text == "(":
            open_tok = i
            break
        pos += len(t.text)
    assert open_tok is not None
    coldefs, close_tok = dialect._find_call_args(tokens, open_tok)
    tail_u = dialect.render(tokens[close_tok + 1 :]).upper()
    without_rowid = "WITHOUT" in tail_u and "ROWID" in tail_u
    strict_tbl = bool(re.search(r"\bSTRICT\b", tail_u))
    fields: list[tuple[str, T.DataType]] = []
    auto_col = None
    pk: list[str] = []
    checks: list[tuple[str, str]] = []
    not_null: list[str] = []
    defaults: dict[str, str] = {}
    pk_from_table_constraint = False
    integer_cols: set[str] = set()  # cols declared EXACTLY `INTEGER`
    col_decls: dict[str, dict] = {}
    fks: list = []
    pk_entry_colls: list = []  # per-pk-entry explicit COLLATE (or None)
    uniques_raw: list = []  # UNIQUE constraints: [(col, explicit_coll|None)]
    collations: dict[str, str] = {}  # column-level COLLATE by col_lower
    generated: dict[str, tuple] = {}  # generated columns: col -> (expr, stored)
    for coldef in coldefs:
        sig = [t for t in coldef if t.kind not in ("space", "comment")]
        if not sig:
            continue
        first = sig[0]
        if first.kind == "word" and first.text.upper() in _CONSTRAINT_WORDS:
            # table-level constraint; extract PRIMARY KEY (col, ...) / CHECK
            sig_words = [t.text.upper() for t in sig if t.kind == "word"]
            # first keyword (after an optional CONSTRAINT <name>) decides
            # the constraint kind — scanning the whole text would misroute
            # a CHECK whose body mentions the words foreign/key/primary
            lead = sig_words[0]
            if lead == "CONSTRAINT" and len(sig_words) > 2:
                lead = sig_words[2]
            if lead == "FOREIGN":
                # FOREIGN KEY (cols) REFERENCES tgt [(cols)] [actions]
                from_cols: list[str] = []
                depth = 0
                ref_idx = None
                for i2, t2 in enumerate(coldef):
                    if t2.kind == "op" and t2.text == "(":
                        depth += 1
                    elif t2.kind == "op" and t2.text == ")":
                        depth -= 1
                    elif depth == 1 and ref_idx is None and t2.kind in (
                        "word",
                        "dquote",
                        "string",
                    ):
                        from_cols.append(_unquote(t2.text))
                    elif (
                        depth == 0
                        and t2.kind == "word"
                        and t2.text.upper() == "REFERENCES"
                    ):
                        ref_idx = i2
                        break
                if ref_idx is not None and from_cols:
                    fk, _ = _parse_fk_tail(coldef, ref_idx)
                    fk["from"] = from_cols
                    fks.append(fk)
                continue
            if lead in ("PRIMARY", "UNIQUE"):
                m2 = re.search(r"\(([^)]*)\)", dialect.render(coldef))
                if m2:
                    # each entry may carry ASC/DESC/COLLATE x — ASC/DESC are
                    # indexing hints, but a per-entry COLLATE changes the
                    # CONSTRAINT's comparison (probed: PRIMARY KEY
                    # (a COLLATE NOCASE) conflicts case-insensitively even
                    # on a BINARY column) — capture it, don't discard it
                    entries = []
                    for c in m2.group(1).split(","):
                        mcoll = re.search(r"(?is)\bCOLLATE\s+(\w+)", c)
                        entries.append(
                            (
                                _unquote(
                                    re.sub(
                                        r"(?is)\s+(?:COLLATE\s+\w+|ASC|DESC)(?=\s|$)",
                                        "",
                                        c.strip(),
                                    ).strip()
                                ),
                                _check_collation(mcoll.group(1)) if mcoll else None,
                            )
                        )
                    if lead == "PRIMARY":
                        pk.extend(e[0] for e in entries)
                        pk_entry_colls.extend(e[1] for e in entries)
                        pk_from_table_constraint = True
                    else:
                        uniques_raw.append(entries)
            checks.extend(_parse_checks(coldef))
            continue
        col = _unquote(first.text)
        decl = dialect.render(coldef[1:]) if len(coldef) > 1 else ""
        decl_u = decl.upper()
        # generated column: [GENERATED ALWAYS] AS ( expr ) [VIRTUAL|STORED]
        # at depth 0 (gencol.html) — extract the expr verbatim and the
        # storage flag, then validate with SQLite's own errors (probed)
        gen_expr, gen_stored = None, False
        gen_as_idx = None
        depth_g = 0
        for i2, t2 in enumerate(coldef):
            if t2.kind == "op" and t2.text == "(":
                depth_g += 1
            elif t2.kind == "op" and t2.text == ")":
                depth_g -= 1
            elif (
                depth_g == 0
                and t2 is not first
                and t2.kind == "word"
                and t2.text.upper() == "AS"
            ):
                j2 = i2 + 1
                while j2 < len(coldef) and coldef[j2].kind in ("space", "comment"):
                    j2 += 1
                if j2 >= len(coldef) or coldef[j2].text != "(":
                    raise QueryRejected(
                        f"generated column {col!r} requires a "
                        f"parenthesized expression"
                    )
                d2, k2 = 0, j2
                while k2 < len(coldef):
                    if coldef[k2].kind == "op" and coldef[k2].text == "(":
                        d2 += 1
                    elif coldef[k2].kind == "op" and coldef[k2].text == ")":
                        d2 -= 1
                        if d2 == 0:
                            break
                    k2 += 1
                gen_as_idx = i2
                gen_expr = dialect.render(coldef[j2 + 1 : k2]).strip()
                tail2 = [
                    t3
                    for t3 in coldef[k2 + 1 :]
                    if t3.kind not in ("space", "comment")
                ]
                gen_stored = bool(
                    tail2
                    and tail2[0].kind == "word"
                    and tail2[0].text.upper() == "STORED"
                )
                _validate_generated_expr(col, gen_expr)
                break
        if gen_expr is not None:
            generated[col] = (gen_expr, gen_stored)
        # constraint-keyword scans must ignore CHECK(...)/DEFAULT expression
        # bodies and string literals: live SQLite accepts a NULL into
        # "a INTEGER CHECK(b IS NOT NULL OR a > 0)" — the words NOT NULL
        # inside the CHECK don't constrain the column itself
        bare_u = _strip_parens_and_strings(decl_u)
        # truncate at the EARLIEST constraint keyword for type-affinity
        # scanning (a CHECK/DEFAULT expression's text must not contribute
        # affinity keywords)
        cut = len(decl)
        for kw in ("PRIMARY", "CHECK", "CONSTRAINT", "REFERENCES", "DEFAULT"):
            idx = decl_u.find(kw)
            if idx != -1:
                cut = min(cut, idx)
        if gen_as_idx is not None:
            # the generated expression must not contribute type-affinity
            # keywords (`price REAL AS (CAST(x AS INTEGER))` stays REAL)
            cut = min(cut, len(dialect.render(coldef[1:gen_as_idx])))
        typ = sqlite_type_to_spark(decl[:cut])
        # rowid-alias rule (probed live, round 8): the declared type must be
        # EXACTLY the single word INTEGER (case-insensitive; a quoted
        # "INTEGER" counts) — INT / BIGINT / MEDIUMINT pks are ordinary
        # unique columns with their own rowid, so they admit NULLs and do
        # not auto-assign.  The type is the token run before the first
        # column-constraint keyword.
        type_words = []
        for tok in sig[1:]:
            if tok.kind == "word" and tok.text.upper() in _COLCONSTRAINT_WORDS:
                break
            if tok.kind in ("word", "string", "dquote"):
                # a quoted "INTEGER" type still aliases (probed)
                type_words.append(_unquote(tok.text).upper())
            elif tok.kind == "op" and tok.text == "(":
                # `INTEGER(5)` is NOT an alias (probed) — the type text
                # must be the bare word
                type_words.append("(")
                break
        exact_integer = type_words == ["INTEGER"]
        col_pk_here = "PRIMARY" in bare_u and "KEY" in bare_u
        if col_pk_here:
            pk.append(col)
            pk_entry_colls.append(None)  # resolves to the column collation
        # column-level COLLATE (depth 0 — one inside a CHECK body is an
        # expression collation, not the column's)
        depth0 = 0
        for i2, t2 in enumerate(sig):
            if t2.kind == "op" and t2.text == "(":
                depth0 += 1
            elif t2.kind == "op" and t2.text == ")":
                depth0 -= 1
            elif (
                depth0 == 0
                and t2.kind == "word"
                and t2.text.upper() == "COLLATE"
                and i2 + 1 < len(sig)
            ):
                collations[col.lower()] = _check_collation(
                    _unquote(sig[i2 + 1].text)
                )
                break
        if re.search(r"\bUNIQUE\b", bare_u):
            uniques_raw.append([(col, None)])
        if "AUTOINCREMENT" in bare_u:
            if without_rowid:
                # SQLite's own error, verbatim
                raise QueryRejected(
                    "AUTOINCREMENT not allowed on WITHOUT ROWID tables"
                )
            if not (exact_integer and col_pk_here):
                # SQLite's own error, verbatim
                raise QueryRejected(
                    "AUTOINCREMENT is only allowed on an INTEGER PRIMARY KEY"
                )
            auto_col = col
            typ = T.LongType()
        elif exact_integer and col_pk_here and not without_rowid and not re.search(
            r"PRIMARY\s+KEY\s+DESC\b", bare_u
        ):
            # column-level `INTEGER PRIMARY KEY DESC` is SQLite's documented
            # NON-alias exception (the table-constraint DESC form still
            # aliases — handled below)
            auto_col = col
            typ = T.LongType()
        if exact_integer:
            integer_cols.add(col.lower())
        if re.search(r"\bNOT\s+NULL\b", bare_u):
            not_null.append(col)
        checks.extend(_parse_checks(coldef))
        dv = _parse_default(coldef[1:])
        if dv is not None:
            if gen_expr is not None:
                # SQLite's own error, verbatim
                raise QueryRejected("cannot use DEFAULT on a generated column")
            defaults[col] = dv
        if gen_expr is not None and col_pk_here:
            # SQLite's own error, verbatim
            raise QueryRejected(
                "generated columns cannot be part of the PRIMARY KEY"
            )
        col_decls[col.lower()] = _col_decl_info(coldef, first)
        # column-level REFERENCES (depth 0 — one inside a CHECK body must
        # not register)
        depth = 0
        for i2, t2 in enumerate(coldef):
            if t2.kind == "op" and t2.text == "(":
                depth += 1
            elif t2.kind == "op" and t2.text == ")":
                depth -= 1
            elif (
                depth == 0
                and t2.kind == "word"
                and t2.text.upper() == "REFERENCES"
            ):
                fk, _ = _parse_fk_tail(coldef, i2)
                fk["from"] = [col]
                fks.append(fk)
                break
        fields.append((col, typ))
    if (
        auto_col is None
        and not without_rowid
        and pk_from_table_constraint
        and len(pk) == 1
        and pk[0].lower() in integer_cols
    ):
        # table-constraint form `x INTEGER, PRIMARY KEY (x)` IS a rowid
        # alias (probed: NULL insert auto-assigns) — including with DESC,
        # which only disables the alias in the column-level form
        auto_col = pk[0]
        fields = [
            (n, T.LongType() if n.lower() == auto_col.lower() else t)
            for n, t in fields
        ]
    if without_rowid:
        if not pk:
            # SQLite's own error, verbatim
            raise QueryRejected(f"PRIMARY KEY missing on table {name}")
        # pk columns are implicitly NOT NULL (probed: an explicit or
        # omitted NULL raises "NOT NULL constraint failed: t.col")
        have = {c.lower() for c in not_null}
        not_null.extend(c for c in pk if c.lower() not in have)
    # resolve constraint collations: an explicit index-clause COLLATE wins,
    # else the column's declared collation, else BINARY (probed order)
    def _resolve(c: str, explicit: str | None) -> str:
        return explicit or collations.get(c.lower(), "BINARY")

    pk_collations = [_resolve(c, e) for c, e in zip(pk, pk_entry_colls)]
    uniques = [
        ([c for c, _ in ent], [_resolve(c, e) for c, e in ent])
        for ent in uniques_raw
    ]
    if generated:
        gen_lower = {c.lower() for c in generated}
        if any(c.lower() in gen_lower for c in pk):
            # covers the table-constraint PRIMARY KEY (col...) form too
            raise QueryRejected(
                "generated columns cannot be part of the PRIMARY KEY"
            )
    if strict_tbl:
        # SQLite's STRICT DDL rules with its verbatim errors (probed)
        for col, _typ in fields:
            decl_type = col_decls.get(col.lower(), {}).get("type", "")
            up = decl_type.strip().upper()
            if not up:
                raise QueryRejected(f"missing datatype for {name}.{col}")
            if up == "ANY":
                raise QueryRejected(
                    f"ANY column {name}.{col} is not supported: this "
                    "engine stores declared types (SURVEY 7.4) and has "
                    "no untyped storage class — rejected loudly"
                )
            if up not in ("INT", "INTEGER", "REAL", "TEXT", "BLOB"):
                raise QueryRejected(
                    f'unknown datatype for {name}.{col}: "{decl_type.strip()}"'
                )
        # STRICT makes PRIMARY KEY columns NOT NULL (probed), same as
        # WITHOUT ROWID
        have_nn = {c.lower() for c in not_null}
        not_null.extend(c for c in pk if c.lower() not in have_nn)
    return TableSchema(
        name=name,
        fields=fields,
        autoincrement_col=auto_col,
        primary_key=pk,
        checks=checks,
        not_null=not_null,
        defaults=defaults,
        without_rowid=without_rowid,
        col_decls=col_decls,
        fks=fks,
        uniques=uniques,
        pk_collations=pk_collations,
        collations=collations,
        generated=generated,
        strict=strict_tbl,
    )


_SEGMENT_ID_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9._-]*")


def _validate_segment_id(segment_id) -> str:
    """Segment ids become partition DIRECTORY names and file-lock names, so
    the charset is enforced at every entry point (provision / bulk ingest).
    Without this, an id containing ``/`` or ``..`` could address a path
    outside its table, and Hive partition escaping (':' -> '%3A') would
    make raw ``os.path`` existence checks silently miss written data."""
    if not isinstance(segment_id, str) or not _SEGMENT_ID_RE.fullmatch(segment_id):
        raise QueryRejected(
            f"invalid segment id {segment_id!r}: must match "
            "[A-Za-z0-9][A-Za-z0-9._-]*"
        )
    return segment_id


def _strip_parens_and_strings(s: str) -> str:
    """Drop balanced ``(...)`` groups and quoted literals/identifiers from a
    column-decl string, so constraint keyword scans (NOT NULL / PRIMARY KEY /
    AUTOINCREMENT) can't match words inside a CHECK(...)/DEFAULT expression
    or a DEFAULT 'string'."""
    out: list[str] = []
    depth = 0
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"', "`"):
            q = ch
            i += 1
            while i < n:
                if s[i] == q:
                    if i + 1 < n and s[i + 1] == q:  # doubled-quote escape
                        i += 2
                        continue
                    break
                i += 1
            i += 1  # past the closing quote
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        elif depth == 0:
            out.append(ch)
        i += 1
    return "".join(out)


def _strip_strings_only(s: str) -> str:
    """Drop quoted literals/identifiers but KEEP parenthesized text — for
    keyword scans that must see inside parens (a subquery's SELECT) while
    ignoring string contents."""
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"', "`"):
            q = ch
            i += 1
            while i < n:
                if s[i] == q:
                    if i + 1 < n and s[i + 1] == q:
                        i += 2
                        continue
                    break
                i += 1
            i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _parse_default(toks) -> str | None:
    """The raw DEFAULT expression text of one column definition, or None.
    Handles the SQLite forms: a literal (optionally signed), a bare keyword
    (NULL / CURRENT_TIMESTAMP / ...), or a parenthesized expression."""
    sig = [t for t in toks if t.kind not in ("space", "comment")]
    depth = 0
    for i, t in enumerate(sig):
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "word" and t.text.upper() == "DEFAULT":
            rest = sig[i + 1 :]
            if not rest:
                return None
            if rest[0].kind == "op" and rest[0].text == "(":
                args, _close = dialect._find_call_args(sig, i + 1)
                # space-join: these are significant-only tokens, so a plain
                # render would fuse adjacent words (CAST('5' AS INTEGER)
                # -> CAST('5'ASINTEGER))
                return (
                    "("
                    + ", ".join(
                        " ".join(tk.text for tk in a).strip() for a in args
                    )
                    + ")"
                )
            if rest[0].kind == "op" and rest[0].text in ("+", "-") and len(rest) > 1:
                return rest[0].text + rest[1].text
            return rest[0].text
    return None


def _parse_checks(toks) -> list[tuple[str, str]]:
    """Extract CHECK constraints from a column-def/constraint token list
    (RAW tokens — original spacing must survive, SQLite's error message is
    the verbatim expression text): (label, expr) where label is the
    preceding CONSTRAINT name if given, else the expression text."""
    toks = list(toks)
    sig_idx = [i for i, t in enumerate(toks) if t.kind not in ("space", "comment")]
    out: list[tuple[str, str]] = []
    for si, i in enumerate(sig_idx):
        t = toks[i]
        if t.kind != "word" or t.text.upper() != "CHECK":
            continue
        if si + 1 >= len(sig_idx):
            continue
        j = sig_idx[si + 1]
        if not (toks[j].kind == "op" and toks[j].text == "("):
            continue
        args, _close = dialect._find_call_args(toks, j)
        expr = ", ".join(dialect.render(list(a)).strip() for a in args)
        label = expr
        if (
            si >= 2
            and toks[sig_idx[si - 2]].kind == "word"
            and toks[sig_idx[si - 2]].text.upper() == "CONSTRAINT"
        ):
            label = _unquote(toks[sig_idx[si - 1]].text)
        out.append((label, expr))
    return out


@dataclass
class Trigger:
    """One parsed CREATE TRIGGER (SURVEY §2.B14).

    Scope — the common SQLite row-trigger shape (reference semantics:
    trough/write.py:40 executescript()s scripts inside SQLite, where
    recorded triggers fire on subsequent DML):

    - BEFORE/AFTER x INSERT/UPDATE[ OF cols]/DELETE ON table, FOR EACH ROW
      (SQLite's only granularity), optional WHEN;
    - INSTEAD OF x INSERT/UPDATE[ OF cols]/DELETE ON view (round 6):
      view DML fires the bodies per row in place of the write, probed
      SQLite semantics (registration cross-checks view vs table targets);
    - body statements: INSERT / UPDATE / DELETE / ``SELECT RAISE(...)``;
    - a firing trigger never re-enters itself; cross-table cascades fire
      (probed live-SQLite ``PRAGMA recursive_triggers=OFF`` semantics).
    """

    name: str
    timing: str  # "BEFORE" | "AFTER"
    event: str  # "INSERT" | "UPDATE" | "DELETE"
    table: str
    update_cols: list[str]  # UPDATE OF columns, lowercased; [] = any column
    when: str | None
    body: list[str]
    sql: str


class TriggerAbort(QueryRejected):
    """RAISE(ABORT|FAIL|ROLLBACK, msg) fired inside a trigger body — the
    script write rolls back, mirroring SQLite's abort-the-transaction
    behavior under the reference's one-txn-per-POST model (write.py:39)."""


class _TriggerIgnore(Exception):
    """RAISE(IGNORE): abandon the rest of THIS trigger's body for THIS row;
    in a BEFORE trigger, also skip the row change itself (SQLite lang doc).
    Internal control flow — never escapes _fire_triggers."""


_TRIGGER_RE = re.compile(
    r"^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?TRIGGER\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[\w\"\[\]`]+)\s+"
    r"(?:(?P<timing>BEFORE|AFTER|INSTEAD\s+OF)\s+)?"
    r"(?P<event>DELETE|INSERT|UPDATE)"
    r"(?:\s+OF\s+(?P<cols>[^()]+?))?\s+"
    r"ON\s+(?P<table>[\w\"\[\]`]+)\s+"
    r"(?:FOR\s+EACH\s+ROW\s+)?"
    r"(?:WHEN\s+(?P<when>.+?)\s+)?"
    r"BEGIN\s+(?P<body>.+?)\s*;?\s*END\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_RAISE_RE = re.compile(
    r"^\s*SELECT\s+RAISE\s*\(\s*(?P<kind>ABORT|FAIL|ROLLBACK|IGNORE)\s*"
    r"(?:,\s*'(?P<msg>(?:[^']|'')*)'\s*)?\)\s*(?:WHERE\s+(?P<where>.+))?$",
    re.IGNORECASE | re.DOTALL,
)


def parse_create_trigger(stmt: str) -> Trigger:
    m = _TRIGGER_RE.match(stmt)
    if not m:
        raise QueryRejected(f"unsupported CREATE TRIGGER form: {stmt[:80]!r}")
    timing = re.sub(r"\s+", " ", (m.group("timing") or "BEFORE").upper())
    body = [s for s in dialect.split_statements(m.group("body")) if s.strip()]
    if not body:
        raise QueryRejected(f"empty trigger body: {stmt[:80]!r}")
    when = m.group("when")
    # WHEN containing a scalar subquery is supported since round 10: it is
    # evaluated PER ROW against live (mid-script, mid-statement) table
    # state through the read path — see SegmentStore._eval_when_live and
    # the _observes_state routing that forces the per-row interleave.
    for b in body:
        kind = dialect.statement_type(b)
        if kind == "SELECT":
            rm = _RAISE_RE.match(b)
            if not rm:
                raise QueryRejected(
                    f"only SELECT RAISE(...) is supported in trigger bodies: {b[:60]!r}"
                )
        elif kind not in ("INSERT", "REPLACE", "UPDATE", "DELETE"):
            raise QueryRejected(f"unsupported trigger body statement: {b[:60]!r}")
        elif _split_returning(b)[1] is not None:
            # SQLite rejects this at CREATE TRIGGER time (probed), verbatim
            raise QueryRejected("cannot use RETURNING in a trigger")
    return Trigger(
        name=_unquote(m.group("name")),
        timing=timing,
        event=m.group("event").upper(),
        table=_unquote(m.group("table")),
        update_cols=[
            _unquote(c.strip()).lower()
            for c in (m.group("cols") or "").split(",")
            if c.strip()
        ],
        when=m.group("when"),
        body=body,
        sql=stmt,
    )


_CREATE_WHAT_RE = re.compile(
    r"^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?(?:UNIQUE\s+)?"
    r"(?P<what>TABLE|INDEX|VIEW|TRIGGER)\b",
    re.IGNORECASE,
)


def _if_not_exists(stmt: str) -> bool:
    """True for ``CREATE ... IF NOT EXISTS name``."""
    return re.match(r"(?is)[^(]*?\bIF\s+NOT\s+EXISTS\b", stmt) is not None


def _create_kind(stmt: str) -> str:
    """What a CREATE statement creates — from the statement PREFIX, never a
    body word-search (a table named ``trigger_log`` or a trigger body
    containing the word TABLE must not confuse the dispatch)."""
    m = _CREATE_WHAT_RE.match(stmt)
    return m.group("what").upper() if m else ""


_CREATE_INDEX_RE = re.compile(
    r"^\s*CREATE\s+(?:(?P<unique>UNIQUE)\s+)?INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[\w\"\[\]`]+)\s+ON\s+(?P<table>[\w\"\[\]`]+)\s*"
    r"\((?P<cols>[^)]*)\)\s*(?P<tail>.*)$",
    re.IGNORECASE | re.DOTALL,
)


def parse_create_index(stmt: str):
    """Parse CREATE [UNIQUE] INDEX → (name, table, unique, [(col,
    explicit_collation|None)]).  A UNIQUE index is an enforceable
    constraint (probed: it raises 'UNIQUE constraint failed: t.col'
    exactly like a table-level UNIQUE), so the forms whose uniqueness
    this engine cannot enforce are rejected LOUDLY: partial unique
    indexes (WHERE ...) and expression entries.  Plain (non-unique)
    indexes never reach this — Parquet stats + pruning replace them."""
    m = _CREATE_INDEX_RE.match(stmt)
    if not m:
        raise QueryRejected(f"unsupported CREATE INDEX form: {stmt[:80]!r}")
    unique = m.group("unique") is not None
    tail = (m.group("tail") or "").strip()
    entries = []
    for c in m.group("cols").split(","):
        mcoll = re.search(r"(?is)\bCOLLATE\s+(\w+)", c)
        nm = re.sub(
            r"(?is)\s+(?:COLLATE\s+\w+|ASC|DESC)(?=\s|$)", "", c.strip()
        ).strip()
        if unique and not re.match(r'^[\w"\[\]`]+$', nm):
            raise QueryRejected(
                f"UNIQUE INDEX expression entries are not supported: {c.strip()!r}"
            )
        entries.append(
            (
                _unquote(nm),
                _check_collation(mcoll.group(1)) if mcoll else None,
            )
        )
    # checked AFTER entries so an expression entry containing parens (the
    # cols regex stops at the first ')') gets the expression diagnostic,
    # not a bogus partial-index one
    if unique and tail:
        raise QueryRejected(
            f"partial UNIQUE INDEX is not supported: {stmt[:80]!r}"
        )
    return _unquote(m.group("name")), _unquote(m.group("table")), unique, entries


def _resolve_index_uniques(
    ts: TableSchema, entries: list, stmt: str
) -> tuple[list[str], list[str]]:
    """Validate a unique index's entries against the table and resolve
    each collation (explicit beats the column's, else BINARY)."""
    declared = {n.lower() for n, _ in ts.fields}
    cols, colls = [], []
    for c, ecoll in entries:
        if c.lower() not in declared:
            raise QueryRejected(f"no such column: {c} in {stmt[:80]!r}")
        cols.append(c)
        colls.append(ecoll or ts.collations.get(c.lower(), "BINARY"))
    return cols, colls


def parse_schema_sql(schema_id: str, sql: str) -> Schema:
    """Parse a registered schema's DDL script: CREATE TABLE statements define
    tables; other DML (seed INSERTs, reference tests/wsgi:65-66) is kept and
    replayed at provision time.  Raises QueryRejected on invalid DDL —
    replacing the reference's validate-by-executing-in-:memory:-SQLite
    (trough/sync.py:749-756)."""
    schema = Schema(id=schema_id, sql=sql)
    unique_index_stmts: list[str] = []
    for stmt in dialect.split_statements(sql):
        kind = dialect.statement_type(stmt)
        if kind == "CREATE":
            what = _create_kind(stmt)
            if what == "TABLE":
                ts = parse_create_table(stmt)
                schema.tables[ts.name] = ts
            elif what == "TRIGGER":
                parse_create_trigger(stmt)  # validate DDL at registration
                schema.seed_statements.append(stmt)
            elif what in ("INDEX", "VIEW"):
                # plain indexes are a no-op (Parquet stats + pruning
                # replace them); UNIQUE indexes are CONSTRAINTS — checked
                # after the loop (the table must parse first); both they
                # and views land in each segment by the seed replay
                if what == "INDEX" and re.match(
                    r"^\s*CREATE\s+UNIQUE\s", stmt, re.IGNORECASE
                ):
                    unique_index_stmts.append(stmt)
                schema.seed_statements.append(stmt)
            else:
                raise QueryRejected(f"invalid schema sql: {stmt[:80]!r}")
        elif kind in ("INSERT", "UPDATE", "DELETE"):
            schema.seed_statements.append(stmt)
        elif kind == "":
            continue
        else:
            raise QueryRejected(f"invalid schema sql statement type {kind}: {stmt[:80]!r}")
    by_lower = {t.lower(): ts for t, ts in schema.tables.items()}
    for stmt in unique_index_stmts:
        _iname, tbl, _u, entries = parse_create_index(stmt)
        if tbl.lower() not in by_lower:
            raise QueryRejected(f"no such table: {tbl} in {stmt[:80]!r}")
        _resolve_index_uniques(by_lower[tbl.lower()], entries, stmt)
    return schema


# ---------------------------------------------------------------------------
# the store
# ---------------------------------------------------------------------------

_LAST_ROWID_RE = re.compile(r"(?i)\blast_insert_rowid\s*\(\s*\)")


def _map_outside_literals(stmt: str, fn) -> str:
    """Apply ``fn`` to every UNQUOTED run of a statement: quoted runs
    (``'...'`` with ``''`` escapes, ``"..."`` likewise) are copied verbatim,
    so a quoted occurrence of a rewritable token (e.g. a logged SQL fragment
    stored as data) survives untouched."""
    out: list[str] = []
    i, n = 0, len(stmt)
    while i < n:
        ch = stmt[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n:
                if stmt[j] == ch:
                    if j + 1 < n and stmt[j + 1] == ch:  # doubled-quote escape
                        j += 2
                        continue
                    break
                j += 1
            out.append(stmt[i : min(j + 1, n)])
            i = j + 1
        else:
            j = i
            while j < n and stmt[j] not in ("'", '"'):
                j += 1
            out.append(fn(stmt[i:j]))
            i = j
    return "".join(out)


def _sub_last_insert_rowid(stmt: str, value: int) -> str:
    """Replace ``last_insert_rowid()`` with ``value`` outside literals."""
    return _map_outside_literals(stmt, lambda s: _LAST_ROWID_RE.sub(str(value), s))


_DELETE_STMT_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<name>[\w\"\[\]`]+)\s*(?:WHERE\s+(?P<where>.+))?$",
    re.IGNORECASE | re.DOTALL,
)

_UPDATE_STMT_RE = re.compile(
    r"^\s*UPDATE\s+(?:OR\s+(?P<mode>IGNORE|REPLACE|ABORT|FAIL|ROLLBACK)\s+)?"
    r"(?P<name>[\w\"\[\]`]+)\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<where>.+))?$",
    re.IGNORECASE | re.DOTALL,
)


def _update_parts(m: re.Match) -> tuple[str, str | None, str | None]:
    """(sets, from|None, where|None) for an UPDATE statement match.

    The statement regex splits on the FIRST ``WHERE`` textually, which may
    sit inside a SET subquery; and a SQLite-3.33 ``FROM`` tail is swallowed
    into the sets group entirely.  Re-join the tail and split it on the
    first DEPTH-0 FROM / WHERE keywords via the tokenizer (parens and
    string literals never match)."""
    tail = m.group("sets")
    if m.group("where") is not None:
        tail += " WHERE " + m.group("where")
    toks = dialect.tokenize(tail)
    depth = 0
    from_i = where_i = None
    for i, t in enumerate(toks):
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif t.kind == "word" and depth == 0:
            up = t.text.upper()
            if up == "FROM" and from_i is None and where_i is None:
                from_i = i
            elif up == "WHERE" and where_i is None:
                where_i = i
                break
    end_sets = from_i if from_i is not None else (
        where_i if where_i is not None else len(toks)
    )
    sets_text = dialect.render(toks[:end_sets]).strip()
    from_text = (
        dialect.render(
            toks[from_i + 1 : where_i if where_i is not None else len(toks)]
        ).strip()
        if from_i is not None
        else None
    )
    where_text = (
        dialect.render(toks[where_i + 1 :]).strip()
        if where_i is not None
        else None
    )
    return sets_text, from_text, where_text


def _update_mode(m: re.Match) -> str | None:
    """UPDATE OR IGNORE/REPLACE; ABORT/FAIL/ROLLBACK normalize to None
    (they converge under the all-or-nothing script transaction, same
    argument as ``_insert_mode``)."""
    mode = (m.group("mode") or "").upper() or None
    return None if mode in ("ABORT", "FAIL", "ROLLBACK") else mode

_NEWOLD_RE = re.compile(r'(?i)\b(NEW|OLD)\s*\.\s*([A-Za-z_]\w*|"[^"]+")')


def _rewrite_upsert_refs(expr: str, table: str, cols: set[str]) -> str:
    """Rewrite a DO UPDATE SET/WHERE expression for per-row binding on the
    triggered-upsert path: ``excluded.c`` → ``NEW.c``; ``<table>.c`` and
    bare declared columns → ``OLD.c`` (SQLite upsert scoping,
    sqlite.org/lang_upsert.html: unqualified names resolve to the existing
    pre-update row).  Token-level, so string literals and other qualifiers
    are untouched; a bare name followed by ``(`` is a function call."""
    toks = list(dialect.tokenize(expr))
    out: list[str] = []
    i, n = 0, len(toks)

    def next_nonspace(j: int) -> int:
        while j < n and toks[j].kind == "space":
            j += 1
        return j

    while i < n:
        t = toks[i]
        if t.kind == "word":
            low = t.text.lower()
            j = next_nonspace(i + 1)
            if j < n and toks[j].kind == "op" and toks[j].text == ".":
                k = next_nonspace(j + 1)
                if k < n and toks[k].kind == "word":
                    if low == "excluded":
                        out.append(f"NEW.{toks[k].text}")
                        i = k + 1
                        continue
                    if low == table.lower():
                        out.append(f"OLD.{toks[k].text}")
                        i = k + 1
                        continue
                # other qualifier (e.g. a subquery alias): leave verbatim
                out.append(t.text)
                i += 1
                continue
            if (
                low in cols
                and low not in ("new", "old", "excluded")
                and not (j < n and toks[j].text == "(")
            ):
                out.append(f"OLD.{t.text}")
                i += 1
                continue
        out.append(t.text)
        i += 1
    return "".join(out)


def _sub_new_old(text: str, new_row, old_row) -> str:
    """Bind a trigger body/WHEN's ``NEW.col`` / ``OLD.col`` references to the
    affected row's values as SQL literals (literal-aware: quoted occurrences
    untouched).  This is SQLite's per-row trigger evaluation model made
    explicit — each fired row produces a fully-constant statement."""

    def run(seg: str) -> str:
        def repl(m: re.Match) -> str:
            which = m.group(1).upper()
            row = new_row if which == "NEW" else old_row
            if row is None:
                raise QueryRejected(
                    f"{which}.* is not available in this trigger context"
                )
            col = _unquote(m.group(2))
            d = row.asDict() if hasattr(row, "asDict") else dict(row)
            for k, v in d.items():
                if k.lower() == col.lower():
                    return dialect.sql_value(v)
            raise QueryRejected(f"no such trigger column: {which}.{col}")

        return _NEWOLD_RE.sub(repl, seg)

    return _map_outside_literals(text, run)


def _split_returning(stmt: str) -> tuple[str, str | None]:
    """Split a trailing top-level ``RETURNING`` clause off a DML statement
    (SQLite 3.35+, lang_returning.html).  Literal-aware via the dialect
    tokenizer — a quoted ``' RETURNING '`` never matches, and a RETURNING
    inside parens (a subquery) is not top-level."""
    toks = dialect.tokenize(stmt)
    depth = 0
    for i, t in enumerate(toks):
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif t.kind == "word" and depth == 0 and t.text.upper() == "RETURNING":
            clause = dialect.render(toks[i + 1 :]).strip()
            if not clause:
                raise QueryRejected("RETURNING clause with no expressions")
            return dialect.render(toks[:i]).rstrip(), clause
    return stmt, None


# words that can legally END an expression, so a trailing bare word after
# them is NOT a column alias ("a IS NOT NULL", "x COLLATE NOCASE"); plus
# value words that are themselves expression tails, never aliases
_RET_NOT_ALIAS = frozenset({"null", "end", "true", "false"})
_RET_ALIAS_BLOCKERS = frozenset({
    "collate", "is", "not", "escape", "then", "else", "when", "case",
    "and", "or", "in", "between", "like", "glob", "regexp", "match",
    "distinct", "as",
})
_RET_AGGREGATES = frozenset({
    "count", "total", "group_concat", "string_agg", "avg", "sum",
})


def _split_returning_items(clause: str) -> list[tuple[str, str | None]]:
    """Parse a RETURNING clause into ``[(expr_src, alias|None)]``.

    Top-level comma split via the tokenizer; an ``AS alias`` tail or a
    trailing bare identifier (SQLite's result-column grammar) is the
    alias.  The output column NAME of an unaliased expression is its
    source text exactly as typed (probed: ``RETURNING id+1`` names the
    column ``id+1``)."""
    tokens = dialect.tokenize(clause)
    parts: list[list] = [[]]
    depth = 0
    for t in tokens:
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        if t.kind == "op" and t.text == "," and depth == 0:
            parts.append([])
        else:
            parts[-1].append(t)
    items: list[tuple[str, str | None]] = []
    for part in parts:
        sig_idx = [
            i for i, t in enumerate(part) if t.kind not in ("space", "comment")
        ]
        if not sig_idx:
            raise QueryRejected("empty expression in RETURNING clause")
        sig = [part[i] for i in sig_idx]
        alias = None
        end = len(part)  # cut point: tokens [0:end) form the expression
        if (
            len(sig) >= 3
            and sig[-1].kind == "word"
            and sig[-2].kind == "word"
            and sig[-2].text.upper() == "AS"
        ):
            alias = _unquote(sig[-1].text)
            end = sig_idx[-2]
        elif (
            len(sig) >= 2
            and sig[-1].kind == "word"
            and sig[-1].text.lower() not in _RET_NOT_ALIAS
            and (
                sig[-2].kind in ("word", "number", "string")
                or (sig[-2].kind == "op" and sig[-2].text == ")")
            )
            and sig[-2].text.lower() not in _RET_ALIAS_BLOCKERS
        ):
            alias = _unquote(sig[-1].text)
            end = sig_idx[-1]
        items.append((dialect.render(part[:end]).strip(), alias))
    return items


def _assert_returning_expr(src: str) -> None:
    """Reject RETURNING expression forms up front: subqueries (SQLite
    evaluates them ONCE after the first affected row and caches — probed;
    out of scope, rejected loudly rather than silently diverging) and
    aggregate functions (SQLite's verbatim 'misuse of aggregate' error)."""
    toks = [t for t in dialect.tokenize(src) if t.kind not in ("space", "comment")]
    for j, t in enumerate(toks):
        if t.kind != "word":
            continue
        up = t.text.upper()
        if up in ("SELECT", "EXISTS"):
            raise QueryRejected(
                "subqueries in RETURNING are not supported (SQLite "
                "evaluates them once after the first affected row and "
                f"caches the value — out of scope): {src[:80]!r}"
            )
        low = t.text.lower()
        calls = j + 1 < len(toks) and toks[j + 1].kind == "op" and toks[j + 1].text == "("
        if calls and low in _RET_AGGREGATES:
            raise QueryRejected(f"misuse of aggregate function {low}()")
        if calls and low in ("min", "max"):
            # single-argument min/max is the AGGREGATE form (probed:
            # 'misuse of aggregate function min()'); 2+ args is scalar
            depth, args, k = 0, 1, j + 1
            while k < len(toks):
                tk = toks[k]
                if tk.kind == "op" and tk.text == "(":
                    depth += 1
                elif tk.kind == "op" and tk.text == ")":
                    depth -= 1
                    if depth == 0:
                        break
                elif tk.kind == "op" and tk.text == "," and depth == 1:
                    args += 1
                k += 1
            if args == 1:
                raise QueryRejected(f"misuse of aggregate function {low}()")


_STRICT_NUMERIC_RE = re.compile(
    r"^\s*[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?\s*$"
)


def _strict_coerce_row(ts: TableSchema, table: str, d: dict) -> dict:
    """SQLite STRICT storage enforcement for one row of Python values
    (stricttables.html §3, all probed live): lossless coercions apply
    ('12' -> 12 into INTEGER, 2.0 -> 2, numbers render as text into TEXT),
    everything else raises SQLite's verbatim
    'cannot store X value in TYPE column t.c'."""
    decls = {
        c: ts.col_decls.get(c.lower(), {}).get("type", "").strip().upper()
        for c in d
    }

    def err(col: str, vtype: str, decl: str):
        return QueryRejected(
            f"cannot store {vtype} value in {decl} column {table}.{col}"
        )

    out = dict(d)
    for col, v in d.items():
        decl = decls[col]
        if v is None or decl in ("", "ANY"):
            continue
        if isinstance(v, bool):
            v = int(v)
        if isinstance(v, (bytes, bytearray)):
            if decl != "BLOB":
                raise err(col, "BLOB", decl)
            continue
        if decl == "BLOB":
            vt = (
                "INT" if isinstance(v, int)
                else "REAL" if isinstance(v, float) else "TEXT"
            )
            raise err(col, vt, decl)
        if isinstance(v, int):
            out[col] = str(v) if decl == "TEXT" else v
            continue
        if isinstance(v, float):
            if decl in ("INT", "INTEGER"):
                if v != v or v in (float("inf"), float("-inf")) or not float(v).is_integer():
                    raise err(col, "REAL", decl)
                out[col] = int(v)
            elif decl == "TEXT":
                out[col] = str(v)
            continue
        # str
        if decl == "TEXT":
            continue
        if not _STRICT_NUMERIC_RE.match(v):
            raise err(col, "TEXT", decl)
        num = float(v)
        if decl in ("INT", "INTEGER"):
            if not num.is_integer():
                raise err(col, "REAL", decl)
            out[col] = int(num)
        else:  # REAL
            out[col] = num
    return out


class _RetCapture:
    """Per-statement RETURNING accumulator.  Landing sites on the write
    path call ``_ret_add`` with the final row images they commit; the
    ``depth`` counter suppresses capture from trigger-body writes and from
    inner helper dispatches that would double-count."""

    __slots__ = ("table", "rows", "schema", "depth")

    def __init__(self, table_lower: str):
        self.table = table_lower
        self.rows: list = []
        self.schema: T.StructType | None = None
        self.depth = 0


class _ChangeSet:
    """One UPDATE or DELETE evaluated once, as ``SegmentStore._change_set``
    collects it: the table's rows in file order, a ``__trough_hit__`` mask
    and, for an UPDATE, every row's post-image in the declared columns with
    the prior value of each column it may change in ``__trough_old<j>__``
    (``j`` the column's position).  The write, the trigger pairs and the
    RETURNING rows all derive from it."""

    def __init__(self, kind: str, ts: TableSchema, image: pa.Table, sets: set[str]):
        names = [n for n, _t in ts.fields]
        self.kind, self.ts, self.sets = kind, ts, sets
        self.hit = image["__trough_hit__"]
        self.hits = image.filter(self.hit)
        # the table's whole post-image, the rows the write puts down
        self.post = (image if kind == "UPDATE" else image.filter(pc.invert(self.hit))).select(names)

    def rows(self, table: pa.Table) -> list[Row]:
        """Rows as ``DataFrame.collect`` gives them."""
        return ArrowTableToRowsConversion.convert(table, self.ts.struct(), binary_as_bytes=False)

    def returned(self) -> list[Row]:
        """The rows RETURNING reports: the removed rows of a DELETE, the
        new images of the rows an UPDATE hit."""
        return self.rows(self.hits.select(self.post.column_names))

    def pairs(self) -> list[tuple]:
        """(OLD, NEW) per hit row, NEW None for a DELETE."""
        old = self.hits.select(self.post.column_names)
        for j, name in enumerate(old.column_names):
            if f"__trough_old{j}__" in self.hits.column_names:
                old = old.set_column(j, name, self.hits[f"__trough_old{j}__"])
        if self.kind == "DELETE":
            return [(o, None) for o in self.rows(old)]
        return list(zip(self.rows(old), self.returned()))


class SegmentNotFound(KeyError):
    """The named segment is not provisioned (a client error: HTTP 404)."""


class TableNotFound(KeyError):
    """The named table is not in the segment (a client error: HTTP 404)."""


class WriteLockError(RuntimeError):
    """Another process holds the segment's write lock (the reference's
    one-writer-per-segment rule, trough/write.py:55-57 / sync.py:130-145)."""


def _drop_views(spark: SparkSession, views: OrderedDict, frontier: str) -> None:
    """Finalizer of a ``SegmentStore``: drop its temp views from the
    session.  A stopped session has no views left to drop.  The collector
    runs this at any point on any thread, where a JVM call can fail (a
    ``Py4JError`` from ``dropTempView`` was seen in the test suite); the
    views are then left to the session."""
    if spark.sparkContext._jsc is None:
        return
    try:
        for name in [frontier, *(name for _, name in views.values())]:
            spark.catalog.dropTempView(name)
    except Py4JError:
        pass


class _WriteTxn:
    """Script-level rollback journal, giving the write path the reference's
    all-or-nothing transaction semantics (BEGIN…COMMIT per POST,
    trough/write.py:39).  Before the first mutation of each partition the
    file listing is snapshotted (appends are rolled back by deleting files
    not in the snapshot); partition overwrites keep their `._old` backup
    until commit; the written segment's registry entry (a script changes
    no other) and the auto-increment marks are restored on rollback."""

    def __init__(self, store: "SegmentStore", segment_id: str):
        self.store = store
        self.snapshots: dict[str, set[str] | None] = {}
        self.overwrites: list[tuple[str, str]] = []  # (live_path, backup_path)
        self.moves: list[tuple[str, str]] = []  # (src, dst) dir renames
        self.segment_id = segment_id
        self.entry_before = json.loads(json.dumps(store._meta["segments"][segment_id]))
        self.hwm_before = dict(store._hwm)
        self.last_auto_before = dict(store._last_auto)

    @staticmethod
    def _listing(path: str) -> set[str]:
        """Recursive relative file listing — recursive (not top-level) so
        entries added inside subdirectories during the script are rolled
        back too."""
        out: set[str] = set()
        for base, _, files in os.walk(path):
            rel = os.path.relpath(base, path)
            for f in files:
                out.add(os.path.normpath(os.path.join(rel, f)))
        return out

    def before_append(self, path: str) -> None:
        if path not in self.snapshots:
            self.snapshots[path] = self._listing(path) if os.path.isdir(path) else None

    def register_overwrite(self, path: str, bak: str) -> None:
        # NB: the pre-overwrite snapshot must already have been taken
        # (before_append is idempotent and called before the swap)
        self.overwrites.append((path, bak))

    def commit(self) -> None:
        for _, bak in self.overwrites:
            shutil.rmtree(bak, ignore_errors=True)

    def record_move(self, src: str, dst: str) -> None:
        self.moves.append((src, dst))

    def rollback(self) -> None:
        # undo renames newest-first, then overwrites, then appends
        for src, dst in reversed(self.moves):
            if os.path.isdir(dst) and not os.path.isdir(src):
                os.replace(dst, src)
        for path, bak in reversed(self.overwrites):
            if os.path.isdir(bak):
                shutil.rmtree(path, ignore_errors=True)
                os.replace(bak, path)
        for path, before in self.snapshots.items():
            if before is None:
                shutil.rmtree(path, ignore_errors=True)
            elif os.path.isdir(path):
                for name in self._listing(path) - before:
                    full = os.path.join(path, name)
                    if os.path.exists(full):
                        os.remove(full)
                # prune directories emptied by the file removals (re-listed
                # bottom-up: a parent's cached walk entries go stale as its
                # children are removed)
                for base, _, _ in os.walk(path, topdown=False):
                    if base != path and not os.listdir(base):
                        os.rmdir(base)
        segments = self.store._meta["segments"]
        if segments[self.segment_id] != self.entry_before:
            segments[self.segment_id] = self.entry_before
            self.store._save_meta()
        self.store._hwm = self.hwm_before
        self.store._last_auto = self.last_auto_before


class SegmentStore:
    """Segment lifecycle + query routing over partitioned Parquet.

    API mirrors the reference's segment-manager + read/write services
    (trough/wsgi/segment_manager.py:8-130, read.py, write.py).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        # register the reference's three SQL functions for un-shimmed SQL,
        # mirroring setup_connection (trough/read.py:64 → sync.py:84-86)
        from trough_spark.functions import register_all

        register_all(spark)
        os.makedirs(f"{self.root}/tables", exist_ok=True)
        self._registry_path = f"{self.root}/_meta.json"
        self._meta = self._load_meta()
        self._seen = self._meta_seen()
        # point-read view cache: each segment table, segment view and
        # sqlite_master content is a temp view under its own internal name,
        # bound into each statement by a WITH prefix, so segments never
        # share or replace each other's registrations.  slot -> (key, view
        # name), least recently used first; a table's key embeds an os.stat
        # fingerprint of its data directory, so writes from ANY process
        # invalidate, and the superseded view is dropped at once.
        self._views: OrderedDict[tuple, tuple] = OrderedDict()
        self._view_capacity = 256  # point_read's 64 segments, and room
        token = secrets.token_hex(8)
        self._view_names = (f"{_VIEW_PREFIX}{token}_{n}" for n in itertools.count())
        self._frontier_view = next(self._view_names)  # WITH RECURSIVE
        self._view_counts = {"registrations": 0, "hits": 0, "evictions": 0}
        # the session outlives the store: a discarded store drops its views
        weakref.finalize(
            self, _drop_views, spark, self._views, self._frontier_view
        ).atexit = False
        # per-(segment, table) auto-increment high-water marks, lazily
        # initialized from storage (segments are small by design)
        self._hwm: dict[tuple[str, str], int] = {}
        # per-segment id of the LAST autoincrement value actually assigned —
        # the Cursor.lastrowid source (inferring it from _hwm goes stale as
        # soon as a second autoincremented table gets a high-water mark)
        self._last_auto: dict[str, int] = {}
        self._active_txn: _WriteTxn | None = None
        self._ret: _RetCapture | None = None
        # names (lowercased) of triggers currently on the firing stack: body
        # DML fires OTHER tables' triggers (cascading), but a trigger already
        # firing never re-enters itself — probed live-SQLite semantics of the
        # default PRAGMA recursive_triggers=OFF (a trigger on A whose body
        # inserts into B DOES fire B's triggers; only re-entry is suppressed)
        self._trigger_stack: list[str] = []

    # -- metadata ----------------------------------------------------------

    def _load_meta(self) -> dict:
        if os.path.exists(self._registry_path):
            with open(self._registry_path) as f:
                return json.load(f)
        return {"schemas": {"default": ""}, "segments": {}}

    def _meta_seen(self) -> dict:
        """Each registry entry as this store last read or wrote it."""
        return {
            part: {k: json.dumps(v, sort_keys=True) for k, v in self._meta[part].items()}
            for part in ("schemas", "segments")
        }

    lock_timeout: float = 10.0  # seconds an acquirer waits before failing

    @contextlib.contextmanager
    def _file_lock(self, name: str, timeout: float | None = None):
        """O_EXCL lockfile under the store root — the cross-PROCESS half of
        the reference's single-writer guarantee (trough/write.py:55-57);
        within one process the store is single-writer by construction.
        Stale locks from dead local processes are stolen; a live holder
        fails the acquirer with WriteLockError after ``timeout``.  Re-entrant
        per store instance (write() holds the segment lock while _save_meta
        takes the meta lock — different names, no deadlock).  It is a local-
        filesystem lock, not a cluster one."""
        os.makedirs(os.path.join(self.root, "_locks"), exist_ok=True)
        path = os.path.join(self.root, "_locks", f"{name}.lock")
        deadline = time.monotonic() + (self.lock_timeout if timeout is None else timeout)
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(
                    fd,
                    json.dumps({"pid": os.getpid(), "host": socket.gethostname()}).encode(),
                )
                os.close(fd)
                break
            except FileExistsError:
                stale = False
                holder = None
                try:
                    with open(path) as f:
                        holder = json.load(f)
                    if holder.get("host") == socket.gethostname():
                        os.kill(int(holder["pid"]), 0)  # raises if dead
                except ProcessLookupError:
                    stale = True  # local holder is dead
                except PermissionError:
                    pass  # alive, not ours
                except (ValueError, KeyError, OSError):
                    # unreadable content may be a holder BETWEEN creat and
                    # write — only steal after a grace period
                    with contextlib.suppress(OSError):
                        stale = time.time() - os.path.getmtime(path) > 1.0
                if stale:
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(path)
                    continue
                if time.monotonic() >= deadline:
                    raise WriteLockError(
                        f"write lock {name!r} held by {holder!r}"
                    ) from None
                time.sleep(0.05)
        try:
            yield
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)

    def _save_meta(self) -> None:
        """Publish the registry entries this store changed since it last
        read or wrote the file, over what is on disk now, so another store
        on the same root keeps what it registered meanwhile; the store's
        other entries are refreshed from disk in place (a held ``info``
        dict stays valid)."""
        with self._file_lock("_meta"):
            disk = self._load_meta()
            for part, seen in self._seen.items():
                mine, theirs = self._meta[part], disk[part]
                for k in set(seen) - set(mine):
                    theirs.pop(k, None)  # deleted here
                for k, v in mine.items():
                    if json.dumps(v, sort_keys=True) != seen.get(k):
                        theirs[k] = v  # created or changed here
                for k in set(mine) - set(theirs):
                    del mine[k]
                for k, v in theirs.items():
                    if isinstance(mine.get(k), dict) and mine[k] is not v:
                        mine[k].clear()
                        mine[k].update(v)
                    else:
                        mine[k] = v
            self._seen = self._meta_seen()
            tmp = self._registry_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._meta, f, sort_keys=True, separators=(",", ":"))
            os.replace(tmp, self._registry_path)  # atomic, like the reference's
            # _COPYING_ + mv publish (sync.py:1130-1146)

    # -- schema registry (A26; wsgi/segment_manager.py:54-114) --------------

    def list_schemas(self) -> list[str]:
        return sorted(self._meta["schemas"])

    def get_schema_sql(self, schema_id: str) -> str | None:
        return self._meta["schemas"].get(schema_id)

    def set_schema(self, schema_id: str, sql: str) -> bool:
        """Register/replace a named schema.  Returns True if created, False
        if updated.  Raises QueryRejected on invalid id or SQL (the
        reference's 400 contract, segment_manager.py:70-101)."""
        if not re.fullmatch(r"[a-zA-Z0-9_-]+", schema_id):
            raise QueryRejected(
                "schema id must match ^[a-zA-Z0-9_-]+$ (reference segment_manager.py:77)"
            )
        parse_schema_sql(schema_id, sql)  # validation
        created = schema_id not in self._meta["schemas"]
        self._meta["schemas"][schema_id] = sql
        self._save_meta()
        return created

    def schema(self, schema_id: str) -> Schema:
        sql = self.get_schema_sql(schema_id)
        if sql is None:
            raise KeyError(f"no such schema {schema_id!r}")
        return parse_schema_sql(schema_id, sql)

    # -- segments ----------------------------------------------------------

    def list_segments(self) -> list[str]:
        return sorted(self._meta["segments"])

    def readable_segments(self) -> list[dict]:
        return [
            {"segment": seg, "schema": info["schema"]}
            for seg, info in sorted(self._meta["segments"].items())
        ]

    def segments_matching(self, regex: str) -> list[str]:
        """A13: regex segment lookup (reference client.py:171-188)."""
        pat = re.compile(regex)
        return [s for s in self.list_segments() if pat.search(s)]

    def provision(self, segment_id: str, schema_id: str = "default") -> dict:
        """Create-or-get a writable segment (A21; reference
        sync.py:673-725,1049-1110 minus all node/lock choreography)."""
        _validate_segment_id(segment_id)
        schema = self.schema(schema_id)
        existing = self._meta["segments"].get(segment_id)
        if existing is None:
            # the segment owns its copy of the table records from here on:
            # re-registering the schema changes only later segments
            self._meta["segments"][segment_id] = {
                "schema": schema_id,
                "tables": {t: _table_record(ts) for t, ts in schema.tables.items()},
            }
            self._save_meta()
            if schema.seed_statements:
                self.write(segment_id, ";\n".join(schema.seed_statements))
        return {
            "segment": segment_id,
            "schema": schema_id,
            "write_url": f"trough-spark://{self.root}#{segment_id}",
        }

    def _segment_info(self, segment_id: str) -> dict:
        info = self._meta["segments"].get(segment_id)
        if info is None:
            raise SegmentNotFound(f"segment {segment_id!r} not provisioned")
        return info

    def _table_path(self, table: str) -> str:
        return f"{self.root}/tables/{table}"

    def _partition_path(self, table: str, segment_id: str) -> str:
        return f"{self._table_path(table)}/segment_id={segment_id}"

    def _table_schema(self, segment_id: str, table: str) -> TableSchema:
        return self._table_schema_from_info(self._segment_info(segment_id), table, segment_id)

    def _table_schema_from_info(self, info: dict, table: str, label: str) -> TableSchema:
        name = _declared_name(info["tables"], table)
        if name is None:
            raise TableNotFound(f"no table {table!r} in segment {label!r}")
        return _record_table(name, info["tables"][name])

    def _stmt_table(self, segment_id: str, m: re.Match) -> str:
        """The table a statement's ``name`` group names, as its segment
        spells it."""
        name = _unquote(m.group("name"))
        return _declared_name(self._segment_info(segment_id)["tables"], name) or name

    def _save_table(self, info: dict, ts: TableSchema) -> None:
        info["tables"][ts.name] = _table_record(ts)
        self._save_meta()

    def _segment_tables(self, segment_id: str) -> list[str]:
        return sorted(self._segment_info(segment_id)["tables"])

    # -- write path (A5; reference write.py:23-44) ---------------------------

    def write(self, segment_id: str, sql_script: str) -> None:
        """Execute a SQL script against one segment.

        INSERTs are batched per table and committed as ONE append per table
        (the statement batch ≡ the reference's one-transaction-per-POST,
        write.py:39); UPDATE/DELETE rewrite the single affected partition —
        faithful to the reference's file-grained mutation model
        (SURVEY.md §2.B16).

        Returns the rows produced by any ``RETURNING`` clauses in the
        script (SQLite 3.35+), concatenated in statement order, as a list
        of dicts — empty when no statement has one.  RETURNING inherently
        materializes the affected rows driver-side; bounded by the one
        segment partition like every write."""
        raw_stmts = dialect.assert_write_allowed(sql_script)
        self._segment_info(segment_id)
        # pre-validation pass: reject unknown/unsupported statement forms
        # BEFORE any mutation; runtime failures mid-script roll back via
        # _WriteTxn below — together these give the reference's
        # all-or-nothing script transaction (write.py:39)
        supported = {
            "INSERT", "UPDATE", "DELETE", "CREATE", "DROP", "ALTER",
            "BEGIN", "COMMIT", "END", "PRAGMA", "VACUUM", "ANALYZE", "REPLACE",
        }
        stmts: list[tuple[str, str | None]] = []
        for stmt in raw_stmts:
            kind = dialect.statement_type(stmt)
            if kind not in supported:
                raise QueryRejected(f"unsupported write statement: {stmt[:80]!r}")
            ret = None
            if kind in ("INSERT", "REPLACE", "UPDATE", "DELETE"):
                stmt, ret = _split_returning(stmt)
                if ret is not None:
                    for src, _alias in _split_returning_items(ret):
                        if src != "*":
                            _assert_returning_expr(src)
            if kind == "INSERT" or kind == "REPLACE":
                self._match_insert(stmt)  # raises on unsupported INSERT form
            stmts.append((stmt, ret))
        pending: dict[str, list[Row]] = {}
        ret_out: list[dict] = []
        lock = self._file_lock(f"segment-{segment_id}")
        lock.__enter__()
        self._active_txn = _WriteTxn(self, segment_id)
        try:
            for stmt, ret in stmts:
                # same connection-state substitution the read path does, so
                # INSERT ... VALUES (last_insert_rowid()) works mid-script
                # with the value as of the PREVIOUS statement (sqlite3
                # semantics); literal-aware, quoted occurrences untouched
                stmt = _sub_last_insert_rowid(
                    stmt, self._last_auto.get(segment_id, 0)
                )
                kind = dialect.statement_type(stmt)
                if ret is not None:
                    self._ret = self._ret_begin(segment_id, stmt, kind)
                try:
                    self._dispatch_write_stmt(segment_id, stmt, kind, pending)
                    if ret is not None:
                        ret_out.extend(self._eval_returning(segment_id, ret))
                finally:
                    self._ret = None
            self._flush_inserts(segment_id, pending)
        except BaseException:
            self._active_txn.rollback()
            raise
        else:
            self._active_txn.commit()
        finally:
            self._active_txn = None
            lock.__exit__(None, None, None)
        return ret_out

    def _dispatch_write_stmt(
        self, segment_id: str, stmt: str, kind: str, pending: dict
    ) -> None:
        """One write-script statement through the right execution path
        (factored out of write() so the per-statement RETURNING capture
        has a single post-dispatch evaluation point)."""
        if kind in ("INSERT", "REPLACE"):
            if self._view_dml(segment_id, stmt, kind, pending):
                return
            if self._insert_with_triggers(segment_id, stmt, pending):
                return
            self._execute_insert(segment_id, stmt, pending)
        elif kind in ("UPDATE", "DELETE"):
            if self._view_dml(segment_id, stmt, kind, pending):
                return
            self._flush_inserts(segment_id, pending)
            self._dml_with_triggers(segment_id, stmt, kind, pending)
        elif kind == "CREATE":
            self._flush_inserts(segment_id, pending)
            self._write_path_create(segment_id, stmt)
        elif kind == "DROP":
            self._flush_inserts(segment_id, pending)
            self._write_path_drop(segment_id, stmt)
        elif kind == "ALTER":
            self._flush_inserts(segment_id, pending)
            self._write_path_alter(segment_id, stmt)
        elif kind == "PRAGMA":
            # case_sensitive_like is honored (dialect.py LIKE note);
            # other pragmas are implicit no-ops like the reference's
            # per-connection tuning pragmas
            m = re.match(
                r"^\s*PRAGMA\s+case_sensitive_like\s*=\s*(\w+)", stmt, re.IGNORECASE
            )
            if m:
                dialect.set_case_sensitive_like(
                    m.group(1).lower() in ("1", "on", "true", "yes")
                )
        # txn framing / other pragmas are implicit no-ops

    def _ret_begin(self, segment_id: str, stmt: str, kind: str) -> "_RetCapture":
        """Resolve a RETURNING statement's target and open the capture.
        View targets: INSERT returns the NEW rows and DELETE the OLD view
        rows (both probed); UPDATE is rejected — SQLite returns NULL for
        every column the SET didn't assign (probed quirk, out of scope)."""
        if kind in ("INSERT", "REPLACE"):
            tname = _unquote(self._match_insert(stmt).group("name"))
        elif kind == "UPDATE":
            m = _UPDATE_STMT_RE.match(stmt)
            if not m:
                raise QueryRejected(f"unsupported UPDATE form: {stmt[:80]!r}")
            tname = _unquote(m.group("name"))
        else:
            m = _DELETE_STMT_RE.match(stmt)
            if not m:
                raise QueryRejected(f"unsupported DELETE form: {stmt[:80]!r}")
            tname = _unquote(m.group("name"))
        if kind == "UPDATE" and self._view_name_of(segment_id, tname) is not None:
            raise QueryRejected(
                "UPDATE ... RETURNING on a view is not supported (SQLite "
                "returns NULL for columns the SET did not assign — probed "
                f"quirk): {stmt[:80]!r}"
            )
        return _RetCapture(tname.lower())

    def _ret_capturing(self, table: str) -> bool:
        """True when the active statement's RETURNING clause targets
        ``table`` and we're not inside a trigger body / inner dispatch."""
        return (
            self._ret is not None
            and self._ret.depth == 0
            and self._ret.table == table.lower()
        )

    def _ret_add(self, table: str, rows, schema: T.StructType | None = None) -> None:
        """Record final row images for the active RETURNING clause (no-op
        unless capturing for ``table``).  ``rows`` are Row/dict images in
        the order the statement produced them."""
        if not self._ret_capturing(table):
            return
        self._ret.rows.extend(rows)
        if schema is not None and self._ret.schema is None:
            self._ret.schema = schema

    def _eval_returning(self, segment_id: str, clause: str) -> list[dict]:
        """Evaluate the statement's RETURNING expressions over the captured
        row images — one small Spark select over a driver-built DataFrame
        (the shimmed dialect expressions run JVM-side; RETURNING output is
        driver-bound by definition).  Output order follows the capture
        (SQLite documents RETURNING order as undefined)."""
        st = self._ret
        schema = st.schema
        ts = None
        if schema is None:
            ts = self._table_schema(segment_id, st.table)
            schema = ts.struct()
        colnames = [f.name for f in schema.fields]
        # last_insert_rowid() in RETURNING sees the statement's own
        # assignment (sqlite3: evaluated per returned row, post-insert)
        clause = _sub_last_insert_rowid(
            clause, self._last_auto.get(segment_id, 0)
        )

        def fix_tokens(src: str) -> str:
            toks = dialect.tokenize(src)
            out = []
            i = 0
            lower_cols = {c.lower() for c in colnames}

            def next_sig(j: int) -> int | None:
                for k in range(j + 1, len(toks)):
                    if toks[k].kind not in ("space", "comment"):
                        return k
                return None

            while i < len(toks):
                t = toks[i]
                ni = next_sig(i)
                nxt = toks[ni] if ni is not None else None
                if (
                    t.kind == "word"
                    and nxt is not None
                    and nxt.kind == "op"
                    and nxt.text == "."
                ):
                    # qualified reference: strip a matching table qualifier
                    ai = next_sig(ni)
                    after = toks[ai] if ai is not None else None
                    if _unquote(t.text).lower() == st.table:
                        if after is not None and after.text == "*":
                            raise QueryRejected(
                                'RETURNING may not use "TABLE.*" wildcards'
                            )
                        i = ni + 1  # drop qualifier + dot
                        continue
                    raise QueryRejected(
                        "no such column: "
                        f"{_unquote(t.text)}."
                        f"{_unquote(after.text) if after is not None else ''}"
                    )
                if (
                    t.kind == "word"
                    and t.text.lower() in ("rowid", "oid", "_rowid_")
                    and t.text.lower() not in lower_cols
                    and not (nxt is not None and nxt.text == "(")
                ):
                    if ts is not None and ts.rowid_alias:
                        out.append(dialect.Token("word", ts.primary_key[0]))
                        i += 1
                        continue
                    if ts is not None and ts.without_rowid:
                        raise QueryRejected("no such column: rowid")
                    raise QueryRejected(
                        "rowid in RETURNING on a table whose PRIMARY KEY is "
                        "not an INTEGER rowid alias: the real rowid is not "
                        "tracked by this engine — rejected loudly"
                    )
                out.append(t)
                i += 1
            return dialect.render(out)

        sel: list[tuple[str, str]] = []  # (spark sql, output name)
        for src, alias in _split_returning_items(clause):
            if src == "*":
                sel.extend((f"`{c}`", c) for c in colnames)
                continue
            fixed = fix_tokens(src)
            name = alias or src
            if alias is None:
                # a result column that is a bare (possibly qualified, or
                # rowid-aliased) column reference is NAMED by the column
                # alone (probed: 't.id' names 'id', 'rowid' names 'id');
                # other expressions keep their source text as the name
                sig = [
                    t
                    for t in dialect.tokenize(fixed)
                    if t.kind not in ("space", "comment")
                ]
                if len(sig) == 1 and sig[0].kind == "word":
                    name = _unquote(sig[0].text)
            sel.append((dialect.sqlite_to_spark(fixed), name))
        if not st.rows:
            return []
        full = T.StructType(
            [T.StructField("__trough_ord__", T.LongType(), False)]
            + list(schema.fields)
        )
        tuples = []
        for i, r in enumerate(st.rows):
            d = r.asDict() if hasattr(r, "asDict") else dict(r)
            low = {k.lower(): v for k, v in d.items()}
            tuples.append(tuple([i] + [low.get(c.lower()) for c in colnames]))
        df = _local_frame(self.spark, tuples, full)
        try:
            out = (
                df.select(
                    F.col("__trough_ord__"),
                    *[F.expr(sql).alias(f"_r{j}") for j, (sql, _n) in enumerate(sel)],
                )
                .sort("__trough_ord__")
                .collect()
            )
        except Exception as e:  # unknown column etc. — loud, script rolls back
            raise QueryRejected(f"invalid RETURNING expression: {e}") from None
        return [
            {
                # booleans materialize as 0/1 (SQLite has no boolean type)
                name: int(v) if isinstance(v := row[f"_r{j}"], bool) else v
                for j, (_sql, name) in enumerate(sel)
            }
            for row in out
        ]

    _INSERT_RE = re.compile(
        r"^\s*(?:INSERT\s+(?:OR\s+(?P<mode>REPLACE|IGNORE|ABORT|FAIL|ROLLBACK)\s+)?"
        r"|(?P<replace>REPLACE\s+))"
        r"INTO\s+(?P<name>[\w\"\[\]`]+)"
        r"\s*(?:\((?P<cols>[^)]*)\))?\s*"
        r"(?P<body>VALUES\s*.+|SELECT\s+.+|WITH\s+.+|DEFAULT\s+VALUES\s*)$",
        re.IGNORECASE | re.DOTALL,
    )

    def _match_insert(self, stmt: str) -> re.Match:
        m = self._INSERT_RE.match(stmt)
        if not m:
            raise QueryRejected(f"unsupported INSERT form: {stmt[:80]!r}")
        return m

    @staticmethod
    def _insert_mode(m: re.Match) -> str | None:
        """The conflict mode of a matched INSERT: "REPLACE"/"IGNORE", or
        None.  OR ABORT/FAIL/ROLLBACK normalize to None: under the
        reference's all-or-nothing script transaction (write.py:39) a
        conflict aborts the POST and the whole script rolls back — exactly
        where all three converge."""
        mode = (
            m.group("mode") or ("REPLACE" if m.group("replace") else "")
        ).upper() or None
        return None if mode in ("ABORT", "FAIL", "ROLLBACK") else mode

    _ON_CONFLICT_RE = re.compile(
        r"\bON\s+CONFLICT\s*(?:\((?P<cc>[^)]*)\))?\s*DO\s+"
        r"(?:(?P<nothing>NOTHING)|UPDATE\s+SET\s+(?P<sets>.+?))"
        r"(?:\s+WHERE\s+(?P<where>.+))?$",
        re.IGNORECASE | re.DOTALL,
    )

    def _default_for(self, ts: TableSchema, col: str):
        """Evaluate one column's declared DEFAULT to a Python value (SQLite
        semantics: CURRENT_* render as UTC text; other expressions constant-
        fold — once per statement, which is also SQLite's per-statement
        'now')."""
        expr = ts.defaults.get(col)
        if expr is None:
            return None
        u = expr.strip().upper()
        if u in ("CURRENT_TIMESTAMP", "CURRENT_DATE", "CURRENT_TIME"):
            import datetime as _dt

            now = _dt.datetime.now(_dt.timezone.utc)
            if u == "CURRENT_DATE":
                return now.strftime("%Y-%m-%d")
            if u == "CURRENT_TIME":
                return now.strftime("%H:%M:%S")
            return now.strftime("%Y-%m-%d %H:%M:%S")
        try:
            return _literal(list(dialect.tokenize(expr)))
        except (_NotALiteral, QueryRejected):
            return self._eval_scalar(expr)

    def _generated_order(self, ts: TableSchema) -> list[tuple[str, str]]:
        """Generated columns in dependency order (an expr may reference
        other generated columns — probed; a cycle raises SQLite's verbatim
        'generated column loop on "x"' at first use, like SQLite does)."""
        gen_lower = {c.lower(): c for c in ts.generated}
        deps: dict[str, set] = {}
        for c, (expr, _st) in ts.generated.items():
            refs = {
                gen_lower[t.text.lower()]
                for t in dialect.tokenize(expr)
                if t.kind == "word" and t.text.lower() in gen_lower
            }
            deps[c] = refs - {c}
        out: list[str] = []
        done: set = set()
        visiting: set = set()

        def visit(c: str) -> None:
            if c in done:
                return
            if c in visiting:
                raise QueryRejected(f'generated column loop on "{c}"')
            visiting.add(c)
            for d in deps[c]:
                visit(d)
            visiting.discard(c)
            done.add(c)
            out.append(c)

        for c in ts.generated:
            visit(c)
        return [(c, ts.generated[c][0]) for c in out]

    def _apply_generated_df(self, ts: TableSchema, df: DataFrame) -> DataFrame:
        """(Re)compute every generated column from the base columns — one
        chained withColumn per column in dependency order, all JVM-side
        through the dialect shim; deterministic by the DDL-time validation,
        so recomputing untouched rows is a no-op by value."""
        if not ts.generated:
            return df
        types = {n.lower(): t for n, t in ts.fields}
        for c, expr in self._generated_order(ts):
            df = df.withColumn(
                c,
                F.expr(dialect.sqlite_to_spark(expr)).cast(types[c.lower()]),
            )
        return df

    def _apply_generated_rows(self, ts: TableSchema, rows: list[Row]) -> list[Row]:
        """Row-list variant for the driver-side write paths: one small
        batch DataFrame round-trip, input order preserved via an ordinal."""
        if not ts.generated or not rows:
            return rows
        full = T.StructType(
            [T.StructField("__trough_ord__", T.LongType(), False)]
            + list(ts.struct().fields)
        )
        df = _local_frame(
            self.spark,
            [tuple([i] + [r[n] for n, _t in ts.fields]) for i, r in enumerate(rows)],
            full,
        )
        out = self._apply_generated_df(ts, df).sort("__trough_ord__").collect()
        names = [n for n, _t in ts.fields]
        return [Row(**{n: r[n] for n in names}) for r in out]

    def _strict_check_df(
        self, ts: TableSchema, table: str, df: DataFrame, cols=None
    ) -> None:
        """STRICT storage enforcement over a DataFrame whose columns carry
        their NATURAL (pre-cast) types — type-level rejects cost nothing,
        value-level ones (numeric strings, integral reals) are one filter
        job over the checked rows (strict tables only)."""
        if not ts.strict:
            return
        decls = {
            n.lower(): ts.col_decls.get(n.lower(), {}).get("type", "")
            .strip().upper()
            for n, _t in ts.fields
        }
        schema = {f.name.lower(): f.dataType for f in df.schema.fields}
        conds = []  # (violating-condition SQL, vtype, decl, col)
        for n in (cols if cols is not None else [f.name for f in df.schema.fields]):
            decl = decls.get(n.lower(), "")
            typ = schema.get(n.lower())
            if decl in ("", "ANY") or typ is None or isinstance(typ, T.NullType):
                continue  # all-NULL fill columns: NULL is always storable
            is_num = isinstance(
                typ, (T.IntegerType, T.LongType, T.ShortType, T.ByteType,
                      T.BooleanType)
            )
            is_real = isinstance(typ, (T.DoubleType, T.FloatType, T.DecimalType))
            is_str = isinstance(typ, T.StringType)
            is_bin = isinstance(typ, T.BinaryType)
            if decl == "BLOB":
                if not is_bin:
                    vt = "INT" if is_num else "REAL" if is_real else "TEXT"
                    raise QueryRejected(
                        f"cannot store {vt} value in BLOB column {table}.{n}"
                    )
                continue
            if is_bin:
                raise QueryRejected(
                    f"cannot store BLOB value in {decl} column {table}.{n}"
                )
            if decl == "TEXT":
                continue
            num_re = r"^\s*[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?\s*$"
            c = F.col(n)
            if is_real and decl in ("INT", "INTEGER"):
                conds.append(
                    (c.isNotNull() & (c != F.floor(c)), "REAL", decl, n)
                )
            elif is_str:
                conds.append(
                    (c.isNotNull() & ~c.rlike(num_re), "TEXT", decl, n)
                )
                if decl in ("INT", "INTEGER"):
                    d = c.cast("double")
                    conds.append(
                        (
                            c.isNotNull() & c.rlike(num_re)
                            & (d != F.floor(d)),
                            "REAL", decl, n,
                        )
                    )
        for cond, vtype, decl, n in conds:
            if df.filter(cond).limit(1).count():
                raise QueryRejected(
                    f"cannot store {vtype} value in {decl} column {table}.{n}"
                )

    def _reject_generated_targets(
        self, ts: TableSchema, cols, verb: str
    ) -> None:
        """SQLite's verbatim write-target errors for generated columns."""
        gen_lower = {c.lower(): c for c in ts.generated}
        for c in cols:
            hit = gen_lower.get(_unquote(c).lower())
            if hit is not None:
                raise QueryRejected(
                    f'cannot {verb} generated column "{hit}"'
                )

    def _execute_insert(self, segment_id: str, stmt: str, pending: dict) -> bool:
        """Execute one INSERT.  Plain VALUES-inserts batch into ``pending``
        (returns True); upserts and INSERT..SELECT flush and run immediately."""
        m = self._match_insert(stmt)
        mode = self._insert_mode(m)
        table = self._stmt_table(segment_id, m)
        ts = self._table_schema(segment_id, table)
        gen_lower = {c.lower() for c in ts.generated}
        # the implicit column list EXCLUDES generated columns (probed:
        # unlisted-INSERT arity counts base columns only)
        declared = [n for n, _ in ts.fields if n.lower() not in gen_lower]
        if m.group("cols"):
            cols = [_unquote(c) for c in m.group("cols").split(",")]
            self._reject_generated_targets(ts, cols, "INSERT into")
        else:
            cols = declared
        body = m.group("body")
        # SQLite upsert clause (INSERT ... ON CONFLICT ... DO NOTHING /
        # DO UPDATE SET ...): peel it off the body before VALUES parsing
        conflict = None
        if body.upper().startswith("VALUES"):
            mc = self._ON_CONFLICT_RE.search(body)
            if mc:
                conflict = mc
                body = body[: mc.start()]
        target_idx: int | None = None
        if conflict is not None:
            if mode is not None:
                raise QueryRejected(
                    "INSERT OR ... cannot be combined with ON CONFLICT"
                )
            cons = ts.unique_constraints()
            cc = conflict.group("cc")
            if cc is not None:
                # the target may name the pk OR any UNIQUE constraint
                # (probed; unmatched targets get SQLite's verbatim error)
                target = sorted(_unquote(c.strip()).lower() for c in cc.split(","))
                for ci, (ucols, _ucolls) in enumerate(cons):
                    if target == sorted(c.lower() for c in ucols):
                        target_idx = ci
                        break
                else:
                    raise QueryRejected(
                        "ON CONFLICT clause does not match any PRIMARY KEY "
                        "or UNIQUE constraint"
                    )
            # no explicit target = the SQLite-3.35 catch-all form: legal
            # for DO NOTHING and DO UPDATE alike (probed); on a table with
            # no uniqueness constraint at all the clause can never fire
            # and the statement is a plain insert (probed)
            if not cons:
                conflict = None
        default_values = re.match(r"^DEFAULT\s+VALUES\s*$", body, re.IGNORECASE)
        if default_values is not None:
            cols = []
        if default_values is not None or body.upper().startswith("VALUES"):
            tuples = (
                [[]]
                if default_values is not None
                else self._parse_values(body[len("VALUES") :], segment_id, pending)
            )
            # unspecified columns take their declared DEFAULT (SQLite);
            # evaluated ONCE per statement (SQLite's per-statement 'now';
            # also one _eval_scalar job total, not one per row)
            given = {c.lower() for c in cols}
            stmt_defaults = {
                n: self._default_for(ts, n)
                for n, _t in ts.fields
                if n.lower() not in given
                and n != ts.autoincrement_col
                and n in ts.defaults
            }
            rows = []
            for tup in tuples:
                if len(tup) != len(cols):
                    raise QueryRejected(
                        f"INSERT arity mismatch: {len(tup)} values for {len(cols)} columns"
                    )
                d = dict(zip(cols, tup))
                d.update(stmt_defaults)
                if ts.autoincrement_col and (
                    ts.autoincrement_col not in d
                    or d[ts.autoincrement_col] is None
                ):
                    # SQLite: an explicit NULL into an INTEGER PRIMARY KEY
                    # auto-assigns the rowid exactly like omitting the
                    # column (round-8 probe; the column is the rowid and a
                    # rowid can never be NULL)
                    d[ts.autoincrement_col] = self._next_id(segment_id, table, ts)
                elif ts.autoincrement_col and d.get(ts.autoincrement_col) is not None:
                    # sqlite: an EXPLICIT id on an autoincrement column both
                    # becomes lastrowid and advances the sequence past it
                    try:
                        explicit = int(d[ts.autoincrement_col])
                    except (TypeError, ValueError):
                        explicit = None
                    if explicit is not None:
                        key = (segment_id, table)
                        self._init_hwm(key, table, ts)
                        self._hwm[key] = max(self._hwm[key], explicit)
                        self._last_auto[segment_id] = explicit
                if ts.strict:
                    # STRICT storage enforcement on the literal values
                    # (lossless coercions applied, probed errors otherwise)
                    d = _strict_coerce_row(ts, table, d)
                rows.append(Row(**{n: _coerce(d.get(n), t) for n, t in ts.fields}))
            # generated columns computed from the base values BEFORE any
            # constraint/conflict handling (CHECK/UNIQUE may reference them)
            rows = self._apply_generated_rows(ts, rows)
            if conflict is not None:
                self._flush_inserts(segment_id, pending)
                if conflict.group("nothing") is None:
                    sets = {
                        c.lower(): e
                        for c, e in _split_assignments(conflict.group("sets"))
                    }
                    self._reject_generated_targets(ts, list(sets), "UPDATE")
                else:
                    sets = None
                if ts.has_extended_uniqueness() or self._ret_capturing(table):
                    # UNIQUE constraints / collations participate — probed
                    # per-constraint semantics — or RETURNING needs per-row
                    # outcomes (inserted / updated / skipped) in statement
                    # order, which the batch joins below cannot say: the
                    # sequential resolver gives exactly SQLite's semantics
                    if sets is not None:
                        # without extended uniqueness the guard is the pk,
                        # as in the batch _upsert_update
                        declared = {n.lower() for n, _ in ts.fields}
                        targets = cons if target_idx is None else [cons[target_idx]]
                        guard = {c.lower() for ucols, _uc in targets for c in ucols}
                        for c in sets:
                            if c not in declared:
                                raise QueryRejected(f"no such column: {c}")
                            if c in guard:
                                raise QueryRejected(
                                    "updating the conflict-target key is unsupported"
                                )
                    self._conflict_rows_sequential(
                        segment_id,
                        table,
                        ts,
                        rows,
                        action="NOTHING" if sets is None else "UPDATE",
                        target_idx=target_idx,
                        sets=sets,
                        where=conflict.group("where"),
                    )
                    return False
                df = _local_frame(self.spark, rows, ts.struct())
                if sets is None:
                    self._upsert(segment_id, table, ts, df, "IGNORE")
                else:
                    keys = [
                        tuple(r[k] for k in ts.primary_key) for r in rows
                    ]
                    if len(set(keys)) != len(keys):
                        # SQLite applies upsert rows SEQUENTIALLY, so
                        # duplicate conflict keys inside one statement
                        # accumulate (x = x + excluded.x applies once per
                        # occurrence); the batch path would collapse them
                        # to the last occurrence — take the per-row path
                        self._upsert_update_sequential(
                            segment_id, table, ts, rows, sets,
                            conflict.group("where"),
                        )
                    else:
                        self._upsert_update(
                            segment_id, table, ts, df, sets,
                            conflict.group("where"),
                        )
                return False
            if mode is None or not ts.unique_constraints():
                # SQLite: OR REPLACE/IGNORE without any pk/UNIQUE constraint
                # is a plain insert — but OR IGNORE still SKIPS rows that
                # violate CHECK/NOT NULL (probed)
                if mode == "IGNORE" and (ts.checks or ts.not_null):
                    df = _local_frame(self.spark, rows, ts.struct())
                    rows = self._drop_constraint_violations(ts, df).collect()
                self._ret_add(table, rows)
                pending.setdefault(table, []).extend(rows)
                return True
            self._flush_inserts(segment_id, pending)
            df = _local_frame(self.spark, rows, ts.struct())
            self._upsert(segment_id, table, ts, df, mode, skip_violations=mode == "IGNORE")
            return False
        # INSERT INTO ... SELECT: evaluate the query against this segment's
        # tables through the read path, then append/upsert
        self._flush_inserts(segment_id, pending)
        src = self.read_df(segment_id, body)
        if len(src.columns) != len(cols):
            raise QueryRejected(
                f"INSERT..SELECT arity mismatch: {len(src.columns)} vs {len(cols)}"
            )
        src = src.toDF(*cols)
        missing = [n for n in declared if n not in cols]
        if ts.autoincrement_col in missing:
            # Assign sequential ids continuing from the high-water mark.
            # Scale note: ids are assigned per input partition (window keyed
            # by spark_partition_id, so each partition numbers its own rows in
            # parallel) plus a cumulative base offset computed from one tiny
            # per-partition count — no global single-reducer sort.  The
            # offset map is one entry per partition; fine as a literal map
            # for any realistic partition count.
            from pyspark.sql.window import Window as W

            la_prev = self._last_auto.get(segment_id)
            base = self._next_id(segment_id, table, ts) - 1
            self._hwm[(segment_id, table)] = base  # _next_id consumed one; rewind
            src = _cached = src.withColumn("_pid", F.spark_partition_id()).persist()
            counts = {r[0]: r[1] for r in src.groupBy("_pid").count().collect()}
            offsets, acc = {}, 0
            for pid in sorted(counts):
                offsets[pid] = acc
                acc += counts[pid]
            cnt = acc
            w = W.partitionBy("_pid").orderBy(F.monotonically_increasing_id())
            off = (
                F.element_at(
                    F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
                    F.col("_pid"),
                )
                if offsets
                else F.lit(0)
            )
            src = src.withColumn(
                ts.autoincrement_col, F.row_number().over(w) + off + F.lit(base)
            ).drop("_pid")
            self._hwm[(segment_id, table)] = base + cnt
            if cnt:
                self._last_auto[segment_id] = base + cnt
            elif la_prev is None:
                self._last_auto.pop(segment_id, None)
            else:
                self._last_auto[segment_id] = la_prev
            missing = [n for n in missing if n != ts.autoincrement_col]
        else:
            _cached = None
        for n in missing:
            # declared DEFAULT if any, else NULL (SQLite semantics)
            src = src.withColumn(n, F.lit(self._default_for(ts, n)))
        for n, _t in ts.fields:
            if n.lower() in gen_lower:
                # placeholder; computed from the base columns right below
                src = src.withColumn(n, F.lit(None))
        self._strict_check_df(ts, table, src)  # natural types, pre-cast
        aligned = self._apply_generated_df(
            ts, src.select([F.col(n).cast(t) for n, t in ts.fields])
        )
        try:
            if mode is None or not ts.unique_constraints():
                if mode == "IGNORE":
                    aligned = self._drop_constraint_violations(ts, aligned)
                else:
                    self._assert_constraints(ts, aligned)
                if mode is None:
                    self._assert_pk_unique_df(segment_id, table, ts, aligned)
                if self._ret_capturing(table):
                    self._ret_add(table, aligned.collect())
                path = self._partition_path(table, segment_id)
                self._txn_before_write(table, segment_id)
                self._write_files(aligned, path, "append")
            else:
                self._upsert(
                    segment_id, table, ts, aligned, mode,
                    skip_violations=mode == "IGNORE",
                )
        finally:
            if _cached is not None:
                _cached.unpersist()
        return False

    def _upsert(
        self,
        segment_id: str,
        table: str,
        ts: TableSchema,
        new: DataFrame,
        mode: str,
        skip_violations: bool = False,
    ) -> None:
        """INSERT OR REPLACE / OR IGNORE with the declared primary key
        (SURVEY §2.B15).  REPLACE = existing rows with matching pk are
        superseded; IGNORE = incoming rows with an existing pk are dropped.
        Both are one single-partition rewrite/append — bounded work.

        CHECK/NOT NULL interplay (probed against live SQLite): OR IGNORE
        silently SKIPS violating rows (``skip_violations=True``); OR REPLACE
        and ON CONFLICT DO NOTHING still RAISE."""
        if skip_violations:
            new = self._drop_constraint_violations(ts, new)
        else:
            self._assert_constraints(ts, new)
        if (
            ts.has_extended_uniqueness()
            or not ts.primary_key
            # RETURNING needs per-row landed/skipped outcomes in statement
            # order — the sequential resolver captures them as it resolves
            or self._ret_capturing(table)
        ):
            # UNIQUE constraints / non-BINARY pk collations participate in
            # conflict resolution (probed: OR REPLACE deletes conflicting
            # rows across ALL constraints; a pk-less table still resolves
            # on its UNIQUEs) — the pk-only batch joins below cannot
            # express that; take the sequential evolving-state path
            self._conflict_rows_sequential(
                segment_id, table, ts, new.collect(), action=mode
            )
            return
        existing = self._read_partition(segment_id, table)
        pk = ts.primary_key
        if mode == "REPLACE":
            # intra-statement duplicate pks: SQLite applies rows
            # sequentially, so the LAST occurrence wins (caught by the
            # round-7 conflict-forms fuzzer — without this, both rows land
            # and break pk uniqueness)
            new = self._dedupe_last(new, pk)
            keys = new.select(*pk).distinct()
            kept = existing.join(keys, pk, "left_anti")
            # ``new`` was checked above
            self._overwrite_partition(segment_id, table, kept.unionByName(new), check=False)
        elif mode == "IGNORE":
            fresh = new.join(existing.select(*pk).distinct(), pk, "left_anti")
            # also dedup within the incoming batch itself (first wins)
            from pyspark.sql.window import Window as W

            wn = W.partitionBy(*pk).orderBy(F.monotonically_increasing_id())
            fresh = (
                fresh.withColumn("_rn", F.row_number().over(wn))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            path = self._partition_path(table, segment_id)
            self._txn_before_write(table, segment_id)
            self._write_files(fresh, path, "append")
        else:  # pragma: no cover
            raise QueryRejected(f"unknown upsert mode {mode!r}")

    def _conflict_rows_sequential(
        self,
        segment_id: str,
        table: str,
        ts: TableSchema,
        rows: list[Row],
        action: str,
        target_idx: int | None = None,
        sets: dict[str, str] | None = None,
        where: str | None = None,
    ) -> None:
        """Sequential conflict resolution over the evolving table state
        with EVERY declared uniqueness constraint participating (pk +
        UNIQUEs, collation-folded) — the probed SQLite semantics the
        binary-pk batch paths cannot express.  All rules below were probed
        against live SQLite (round 8):

        - ``REPLACE``: deletes every live row conflicting with the incoming
          row on ANY constraint, then inserts (one row can delete several);
        - ``IGNORE``: skips the incoming row on any conflict;
        - ``NOTHING`` (upsert DO NOTHING): with a target, a conflict ON THE
          TARGET skips the row (even if other constraints also conflict);
          a conflict only on another constraint RAISES; without a target,
          any conflict skips;
        - ``UPDATE`` (upsert DO UPDATE): a conflict on the target (or, for
          the SQLite-3.35 catch-all form without a target, the first
          conflicting constraint in pk-first order) applies the SET over
          the evolving state; a conflict only on another constraint
          RAISES; the applied SET may change unique columns and must not
          collide with a third row (re-checked against the live maps).

        Driver-side sequential by necessity — the semantics are an
        evolving-state scan (same category as
        ``_update_with_conflict_mode``) — and bounded by the statement's
        rows plus the one segment partition, which the store's model keeps
        small (the reference runs the identical scan inside single-node
        SQLite)."""
        cons = ts.unique_constraints()
        fields = [n for n, _ in ts.fields]
        folded = [
            (cols, [eff for _sql, eff in self._fold_cols(ts, cols, colls)])
            for cols, colls in cons
        ]

        def keys_of(d: dict) -> list:
            out = []
            for cols, effs in folded:
                k = tuple(
                    _fold_value(d[c], e) for c, e in zip(cols, effs)
                )
                out.append(None if any(v is None for v in k) else k)
            return out

        live: dict[int, dict] = {}
        maps: list[dict] = [dict() for _ in cons]
        nid = 0

        def add_row(d: dict) -> int:
            nonlocal nid
            rid = nid
            nid += 1
            live[rid] = d
            for ci, k in enumerate(keys_of(d)):
                if k is not None:
                    maps[ci][k] = rid
            return rid

        def drop_row(rid: int) -> None:
            d = live.pop(rid)
            for ci, k in enumerate(keys_of(d)):
                if k is not None and maps[ci].get(k) == rid:
                    del maps[ci][k]

        if os.path.isdir(self._partition_path(table, segment_id)):
            for r0 in self._read_partition(segment_id, table).collect():
                add_row({n: r0[n] for n in fields})
        ret: list[dict] = []  # RETURNING images, statement order (skips omitted)
        for r in rows:
            d = {n: r[n] for n in fields}
            ks = keys_of(d)
            hits: list[tuple[int, int]] = []  # (constraint idx, row id)
            for ci, k in enumerate(ks):
                if k is not None and k in maps[ci]:
                    hits.append((ci, maps[ci][k]))
            if not hits:
                add_row(d)
                ret.append(d)
                continue
            if action == "REPLACE":
                for rid in {rid for _ci, rid in hits}:
                    drop_row(rid)
                add_row(d)
                ret.append(d)
                continue
            if action == "IGNORE":
                continue
            hit_cis = {ci for ci, _rid in hits}
            if action == "NOTHING":
                if target_idx is None or target_idx in hit_cis:
                    continue
                first_ci = min(hit_cis)
                raise self._unique_error(table, cons[first_ci][0])
            if action == "UPDATE":
                eff_target = target_idx
                if eff_target is None:
                    eff_target = min(hit_cis)  # catch-all: first constraint
                if eff_target not in hit_cis:
                    first_ci = min(hit_cis)
                    raise self._unique_error(table, cons[first_ci][0])
                rid = dict(hits)[eff_target]
                old = Row(**live[rid])
                upd = self._upsert_row_update(ts, table, old, r, sets, where)
                if upd is None:
                    continue  # upsert WHERE false/NULL: row untouched
                nd = {n: upd[n] for n in fields}
                drop_row(rid)
                # the SET may have moved unique keys — re-check vs live
                for ci, k in enumerate(keys_of(nd)):
                    if k is not None and k in maps[ci]:
                        raise self._unique_error(table, cons[ci][0])
                add_row(nd)
                ret.append(nd)
                continue
            raise QueryRejected(
                f"unknown conflict action {action!r}"
            )  # pragma: no cover
        self._ret_add(table, ret)
        rows = _arrow_table(list(live.values()), ts.struct())  # dicts, by name
        self._overwrite_partition(segment_id, table, rows)

    @staticmethod
    def _dedupe_last(df: DataFrame, keys: list[str]) -> DataFrame:
        """Keep the last occurrence per key in input order (SQLite applies
        conflicting rows sequentially; batchwise, last wins)."""
        from pyspark.sql.window import Window as W

        wn = W.partitionBy(*keys).orderBy(F.monotonically_increasing_id().desc())
        return (
            df.withColumn("_rn", F.row_number().over(wn))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _upsert_update(
        self,
        segment_id: str,
        table: str,
        ts: TableSchema,
        new: DataFrame,
        sets: dict[str, str],
        where: str | None,
    ) -> None:
        """INSERT ... ON CONFLICT(pk) DO UPDATE SET ... [WHERE ...]
        (SQLite upsert, sqlite.org/lang_upsert.html): conflicting rows
        update the existing row via SET expressions that may reference
        ``excluded.col`` (the incoming value) and bare/table-qualified
        columns (the existing pre-update row); non-conflicting rows insert.

        One bounded partition rewrite, like every segment mutation.
        Statements whose VALUES list repeats a conflict key never reach
        this batch path — `_execute_insert` routes them to
        `_upsert_update_sequential`, which reproduces SQLite's sequential
        per-occurrence accumulation (a self-referencing SET like
        x = x + excluded.x applies once per occurrence).
        """
        declared = {n.lower() for n, _ in ts.fields}
        pk_lower = {k.lower() for k in ts.primary_key}
        self._reject_generated_targets(ts, list(sets), "UPDATE")
        for c in sets:
            if c not in declared:
                raise QueryRejected(f"no such column: {c}")
            if c in pk_lower:
                raise QueryRejected("updating the conflict-target key is unsupported")

        def rw(expr: str) -> str:
            e = re.sub(r"\bexcluded\s*\.\s*(\w+)", r"_exc_\1", expr, flags=re.IGNORECASE)
            e = re.sub(
                rf"\b{re.escape(table)}\s*\.\s*(\w+)", r"\1", e, flags=re.IGNORECASE
            )
            return dialect.sqlite_to_spark(e)

        existing = self._read_partition(segment_id, table)
        new = self._dedupe_last(new, ts.primary_key)
        src = new.select(
            *[F.col(n).alias(f"_exc_{n}") for n, _ in ts.fields],
            F.lit(1).alias("_exc__hit"),
        )
        joined = existing.join(
            src,
            [F.col(k) == F.col(f"_exc_{k}") for k in ts.primary_key],
            "left",
        )
        mask = F.col("_exc__hit").isNotNull()
        if where:
            mask = mask & F.expr(rw(where))
        if ts.strict and sets:
            # natural (pre-coercion) SET values of the conflicting rows
            self._strict_check_df(
                ts, table,
                joined.filter(mask).select(
                    *[F.expr(rw(e)).alias(c) for c, e in sets.items()]
                ),
            )
        updated = joined.select(
            [
                F.when(mask, F.expr(rw(sets[n.lower()]))).otherwise(F.col(n)).alias(n)
                if n.lower() in sets
                else F.col(n)
                for n, _ in ts.fields
            ]
        )
        inserts = new.join(
            existing.select(*ts.primary_key).distinct(), ts.primary_key, "left_anti"
        ).select([F.col(n).cast(t) for n, t in ts.fields])
        out = self._apply_generated_df(ts, updated.unionByName(inserts))
        self._overwrite_partition(segment_id, table, out)

    def merge(
        self,
        segment_id: str,
        table: str,
        source: DataFrame,
        on: list[str] | None = None,
        when_matched: str | dict = "update",
        when_not_matched: str = "insert",
    ) -> dict:
        """MERGE INTO for the segment store: upsert a DataFrame
        into one segment's table in a single bounded partition rewrite.

        ``on`` defaults to the table's PRIMARY KEY.  ``when_matched`` is
        "update" (every non-key source column replaces the target's),
        "ignore" (keep the target row), or a dict of {column: SQL expression}
        where expressions may reference ``source.col`` and ``target.col``
        (e.g. {"cnt": "target.cnt + source.cnt"}).  ``when_not_matched`` is
        "insert" or "ignore".  Source columns may be a subset of the table's
        — unreferenced columns keep their target value on update and insert
        as NULL.  Duplicate keys in the source collapse to the last row.

        Returns {"matched": n, "inserted": n}.  The reference has no MERGE
        (SQLite gained upsert, not MERGE); this is the batch-ETL surface a
        pipeline needs to land incremental corrections.  At scale the same
        plan applies per segment partition — each rewrite is bounded by
        segment size, the store's core invariant (store.py module docs).
        """
        ts = self._table_schema(segment_id, table)
        keys = [k for k in (on or ts.primary_key)]
        if not keys:
            raise QueryRejected("merge requires key columns (no PRIMARY KEY)")
        declared = {n.lower(): n for n, _ in ts.fields}
        for k in keys:
            if k.lower() not in declared:
                raise QueryRejected(f"no such key column: {k}")
        src_cols = [c for c in source.columns if c.lower() in declared]
        if not set(k.lower() for k in keys) <= {c.lower() for c in src_cols}:
            raise QueryRejected("source must carry every key column")

        if when_matched == "update":
            sets = {
                c.lower(): f"source.{c}" for c in src_cols if c.lower() not in
                {k.lower() for k in keys}
            }
        elif when_matched == "ignore":
            sets = {}
        elif isinstance(when_matched, dict):
            sets = {c.lower(): e for c, e in when_matched.items()}
        else:
            raise QueryRejected(f"bad when_matched: {when_matched!r}")
        if when_not_matched not in ("insert", "ignore"):
            raise QueryRejected(f"bad when_not_matched: {when_not_matched!r}")

        def rw(expr: str) -> str:
            e = re.sub(r"\bsource\s*\.\s*(\w+)", r"_src_\1", expr, flags=re.IGNORECASE)
            e = re.sub(r"\btarget\s*\.\s*(\w+)", r"\1", e, flags=re.IGNORECASE)
            return e

        with self._file_lock(f"segment-{segment_id}"):
            existing = self._read_partition(segment_id, table)
            src = self._dedupe_last(source.select(*src_cols), keys)
            matched = src.join(
                existing.select(*keys).distinct(), keys, "left_semi"
            ).count()
            inserted = 0
            renamed = src.select(
                *[F.col(c).alias(f"_src_{c}") for c in src_cols],
                F.lit(1).alias("_src__hit"),
            )
            joined = existing.join(
                renamed,
                [F.col(k) == F.col(f"_src_{k}") for k in keys],
                "left",
            )
            mask = F.col("_src__hit").isNotNull()
            out = joined.select(
                [
                    F.when(mask, F.expr(rw(sets[n.lower()]))).otherwise(F.col(n)).alias(n)
                    if n.lower() in sets
                    else F.col(n)
                    for n, _ in ts.fields
                ]
            )
            if when_not_matched == "insert":
                fresh = src.join(existing.select(*keys).distinct(), keys, "left_anti")
                inserted = fresh.count()
                for n, _ in ts.fields:
                    if n not in fresh.columns:
                        fresh = fresh.withColumn(n, F.lit(None))
                out = out.unionByName(
                    fresh.select([F.col(n).cast(t) for n, t in ts.fields])
                )
            out = self._apply_generated_df(ts, out)
            if ts.has_extended_uniqueness():
                # MERGE keys on the pk only; with UNIQUE constraints /
                # collations declared, verify the final state before it
                # lands (round 8 — one aggregate job per constraint,
                # extended tables only)
                self._assert_state_unique(ts, table, out)
            self._overwrite_partition(segment_id, table, out, check=False)
        return {"matched": matched, "inserted": inserted}

    def _parse_values(self, rest: str, segment_id: str | None = None, pending=None):
        """Parse VALUES (..),(..) literal tuples via the dialect tokenizer.

        Non-literal expressions are constant-folded; with ``segment_id``, a
        state-reading scalar subquery is evaluated against current segment
        state (see _eval_scalar).  SQLite evaluates such subqueries row by
        row AS it inserts, so a multi-row VALUES whose later rows could
        observe earlier rows' effects is rejected loudly rather than
        silently evaluated against the pre-statement state."""
        tokens = [
            t for t in dialect.tokenize(rest) if t.kind not in ("space", "comment")
        ]
        tuples = []
        state_read = False
        i = 0
        while i < len(tokens):
            t = tokens[i]
            if t.kind == "op" and t.text == "(":
                args, close = dialect._find_call_args(tokens, i)
                vals = []
                for a in args:
                    try:
                        vals.append(_literal([*a]))
                    except _NotALiteral:
                        # space-join: these are significant-only tokens, a
                        # plain concat would fuse words (SELECT count -> SELECTcount)
                        expr = " ".join(tk.text for tk in a)
                        v, sr = self._eval_scalar_tracked(expr, segment_id, pending)
                        state_read = state_read or sr
                        vals.append(v)
                tuples.append(vals)
                i = close + 1
            else:
                i += 1
        if state_read and len(tuples) > 1:
            raise QueryRejected(
                "state-reading scalar subquery in a multi-row VALUES is not "
                "supported (SQLite evaluates it per inserted row; the engine "
                "evaluates once per statement) — split into single-row INSERTs"
            )
        return tuples

    def _write_files(self, df: DataFrame, path: str, mode: str) -> None:
        """Write ``df`` as parquet into the partition directory ``path``."""
        df.write.mode(mode).parquet(path)

    def _read_files(self, path: str, schema: T.StructType) -> DataFrame:
        """Read the partition directory ``path`` as the declared ``schema``,
        which null-fills columns its files lack (ALTER TABLE ADD COLUMN),
        as ONE task, as the reference runs a segment on one SQLite thread:
        ORDER BY, GROUP BY and DISTINCT over it then plan no exchange, and
        filters and column pruning still reach the scan."""
        return self.spark.read.schema(schema).parquet(path).coalesce(1)

    def _init_hwm(self, key: tuple[str, str], table: str, ts: TableSchema) -> None:
        """Lazily seed the autoincrement high-water mark from storage."""
        if key not in self._hwm:
            path = self._partition_path(table, key[0])
            [ids] = _file_columns(path, T.StructType([ts.struct()[ts.autoincrement_col]]))
            self._hwm[key] = max((i for i in ids if i is not None), default=0)

    def _next_id(self, segment_id: str, table: str, ts: TableSchema) -> int:
        """AUTOINCREMENT emulation (SURVEY §7.4 #2): per-segment high-water
        mark, initialized from storage.  Safe because segments are
        single-writer by design (reference write lock, write.py:55-57)."""
        key = (segment_id, table)
        self._init_hwm(key, table, ts)
        self._hwm[key] += 1
        self._last_auto[segment_id] = self._hwm[key]
        return self._hwm[key]

    def _txn_before_write(self, table: str, segment_id: str) -> None:
        """Snapshot the about-to-be-mutated partition directory for script
        rollback."""
        if self._active_txn is not None:
            self._active_txn.before_append(self._partition_path(table, segment_id))

    def _flush_inserts(self, segment_id: str, pending: dict[str, list[Row]]) -> None:
        """Append each table's staged VALUES rows as ONE file, with no
        Spark job unless the table has CHECKs.  The checks run in SQLite's
        order: keys, then CHECK / NOT NULL."""
        for table, rows in pending.items():
            if not rows:
                continue
            ts = self._table_schema(segment_id, table)
            path = self._partition_path(table, segment_id)
            batch = _arrow_table(rows, ts.struct())
            self._assert_keys_new(ts, table, path, batch)
            self._assert_batch(ts, batch, rowid=True)
            self._txn_before_write(table, segment_id)
            self._append_file(batch, path)
        pending.clear()

    @staticmethod
    def _append_file(batch: pa.Table, path: str) -> None:
        """Write ``batch`` into the partition directory ``path`` as one new
        parquet file under a hidden name, then rename it, so no reader
        lists a partial file (dictionary pages enlarge files this small)."""
        os.makedirs(path, exist_ok=True)
        name = f"part-{uuid.uuid4()}.snappy.parquet"
        tmp = os.path.join(path, f".{name}.tmp")
        try:
            pq.write_table(
                batch, tmp, compression="snappy", store_schema=False, use_dictionary=False
            )
            os.replace(tmp, os.path.join(path, name))
        except BaseException:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
            raise

    def _assert_batch(self, ts: TableSchema, batch: pa.Table, rowid: bool) -> None:
        """Raise SQLite's error if a row about to be stored has a NULL
        rowid (tested when ``rowid``), or then violates a CHECK / NOT NULL,
        with no Spark job: NULLs are Arrow null counts, and CHECKs run over
        a local frame, which the optimizer evaluates in the driver."""
        alias = ts.rowid_alias
        if rowid and alias and batch[_declared_column(ts, alias)].null_count:
            # an INT/BIGINT pk is not the rowid and admits NULL (probed)
            raise QueryRejected(
                f"datatype mismatch: NULL into INTEGER PRIMARY KEY {alias!r} of {ts.name!r}"
            )
        if ts.checks:
            self._assert_constraints(ts, _local_frame(self.spark, batch, ts.struct()))
            return
        for col in ts.not_null:
            if col != ts.autoincrement_col and batch[_declared_column(ts, col)].null_count:
                raise QueryRejected(f"NOT NULL constraint failed: {ts.name}.{col}")

    def _row_violates(self, ts: TableSchema, row) -> bool:
        """Whether ONE candidate row violates a declared CHECK / NOT NULL
        constraint — the OR IGNORE per-row skip test (driver-local
        single-row evaluation; used only on the conflict-resolving
        triggered-insert path)."""
        df = _local_frame(
            self.spark, [tuple(row[n] for n, _ in ts.fields)], ts.struct()
        )
        try:
            self._assert_constraints(ts, df)
        except QueryRejected:
            return True
        return False

    def _violation_conds(self, ts: TableSchema) -> list[tuple[str, str]]:
        """(error message, Spark filter expr) per declared CHECK / NOT NULL
        constraint — SQLite write semantics: a CHECK passes when its result
        is true OR NULL (probed), NOT NULL fails on NULL (the autoincrement
        column is exempt, it is auto-assigned).  FOREIGN KEYs are
        deliberately NOT enforced: SQLite only enforces them under
        ``PRAGMA foreign_keys=ON`` and the reference never sets any pragma
        (its connections run SQLite defaults), so FK-less writes ARE the
        reference behavior."""
        conds = []
        for label, expr in ts.checks:
            conds.append(
                (
                    f"CHECK constraint failed: {label}",
                    f"NOT coalesce(CAST(({dialect.sqlite_to_spark(expr)}) AS BOOLEAN), true)",
                )
            )
        for col in ts.not_null:
            if col == ts.autoincrement_col:
                continue
            conds.append(
                (f"NOT NULL constraint failed: {ts.name}.{col}", f"`{col}` IS NULL")
            )
        return conds

    def _assert_constraints(self, ts: TableSchema, df) -> None:
        """Raise SQLite's constraint error if any row of ``df`` violates a
        CHECK/NOT NULL.  One combined probe: no job over a local frame (the
        optimizer evaluates it), one job over a partition scan (coalesced,
        so the limit never scales up over more partitions); zero cost for
        constraint-free tables.  The per-constraint re-probe runs only on
        the failure path to name the right constraint."""
        conds = self._violation_conds(ts)
        if not conds:
            return
        combined = " OR ".join(f"({c})" for _, c in conds)
        if not df.filter(combined).coalesce(1).limit(1).collect():
            return
        for msg, c in conds:
            if df.filter(c).coalesce(1).limit(1).collect():
                raise QueryRejected(msg)

    def _drop_constraint_violations(self, ts: TableSchema, df):
        """OR IGNORE semantics (probed): constraint-violating rows are
        silently skipped, the rest of the statement proceeds."""
        conds = self._violation_conds(ts)
        if not conds:
            return df
        combined = " OR ".join(f"({c})" for _, c in conds)
        return df.filter(f"NOT ({combined})")

    @staticmethod
    def _unique_error(table: str, cols: list[str]) -> QueryRejected:
        # SQLite's message format, verbatim, for pk and UNIQUE alike
        named = ", ".join(f"{table}.{k}" for k in cols)
        return QueryRejected(f"UNIQUE constraint failed: {named}")

    def _fold_cols(self, ts: TableSchema, cols: list[str], colls: list[str]):
        """(fold_sql_expr, python_folder) pairs per constraint column.
        Folding applies to string-typed columns only (SQLite collations
        affect text comparisons; numeric values compare numerically)."""
        types = {n.lower(): t for n, t in ts.fields}
        out = []
        for c, coll in zip(cols, colls):
            is_str = isinstance(types.get(c.lower()), T.StringType)
            eff = coll if is_str else "BINARY"
            out.append((_fold_sql(f"`{c}`", eff), eff))
        return out

    def _assert_state_unique(self, ts: TableSchema, table: str, state: DataFrame) -> None:
        """Raise if a final table state contains duplicate keys under any
        declared uniqueness constraint (collation-folded; NULL key
        components never conflict) — the post-hoc guard for the bulk
        paths (``merge``, INSERT..SELECT) that compute a whole-partition
        state: one aggregate job per constraint."""
        for ucols, ucolls in ts.unique_constraints():
            folded = self._fold_cols(ts, ucols, ucolls)
            dup = (
                state.selectExpr(
                    *[f"{sql} AS `{c}`" for c, (sql, _e) in zip(ucols, folded)]
                )
                .where(" AND ".join(f"`{k}` IS NOT NULL" for k in ucols))
                .groupBy(*ucols)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise self._unique_error(table, ucols)

    def _assert_keys_new(
        self, ts: TableSchema, table: str, path: str, batch: pa.Table
    ) -> None:
        """SQLite raises on a duplicate PRIMARY KEY or UNIQUE key in a
        plain INSERT; so do we, per constraint in SQLite's order: within
        the batch, then against the partition's files, read under the
        caller's segment lock (so exact across processes)."""
        cons = ts.unique_constraints()
        if not cons:
            return
        need = {c.lower() for cols, _ in cons for c in cols}
        key = T.StructType([f for f in ts.struct() if f.name.lower() in need])
        new = {f.name.lower(): batch[f.name].to_pylist() for f in key}
        old = dict(zip(new, _file_columns(path, key)))
        for cols, colls in cons:
            keys = self._key_tuples(ts, cols, colls, [new[c.lower()] for c in cols])
            if len(keys) != len(set(keys)) or not set(keys).isdisjoint(
                self._key_tuples(ts, cols, colls, [old[c.lower()] for c in cols])
            ):
                raise self._unique_error(table, cols)

    def _key_tuples(self, ts: TableSchema, cols, colls, columns: list[list]) -> list[tuple]:
        """The keys of constraint ``cols`` in the value lists ``columns``,
        collation-folded (NOCASE/RTRIM — probed ASCII-only / trailing 0x20
        semantics); keys with a NULL component, which never conflict, are
        left out."""
        folds = [eff for _sql, eff in self._fold_cols(ts, cols, colls)]
        keys = (tuple(map(_fold_value, k, folds)) for k in zip(*columns))
        return [k for k in keys if all(v is not None for v in k)]

    def _assert_pk_unique_df(
        self, segment_id: str, table: str, ts: TableSchema, new: DataFrame
    ) -> None:
        """INSERT..SELECT flavor of the uniqueness check: any key (pk or
        UNIQUE, collation-folded) appearing twice across (new ∪ existing)
        is a violation."""
        if not ts.unique_constraints():
            return
        path = self._partition_path(table, segment_id)
        if os.path.isdir(path):
            new = new.unionByName(self._read_files(path, ts.struct()))
        self._assert_state_unique(ts, table, new)

    def _rewrite_partition(
        self, segment_id: str, ts: TableSchema, kind: str, where: str | None,
        sets: list[tuple[str, str]] = (), from_text: str | None = None,
    ) -> _ChangeSet:
        """UPDATE/DELETE = read-modify-overwrite of ONE segment partition —
        bounded work by construction, the whole point of trough-style
        segments (SURVEY §2.B16): its change set, evaluated once, applied."""
        cs = self._change_set(segment_id, ts, kind, where, sets, from_text)
        self._apply_change_set(segment_id, cs)
        return cs

    def _change_set(
        self, segment_id: str, ts: TableSchema, kind: str, where: str | None,
        sets: list[tuple[str, str]] = (), from_text: str | None = None,
    ) -> _ChangeSet:
        """Evaluate one UPDATE (``sets``, and its FROM relations) or DELETE
        once, as ONE read-path query over the target table collected as
        Arrow: the table name, column collations and subqueries bind as
        they do for a SELECT.  SQLite evaluates the WHERE and every SET
        expression against the PRE-update row (sqlite3 UPDATE docs), as
        one projection does; a NULL WHERE hits nothing (three-valued
        logic).  Generated columns recompute from the post-update base
        values (identical for untouched rows — deterministic by DDL rule).
        A STRICT table checks the natural SET values of the hit rows."""
        table = ts.name
        declared = {n.lower() for n, _t in ts.fields}
        for col, _e in sets:
            if col.lower() not in declared:
                raise QueryRejected(f"no such column: {col}")
        slot = {c.lower(): i for i, (c, _e) in enumerate(sets)}  # last wins
        if from_text is None:
            cols = [f"coalesce(({where}), false) AS __trough_hit__" if where else "true AS __trough_hit__"]
            cols += [f"({e}) AS __trough_set{i}__" for i, (_c, e) in enumerate(sets)]
            raw = self.read_df(segment_id, f'SELECT *, {", ".join(cols)} FROM "{table}"')
        else:
            base = self.read_df(segment_id, f'SELECT * FROM "{table}"')
            picked = self._update_from_picked(segment_id, table, ts, sets, from_text, where)
            raw = base.join(
                picked,
                [base[k] == picked[f"__pk_{j}"] for j, k in enumerate(ts.primary_key)],
                "left",
            ).select(
                *[base[n] for n in base.columns],
                picked["__s"].isNotNull().alias("__trough_hit__"),
                *[picked["__s"][f"__set_{i}"].alias(f"__trough_set{i}__") for i in range(len(sets))],
            )
        hit = F.col("__trough_hit__")
        changed = set(slot) | ({c.lower() for c in ts.generated} if sets else set())
        natural = [  # a collated string is stored as a plain one
            F.col(f"__trough_set{i}__").cast(T.StringType()).alias(f"__trough_set{i}__")
            if isinstance(raw.schema[f"__trough_set{i}__"].dataType, T.StringType)
            else F.col(f"__trough_set{i}__")
            for i in slot.values()
        ] if ts.strict else []
        out = raw.select(
            *[
                (
                    F.when(hit, F.col(f"__trough_set{slot[n.lower()]}__").cast(t))
                    .otherwise(F.col(n).cast(t))
                    if n.lower() in slot
                    else F.col(n).cast(t)
                ).alias(n)
                for n, t in ts.fields
            ],
            hit,
            *[
                F.col(n).cast(t).alias(f"__trough_old{j}__")
                for j, (n, t) in enumerate(ts.fields)
                if n.lower() in changed
            ],
            *natural,
        )
        if sets:
            out = self._apply_generated_df(ts, out)
        cs = _ChangeSet(kind, ts, out.toArrow(), set(slot))
        if natural and cs.hits.num_rows:
            # SQLite checks a STRICT column's type per row written, so an
            # UPDATE that hits nothing stores nothing and raises nothing
            names = [f"__trough_set{i}__" for i in slot.values()]
            nat = cs.hits.select(names).rename_columns(
                [_declared_column(ts, c) for c in slot]
            )
            struct = T.StructType(
                [T.StructField(c, out.schema[n].dataType) for c, n in zip(nat.column_names, names)]
            )
            self._strict_check_df(ts, table, _local_frame(self.spark, nat, struct))
        return cs

    def _apply_change_set(self, segment_id: str, cs: _ChangeSet) -> None:
        """Write a change set's post-image.  An UPDATE that lands two rows
        on one PRIMARY KEY or UNIQUE key raises (probed round 8) — checked
        in process over the post-image for the constraints whose columns
        the SET names, before the rewrite's rowid and CHECK / NOT NULL
        checks."""
        ts = cs.ts
        for cols, colls in ts.unique_constraints():
            if cs.sets.isdisjoint(c.lower() for c in cols):
                continue
            keys = self._key_tuples(
                ts, cols, colls, [cs.post[_declared_column(ts, c)].to_pylist() for c in cols]
            )
            if len(keys) != len(set(keys)):
                raise self._unique_error(ts.name, cols)
        self._overwrite_partition(
            segment_id, ts.name, cs.post, check=cs.kind == "UPDATE",
            rowid=(ts.rowid_alias or "").lower() in cs.sets,
        )

    def _update_from_picked(
        self,
        segment_id: str,
        table: str,
        ts: TableSchema,
        assignments: list[tuple[str, str]],
        from_text: str,
        where: str | None,
    ) -> DataFrame:
        """The matched-and-picked half of UPDATE ... FROM: per matching
        target row, every SET expression evaluated against (target row ×
        FROM product) through the read path, deduplicated to one
        deterministic greatest SET-value tuple per PRIMARY KEY —
        (__pk_0.., __s struct), which `_change_set` joins back onto the
        target table by PRIMARY KEY."""
        if not ts.primary_key:
            raise QueryRejected(
                f"UPDATE ... FROM on table {table!r} with no PRIMARY KEY "
                "is not supported (no stable row identity for the "
                "join-back; SQLite uses the rowid)"
            )
        pk = ts.primary_key
        pk_sel = ", ".join(
            f"{table}.{k} AS __pk_{j}" for j, k in enumerate(pk)
        )
        set_sel = ", ".join(
            f"({expr}) AS __set_{i}" for i, (_c, expr) in enumerate(assignments)
        )
        sql = f"SELECT {pk_sel}, {set_sel} FROM {table}, {from_text}"
        if where:
            sql += f" WHERE {where}"
        matched = self.read_df(segment_id, sql)
        if matched.where(
            " OR ".join(f"__pk_{j} IS NULL" for j in range(len(pk)))
        ).limit(1).count():
            # SQLite would update such a row via its rowid; this engine's
            # pk join-back cannot identify it — reject loudly rather than
            # silently skip (same row-identity rule as the trigger paths)
            raise QueryRejected(
                f"UPDATE ... FROM matched a row of {table!r} with NULL "
                "PRIMARY KEY components — no stable row identity for the "
                "join-back"
            )
        return matched.groupBy(
            *[F.col(f"__pk_{j}") for j in range(len(pk))]
        ).agg(
            F.max(
                F.struct(*[F.col(f"__set_{i}") for i in range(len(assignments))])
            ).alias("__s")
        )

    def _upsert_update_sequential(
        self,
        segment_id: str,
        table: str,
        ts: TableSchema,
        rows: list[Row],
        sets: dict[str, str],
        where: str | None,
    ) -> None:
        """Per-row DO UPDATE application over the evolving table state —
        taken only when one statement's VALUES list repeats a conflict key
        (SQLite applies rows sequentially, so a self-referencing SET
        accumulates per occurrence; the batch `_upsert_update` collapses
        duplicates to the last occurrence).  Bounded by the statement's
        VALUES list and the one segment partition."""
        declared = {n.lower() for n, _ in ts.fields}
        pk_lower = {k.lower() for k in ts.primary_key}
        self._reject_generated_targets(ts, list(sets), "UPDATE")
        for c in sets:
            if c not in declared:
                raise QueryRejected(f"no such column: {c}")
            if c in pk_lower:
                raise QueryRejected(
                    "updating the conflict-target key is unsupported"
                )
        pkcols = list(ts.primary_key)
        state: dict[tuple, Row] = {}
        nullkey_rows: list[Row] = []
        null_existing: list[Row] = []
        if os.path.isdir(self._partition_path(table, segment_id)):
            for r0 in self._read_partition(segment_id, table).collect():
                k0 = tuple(r0[k] for k in pkcols)
                if any(v is None for v in k0):
                    # NULL pk components never conflict — existing NULL-pk
                    # rows coexist (store rule at _upsert_*) and must not
                    # collapse into one dict slot (round-8 ADVICE fix)
                    null_existing.append(r0)
                else:
                    state[k0] = r0
        for r in rows:
            k = tuple(r[k2] for k2 in pkcols)
            if any(v is None for v in k):
                nullkey_rows.append(r)  # NULL pk components never conflict
                continue
            if k in state:
                upd = self._upsert_row_update(
                    ts, table, state[k], r, sets, where
                )
                if upd is not None:
                    state[k] = upd
            else:
                state[k] = r
        tuples = [
            tuple(r[n] for n, _ in ts.fields)
            for r in list(state.values()) + null_existing + nullkey_rows
        ]
        self._overwrite_partition(segment_id, table, _arrow_table(tuples, ts.struct()))

    def _update_with_conflict_mode(
        self, segment_id: str, ts: TableSchema, sets: list[tuple[str, str]],
        where: str | None, umode: str, stmt: str,
    ) -> None:
        """UPDATE OR IGNORE / OR REPLACE — SQLite's probed two-pass model:
        pass 1 collects the matching rows' pk POSITIONS in pk order; pass 2
        visits each position and updates whatever row CURRENTLY occupies it
        (an OR REPLACE that moves a row onto a later victim position makes
        that row get updated again — probed: (1,2,3) `SET id=id+1` OR
        REPLACE collapses to the single row (4,'a'); sparse (1,5) does
        not), resolving each pk conflict against the evolving table:
        IGNORE skips the row's change (and any CHECK/NOT NULL-violating
        change, probed), REPLACE silently deletes the collided-with row
        but still raises on CHECK.  Driver-side sequential by necessity —
        the semantics are an evolving-state scan — and bounded by the one
        segment partition like every write.

        The position-chase model above is SQLite's ROWID-ALIAS behavior:
        for an INTEGER PRIMARY KEY, the pk IS the rowid, so an OR REPLACE
        that changes the pk moves the row in rowid space and the scan
        re-visits it.  For any other pk shape (TEXT, composite) the rowid
        is the insertion order — pk updates do NOT move the row and the
        scan visits each original row once.  This engine does not track
        insertion order, so for non-rowid-alias tables it applies each
        row's update from its own original values (order-independent) and
        LOUDLY rejects the one order-dependent case: a statement whose
        updates could pk-conflict with any other row (round-8 ADVICE fix;
        the previous pk-ordered chase could diverge from SQLite there).
        NULL pk components never conflict and NULL-pk rows keep their own
        identity via unique sentinel keys (they must not collapse)."""
        table = ts.name
        if ts.has_extended_uniqueness():
            # the position-visit model below resolves pk conflicts only;
            # folding UNIQUE constraints into the evolving chase is undone
            # work — reject LOUDLY rather than silently diverge (round-8
            # UNIQUE support scope note)
            raise QueryRejected(
                "UPDATE OR IGNORE/REPLACE on a table with UNIQUE "
                "constraints or non-BINARY key collations is not "
                f"supported: {stmt[:80]!r}"
            )
        pkcols = list(ts.primary_key or [])
        declared = {n.lower() for n, _ in ts.fields}
        if not pkcols and (
            umode == "REPLACE" or not self._violation_conds(ts)
        ):
            # no pk => pk conflicts impossible; OR REPLACE == plain, and
            # OR IGNORE only differs when a constraint could reject a row
            cs = self._rewrite_partition(segment_id, ts, "UPDATE", where, sets)
            if self._ret_capturing(table):
                self._ret_add(table, cs.returned())
            return
        sets = {c.lower(): e for c, e in sets}
        for c in sets:
            if c not in declared:
                raise QueryRejected(f"no such column: {c}")
        # the rows and the WHERE mask, as one SET-less change set reads them
        cs = self._change_set(segment_id, ts, "UPDATE", where)
        rows, mask = cs.rows(cs.post), cs.hit.to_pylist()

        def bind(expr: str, row) -> str:
            return _sub_new_old(
                _rewrite_upsert_refs(expr, table, declared), None, row
            )

        names = list(sets)

        def updated_row(row) -> Row:
            cols_sql = ", ".join(
                f"({dialect.sqlite_to_spark(bind(sets[c], row))}) AS v{j}"
                for j, c in enumerate(names)
            )
            try:
                vals = self.spark.sql(f"SELECT {cols_sql}").collect()[0]
            except Exception as e:
                raise QueryRejected(
                    f"unsupported UPDATE SET expression: {e}"
                ) from None
            newvals = dict(zip(names, vals))
            if ts.strict:
                newvals = _strict_coerce_row(
                    ts, table,
                    {n: newvals[n.lower()] for n, _t in ts.fields
                     if n.lower() in newvals},
                )
                newvals = {k.lower(): v for k, v in newvals.items()}
            out_row = Row(
                **{
                    n: _coerce(newvals[n.lower()], t)
                    if n.lower() in newvals
                    else row[n]
                    for n, t in ts.fields
                }
            )
            if ts.generated:
                out_row = self._apply_generated_rows(ts, [out_row])[0]
            return out_row

        # the alias determination is LEXICAL (parse_create_table): a pk
        # declared INT/BIGINT is not the rowid, so it takes the
        # order-independent per-original-row path below, not the chase.
        # WITHOUT ROWID tables chase too — their btree key IS the pk, so
        # the position-visit order is pk order for ANY pk shape (probed:
        # TEXT-pk (a,b,c) `SET k = succ(k)` OR REPLACE collapses to one
        # row exactly like the integer case)
        if ts.rowid_alias or ts.without_rowid:
            # pk == btree key: positions are pk values; the probed chase applies
            sentinel = itertools.count()

            def keyof(k: tuple) -> tuple:
                if all(v is not None for v in k):
                    return k
                return ("\x00null", next(sentinel))

            state: dict[tuple, Row] = {}
            victims: list[tuple[tuple, tuple]] = []
            for r, hit in zip(rows, mask):
                k = tuple(r[c] for c in pkcols)
                key = keyof(k)
                state[key] = r
                if hit:
                    victims.append((k, key))
            victims.sort(
                key=lambda t: tuple((v is None, v) for v in t[0])
            )
            for vk, vkey in victims:
                row = state.get(vkey)
                if row is None:
                    continue  # REPLACE deleted this victim before its visit
                new = updated_row(row)
                if umode == "IGNORE" and self._row_violates(ts, new):
                    continue
                nk = tuple(new[c] for c in pkcols)
                # a new pk with NULLs takes a fresh sentinel; a NULL rowid
                # then fails the rewrite's check with "datatype mismatch"
                # even under OR IGNORE/REPLACE (probed round 8), while a
                # WITHOUT ROWID pk hits NOT NULL (IGNORE skipped it above)
                nkey = keyof(nk)
                if (
                    nkey != vkey
                    and all(v is not None for v in nk)
                    and nkey in state
                ):
                    if umode == "IGNORE":
                        continue
                    del state[nkey]  # REPLACE: the collided-with row vanishes
                del state[vkey]
                state[nkey] = new
                self._ret_add(table, [new])  # applied change (skips omitted)
            survivors = list(state.values())
        else:
            # non-rowid pk (or none): per-original-row application; reject
            # loudly when any update could pk-conflict (order-dependent)
            news: dict[int, Row] = {}
            for i, r in enumerate(rows):
                if not mask[i]:
                    continue
                new = updated_row(r)
                if umode == "IGNORE" and self._row_violates(ts, new):
                    continue
                news[i] = new
                self._ret_add(table, [new])  # applied change (skips omitted)
            if pkcols:
                orig_owner: dict[tuple, int] = {}
                for i, r in enumerate(rows):
                    k = tuple(r[c] for c in pkcols)
                    if all(v is not None for v in k):
                        orig_owner[k] = i
                seen_new: set[tuple] = set()
                for i, new in news.items():
                    nk = tuple(new[c] for c in pkcols)
                    if any(v is None for v in nk):
                        continue
                    if nk in seen_new or orig_owner.get(nk, i) != i:
                        raise QueryRejected(
                            f"UPDATE OR {umode} would pk-conflict on a "
                            "table whose PRIMARY KEY is not an INTEGER "
                            "rowid alias: SQLite resolves these in rowid "
                            "(insertion) order, which this engine does not "
                            f"track — rejected loudly: {stmt[:80]!r}"
                        )
                    seen_new.add(nk)
            survivors = [news.get(i, r) for i, r in enumerate(rows)]
        tuples = [tuple(r[n] for n, _ in ts.fields) for r in survivors]
        # OR REPLACE: CHECK still raises, in the rewrite's check
        rowid = (ts.rowid_alias or "").lower() in sets
        self._overwrite_partition(segment_id, table, _arrow_table(tuples, ts.struct()), rowid=rowid)

    # -- trigger execution (B14; reference semantics write.py:40 — scripts
    # -- run inside SQLite where recorded triggers fire on DML) -------------

    def _segment_triggers(self, segment_id: str) -> list[Trigger]:
        # CREATION order (dict insertion order survives the JSON round-trip)
        # — firing order depends on it, see _fire_triggers
        raw = self._segment_info(segment_id).get("triggers", {})
        return [parse_create_trigger(sql) for sql in raw.values()]

    def _triggers_for(
        self, segment_id: str, table: str, event: str, set_cols=None
    ) -> list[Trigger]:
        out = []
        for tr in self._segment_triggers(segment_id):
            if tr.name.lower() in self._trigger_stack:
                # recursive_triggers=OFF (SQLite default, probed live): a
                # trigger on the firing stack never re-enters ITSELF; every
                # other trigger — including one on a different table hit by
                # this trigger's body — still fires (cascading)
                continue
            if tr.table.lower() != table.lower() or tr.event != event:
                continue
            if event == "UPDATE" and tr.update_cols and set_cols is not None:
                if not set(tr.update_cols) & {c.lower() for c in set_cols}:
                    continue  # UPDATE OF cols: none of them assigned
            out.append(tr)
        return out

    def _eval_scalar(self, expr: str, segment_id: str | None = None, pending=None):
        """Constant-fold one non-literal VALUES / trigger-body expression
        (dialect-translated) through Spark SQL — a driver-local zero-scan
        SELECT, used only off the hot path (script writes).

        With ``segment_id``, a state-reading scalar subquery (e.g.
        ``(SELECT count(*) FROM t)``) that the zero-table fold cannot
        resolve is evaluated against the segment's CURRENT state via the
        read path, after flushing ``pending`` so rows staged earlier in the
        same script are visible — SQLite's per-statement view.  Returns
        ``(value, state_read)`` never; just the value (callers that must
        know whether state was read use ``_eval_scalar_tracked``)."""
        return self._eval_scalar_tracked(expr, segment_id, pending)[0]

    def _eval_scalar_tracked(
        self, expr: str, segment_id: str | None = None, pending=None
    ):
        """(value, state_read) — see _eval_scalar."""
        if segment_id is not None and re.search(r"\bSELECT\b", expr, re.IGNORECASE):
            # a subquery MUST resolve against current segment state, which
            # only the read path binds; the zero-table fold sees no tables
            if pending:
                self._flush_inserts(segment_id, pending)
            try:
                rows = self.read(segment_id, f"SELECT ({expr}) AS _v")
            except Exception as e2:
                raise QueryRejected(
                    f"unsupported VALUES expression {expr!r}: {e2}"
                ) from None
            # "state read" only if the subquery touches a segment table or
            # view — a constant subquery like (SELECT 1+2) is position-
            # independent and must not trip the multi-row-VALUES reject
            info = self._segment_info(segment_id)
            names = {n.lower() for n in [*self._segment_tables(segment_id), *info.get("views", {})]}
            return rows[0]["_v"], not names.isdisjoint(dialect.bindable_names(expr))
        sql = dialect.sqlite_to_spark(expr)
        try:
            return self.spark.sql(f"SELECT ({sql})").collect()[0][0], False
        except Exception as e:
            raise QueryRejected(
                f"unsupported VALUES expression {expr!r}: {e}"
            ) from None

    def _eval_bools(self, exprs: list[str]) -> list[bool]:
        """Evaluate fully-substituted (constant) trigger WHEN / RAISE WHERE
        expressions — BATCHED: one zero-table SELECT per 64 expressions (one
        column each), so an N-row firing costs ceil(N/64) driver-local jobs
        instead of N."""
        out: list[bool] = []
        B = 64
        for i in range(0, len(exprs), B):
            chunk = exprs[i : i + B]
            cols = ", ".join(
                f"coalesce(CAST(({dialect.sqlite_to_spark(e)}) AS BOOLEAN), false) AS c{j}"
                for j, e in enumerate(chunk)
            )
            row = self.spark.sql(f"SELECT {cols}").collect()[0]
            out.extend(bool(v) for v in row)
        return out

    def _eval_when(self, expr: str) -> bool:
        return self._eval_bools([expr])[0]

    @staticmethod
    def _has_subquery(expr: str | None) -> bool:
        """Whether a WHEN / RAISE WHERE expression needs live-state
        evaluation (conservative word match; a false positive merely takes
        the slower-but-equivalent live path)."""
        return expr is not None and re.search(r"\bSELECT\b", expr, re.IGNORECASE) is not None

    def _eval_when_live(self, segment_id: str, expr: str, pending: dict) -> bool:
        """Trigger WHEN / RAISE WHERE containing a scalar subquery: SQLite
        re-evaluates it per row against LIVE table state (probed: a
        BEFORE-INSERT WHEN's COUNT(*) sees 0,1,2 across a multi-row
        insert), so the fully-substituted expression runs through the
        segment read path after flushing pending rows (round 10 — was a
        loud reject).  One driver-local job per row per trigger, bounded
        by trough's small-segment trigger model like the rest of the
        interleave machinery."""
        self._flush_inserts(segment_id, pending)
        row = self.read_df(
            segment_id,
            f"SELECT coalesce(CAST(({expr}) AS BOOLEAN), FALSE) AS v",
        ).collect()[0]
        return bool(row["v"])

    def _fire_triggers(
        self, segment_id: str, trigs: list[Trigger], timing: str, rows, pending
    ) -> set[int]:
        """Fire matching triggers FOR EACH ROW.  ``rows`` is a list of
        (old_row|None, new_row|None) pairs.  Returns the indices of rows
        whose firing hit RAISE(IGNORE) — in a BEFORE phase the caller skips
        those rows' changes (SQLite RAISE(IGNORE) semantics).

        Scale note: firing is driver-coordinated by design — the reference
        runs the identical semantics single-node inside SQLite, and the rows
        driving it are one script's affected rows on ONE segment (bounded by
        trough's segment model), never a corpus-wide scan."""
        fired = [t for t in trigs if t.timing == timing]
        if not fired:
            return set()
        # WHEN verdicts batched up front (chunked zero-table SELECTs) —
        # EXCEPT subquery-bearing WHENs, which must read live table state
        # at each row's visit and evaluate lazily inside the row loop
        when_ok: dict[int, list[bool]] = {}
        when_live: set[int] = set()
        for ti, tr in enumerate(fired):
            if tr.when is None:
                continue
            if self._has_subquery(tr.when):
                when_live.add(ti)
            else:
                when_ok[ti] = self._eval_bools(
                    [_sub_new_old(tr.when, nr, orow) for orow, nr in rows]
                )
        # SQLite nesting, verified against live sqlite3: rows OUTER (the
        # statement processes row by row), triggers INNER in REVERSE
        # creation order (SQLite prepends new triggers to its list)
        ignored: set[int] = set()
        for ri, (old_row, new_row) in enumerate(rows):
            for ti in range(len(fired) - 1, -1, -1):
                tr = fired[ti]
                if ti in when_ok and not when_ok[ti][ri]:
                    continue
                if tr.name.lower() in self._trigger_stack:
                    continue  # re-entry suppressed (recursive_triggers=OFF)
                if ti in when_live and not self._eval_when_live(
                    segment_id, _sub_new_old(tr.when, new_row, old_row), pending
                ):
                    continue
                self._trigger_stack.append(tr.name.lower())
                try:
                    for b in tr.body:
                        self._exec_trigger_stmt(
                            segment_id, _sub_new_old(b, new_row, old_row), pending
                        )
                except _TriggerIgnore:
                    # probed against live sqlite3: IGNORE abandons the
                    # rest of this body AND all subsequent trigger
                    # programs for this row, and (BEFORE) the row change
                    ignored.add(ri)
                    break
                finally:
                    self._trigger_stack.pop()
        return ignored

    def _exec_trigger_stmt(self, segment_id: str, stmt: str, pending: dict) -> None:
        """One trigger-body statement.  Body DML goes through the SAME
        trigger-aware paths as top-level DML, so a trigger on table A whose
        body writes table B fires B's triggers (cascading — live-SQLite
        recursive_triggers=OFF suppresses only self-re-entry, which
        _triggers_for handles via the firing stack)."""
        if self._ret is not None:
            # body writes never contribute to the statement's RETURNING
            # (and RETURNING inside a body is rejected at CREATE TRIGGER)
            self._ret.depth += 1
            try:
                return self._exec_trigger_stmt_inner(segment_id, stmt, pending)
            finally:
                self._ret.depth -= 1
        return self._exec_trigger_stmt_inner(segment_id, stmt, pending)

    def _exec_trigger_stmt_inner(
        self, segment_id: str, stmt: str, pending: dict
    ) -> None:
        kind = dialect.statement_type(stmt)
        if kind in ("INSERT", "REPLACE"):
            if self._view_dml(segment_id, stmt, kind, pending):
                return
            if not self._insert_with_triggers(segment_id, stmt, pending):
                self._execute_insert(segment_id, stmt, pending)
        elif kind in ("UPDATE", "DELETE"):
            if self._view_dml(segment_id, stmt, kind, pending):
                return
            self._flush_inserts(segment_id, pending)
            self._dml_with_triggers(segment_id, stmt, kind, pending)
        elif kind == "SELECT":
            m = _RAISE_RE.match(stmt)  # shape guaranteed by parse_create_trigger
            cond = m.group("where")
            if cond is not None:
                # subquery-bearing RAISE conditions read live state
                # (round 10), same contract as subquery WHEN clauses
                ok = (
                    self._eval_when_live(segment_id, cond, pending)
                    if self._has_subquery(cond)
                    else self._eval_when(cond)
                )
                if not ok:
                    return
            if m.group("kind").upper() == "IGNORE":
                raise _TriggerIgnore
            raise TriggerAbort(m.group("msg").replace("''", "'") if m.group("msg") else "")

    def _insert_with_triggers(self, segment_id: str, stmt: str, pending: dict) -> bool:
        """Fire INSERT triggers around an ``INSERT ... VALUES`` or
        ``INSERT .. SELECT`` (materialized to VALUES).  Returns False when no
        trigger matches (caller takes the normal path).

        Conflict forms (OR REPLACE/IGNORE, ON CONFLICT) on a TRIGGERED table
        are rejected rather than silently diverging from SQLite's
        conflict-resolution × trigger interplay."""
        m = self._match_insert(stmt)
        table = self._stmt_table(segment_id, m)
        trigs = self._triggers_for(segment_id, table, "INSERT")
        if (
            trigs
            and self._table_schema(segment_id, table).has_extended_uniqueness()
            and not self._table_schema(segment_id, table).primary_key
        ):
            # UNIQUE-constrained conflict resolution on a triggered table
            # needs a pk for the per-row disk rewrites (round 10 closed the
            # general triggers x UNIQUE reject; SQLite identifies rows by
            # rowid, which this engine does not track)
            raise QueryRejected(
                "INSERT on a pk-less table with both triggers and UNIQUE "
                f"constraints is not supported: {stmt[:80]!r}"
            )
        body = m.group("body")
        body_u = body.upper()
        mode = self._insert_mode(m)
        onc = self._ON_CONFLICT_RE.search(body) if body_u.startswith("VALUES") else None
        if not trigs:
            # No INSERT triggers — but a DO UPDATE upsert still fires the
            # table's UPDATE triggers on its conflict path (caught by the
            # conflict-forms fuzzer), so it must take this per-row path
            # when any match the SET columns.  Everything else keeps the
            # batch path: OR REPLACE under the pinned recursive_triggers=
            # OFF fires no DELETE/UPDATE triggers for replaced rows.
            if not (
                onc is not None
                and mode is None
                and onc.group("sets") is not None
            ):
                return False
            set_cols = [
                c.lower() for c, _ in _split_assignments(onc.group("sets"))
            ]
            if not self._triggers_for(
                segment_id, table, "UPDATE", set_cols=set_cols
            ):
                return False
        # Conflict forms × triggers (probed live, round 7): OR IGNORE fires
        # BEFORE for EVERY row, then skips the row's insert AND its AFTER
        # when the row hits a pk conflict or ANY constraint violation;
        # ON CONFLICT DO NOTHING does the same for pk conflicts ONLY
        # (CHECK / NOT NULL violations still abort).  OR REPLACE fires
        # BEFORE INSERT / AFTER INSERT per row exactly like a plain insert
        # while the conflicting old row is deleted SILENTLY — SQLite fires
        # DELETE triggers for REPLACE-removed rows only under
        # recursive_triggers=ON, and this engine pins the OFF default.
        # DO UPDATE fires BEFORE INSERT with the INSERT's NEW row even when
        # the row takes the update path; on conflict the SET applies and
        # the table's UPDATE triggers fire around it (OLD = pre-update row,
        # NEW = updated row); a false upsert WHERE leaves the row untouched
        # after BEFORE INSERT alone; non-conflicting rows insert and fire
        # AFTER INSERT.
        skip_unique = skip_constraints = replace_rows = False
        do_nothing: str | None = None  # None | "any" (catch-all) | "pk" (targeted)
        do_update: tuple[dict, str | None] | None = None
        if mode == "IGNORE":
            if onc is not None:
                # stripping OR IGNORE but leaving the ON CONFLICT clause
                # would route the statement through the batch upsert path
                # with no rows staged — triggers would silently never fire
                # (round-8 ADVICE fix): reject loudly instead
                raise QueryRejected(
                    "INSERT OR IGNORE with an ON CONFLICT clause on a "
                    f"triggered table is not supported: {stmt[:80]!r}"
                )
            skip_unique = skip_constraints = True
            stmt = re.sub(
                r"(?is)^(\s*)INSERT\s+OR\s+IGNORE\s+", r"\1INSERT ", stmt, count=1
            )
            m = self._match_insert(stmt)
            body = m.group("body")
            body_u = body.upper()
        elif onc is not None and mode is None and onc.group("nothing") is not None:
            ts0 = self._table_schema(segment_id, table)
            if not ts0.primary_key:
                raise QueryRejected(
                    f"ON CONFLICT on table {table!r} with no PRIMARY KEY"
                )
            cc = onc.group("cc")
            if cc is not None:
                target = sorted(_unquote(c.strip()).lower() for c in cc.split(","))
                if target != sorted(c.lower() for c in ts0.primary_key):
                    raise QueryRejected(
                        "ON CONFLICT target must be the PRIMARY KEY "
                        f"({', '.join(ts0.primary_key)})"
                    )
            # probed (round 10): catch-all DO NOTHING skips on ANY
            # constraint conflict; a pk-targeted DO NOTHING skips only on
            # the pk and a UNIQUE-only conflict RAISES
            do_nothing = "pk" if cc is not None else "any"
            cols_part = f" ({m.group('cols')})" if m.group("cols") else ""
            stmt = f"INSERT INTO {table}{cols_part} {body[: onc.start()]}"
            m = self._match_insert(stmt)
            body = m.group("body")
            body_u = body.upper()
        elif mode == "REPLACE" and onc is None:
            replace_rows = True
            stmt = re.sub(
                r"(?is)^(\s*)(?:INSERT\s+OR\s+REPLACE|REPLACE)\s+",
                r"\1INSERT ",
                stmt,
                count=1,
            )
            m = self._match_insert(stmt)
            body = m.group("body")
            body_u = body.upper()
        elif onc is not None and mode is None and onc.group("sets") is not None:
            ts0 = self._table_schema(segment_id, table)
            if not ts0.primary_key:
                raise QueryRejected(
                    f"ON CONFLICT on table {table!r} with no PRIMARY KEY"
                )
            cc = onc.group("cc")
            if cc is None:
                raise QueryRejected(
                    "ON CONFLICT ... DO UPDATE requires an explicit conflict target"
                )
            target = sorted(_unquote(c.strip()).lower() for c in cc.split(","))
            if target != sorted(c.lower() for c in ts0.primary_key):
                raise QueryRejected(
                    "ON CONFLICT target must be the PRIMARY KEY "
                    f"({', '.join(ts0.primary_key)})"
                )
            sets = {
                c.lower(): e for c, e in _split_assignments(onc.group("sets"))
            }
            declared0 = {n.lower() for n, _ in ts0.fields}
            pk_lower = {k.lower() for k in ts0.primary_key}
            self._reject_generated_targets(ts0, list(sets), "UPDATE")
            for c in sets:
                if c not in declared0:
                    raise QueryRejected(f"no such column: {c}")
                if c in pk_lower:
                    raise QueryRejected(
                        "updating the conflict-target key is unsupported"
                    )
            do_update = (sets, onc.group("where"))
            cols_part = f" ({m.group('cols')})" if m.group("cols") else ""
            stmt = f"INSERT INTO {table}{cols_part} {body[: onc.start()]}"
            m = self._match_insert(stmt)
            body = m.group("body")
            body_u = body.upper()
        elif mode is not None or onc is not None:
            raise QueryRejected(
                "unsupported conflict form on a table with triggers: "
                f"{stmt[:80]!r}"
            )
        conflict_path = (
            skip_unique
            or skip_constraints
            or replace_rows
            or do_nothing is not None
            or do_update is not None
        )
        if conflict_path and table.lower() in self._body_write_closure(
            segment_id, trigs
        ):
            raise QueryRejected(
                f"conflict-resolving INSERT on {table!r} whose trigger bodies "
                f"(or their cascades) write {table!r}: body writes would race "
                "the per-row conflict check — rejected loudly"
            )
        if body_u.startswith("SELECT") or body_u.startswith("WITH"):
            # INSERT..SELECT on a triggered table: materialize the source
            # rows (driver-side — bounded by trigger presence, exactly the
            # rows the per-row firing must see anyway) and replay them as a
            # plain VALUES insert so the normal trigger path below runs.
            ts = self._table_schema(segment_id, table)
            cols = (
                [_unquote(c) for c in m.group("cols").split(",")]
                if m.group("cols")
                else [n for n, _ in ts.fields]
            )
            # flush rows staged by EARLIER statements in this script first —
            # the SELECT must see them (sqlite3 executescript semantics; the
            # non-trigger INSERT..SELECT path flushes the same way)
            self._flush_inserts(segment_id, pending)
            # SQLite produces rows in table-scan (rowid) order, and firing
            # order is observable to state-reading bodies — for a simple
            # single-table SELECT, pin the materialization to the source
            # table's pk order (collect() order is otherwise partition-
            # nondeterministic)
            src_body = body
            msrc = re.match(
                r'(?is)^\s*SELECT\s+.*?\s+FROM\s+[`"\[]?(\w+)[`"\]]?\s*(WHERE\b.*)?$',
                body,
            )
            if msrc and not re.search(
                r"(?i)\b(ORDER\s+BY|GROUP\s+BY|JOIN|UNION|LIMIT|EXCEPT|INTERSECT)\b",
                body,
            ):
                try:
                    sts = self._table_schema(segment_id, _unquote(msrc.group(1)))
                except Exception:
                    sts = None
                if sts is not None and sts.primary_key:
                    src_body = body + " ORDER BY " + ", ".join(sts.primary_key)
            src_rows = self.read_df(segment_id, src_body).collect()
            if src_rows and len(src_rows[0]) != len(cols):
                raise QueryRejected(
                    f"INSERT..SELECT arity mismatch: {len(src_rows[0])} vs {len(cols)}"
                )
            if not src_rows:
                return True  # nothing inserted, nothing fires
            vals = ", ".join(
                "(" + ", ".join(dialect.sql_value(v) for v in row) + ")"
                for row in src_rows
            )
            stmt = f"INSERT INTO {table} ({', '.join(cols)}) VALUES {vals}"
            m = self._match_insert(stmt)
            body = m.group("body")
        elif not body_u.startswith("VALUES"):
            raise QueryRejected(
                f"unsupported INSERT body on a triggered table: {stmt[:80]!r}"
            )
        staged: dict[str, list[Row]] = {}
        if re.search(r"\bSELECT\b", body, re.IGNORECASE):
            # a state-reading VALUES subquery must see rows staged by
            # earlier statements of this script (they'd otherwise sit in
            # the OUTER pending dict, invisible to the read fallback)
            self._flush_inserts(segment_id, pending)
        if self._ret is not None:
            # materialization dispatch only — RETURNING captures per-row
            # outcomes in the loops below, not the raw parsed rows
            self._ret.depth += 1
            try:
                self._execute_insert(segment_id, stmt, staged)
            finally:
                self._ret.depth -= 1
        else:
            self._execute_insert(segment_id, stmt, staged)
        new_rows = staged.get(table, [])
        # NOTE: autoincrement ids are assigned before BEFORE triggers fire, so
        # NEW.<autoinc> is the final id even in BEFORE bodies (documented
        # divergence from SQLite's unassigned-rowid-in-BEFORE).
        if conflict_path:
            # per-row conflict-resolving loop (probed order: BEFORE fires,
            # then the conflict check decides insert + AFTER vs the mode's
            # resolution — silent skip, silent replace, or upsert-update).
            # Round 10: conflicts are tracked across EVERY declared
            # uniqueness constraint (pk + UNIQUEs, collation-folded — the
            # same maps machinery as the untriggered sequential path), not
            # just the binary pk; NULL key components never conflict
            # (probed; storing them would also collapse coexisting NULL-pk
            # rows into one slot — round-8 ADVICE fix).
            ts = self._table_schema(segment_id, table)
            pkcols = list(ts.primary_key or [])
            cons = ts.unique_constraints()
            folded = [
                (cols, [eff for _s, eff in self._fold_cols(ts, cols, colls)])
                for cols, colls in cons
            ]

            def _keys_of(r) -> list:
                out = []
                for cols, effs in folded:
                    k = tuple(_fold_value(r[c], e) for c, e in zip(cols, effs))
                    out.append(None if any(v is None for v in k) else k)
                return out

            live: dict[int, Row] = {}
            maps: list[dict] = [dict() for _ in cons]
            next_rid = 0

            def _track(r) -> int:
                nonlocal next_rid
                rid = next_rid
                next_rid += 1
                live[rid] = r
                for ci, k in enumerate(_keys_of(r)):
                    if k is not None:
                        maps[ci][k] = rid
                return rid

            def _untrack(rid) -> None:
                r = live.pop(rid)
                for ci, k in enumerate(_keys_of(r)):
                    if k is not None and maps[ci].get(k) == rid:
                        del maps[ci][k]

            if os.path.isdir(self._partition_path(table, segment_id)):
                for r0 in self._read_partition(segment_id, table).collect():
                    _track(r0)
            for r0 in pending.get(table, []):
                _track(r0)
            utrigs = (
                self._triggers_for(
                    segment_id, table, "UPDATE", set_cols=list(do_update[0])
                )
                if do_update is not None
                else []
            )
            if utrigs and table.lower() in self._body_write_closure(
                segment_id, utrigs
            ):
                raise QueryRejected(
                    f"DO UPDATE on {table!r} whose UPDATE-trigger bodies "
                    f"(or their cascades) write {table!r}: body writes would "
                    "race the per-row conflict loop — rejected loudly"
                )
            for r in new_rows:
                pair = [(None, r)]
                if self._fire_triggers(segment_id, trigs, "BEFORE", pair, pending):
                    continue  # RAISE(IGNORE): skip this row's insert
                rk = _keys_of(r)
                hits = [
                    (ci, maps[ci][k])
                    for ci, k in enumerate(rk)
                    if k is not None and k in maps[ci]
                ]
                hit_cis = {ci for ci, _rid in hits}
                if hits and (skip_unique or skip_constraints):
                    continue  # uniqueness conflict: no insert, no AFTER
                if hits and do_nothing is not None:
                    # catch-all: any conflict skips; pk-targeted: a pk
                    # conflict skips, a UNIQUE-only conflict RAISES (probed)
                    if do_nothing == "any" or 0 in hit_cis:
                        continue
                    first_ci = min(hit_cis)
                    raise self._unique_error(table, cons[first_ci][0])
                if skip_constraints and self._row_violates(ts, r):
                    continue  # OR IGNORE skips constraint violations too
                if hits and replace_rows:
                    # silent delete of EVERY conflicting row — one incoming
                    # row can hit several constraints / rows (probed) — no
                    # DELETE triggers under the pinned recursive_triggers=
                    # OFF; then the new row lands and AFTER INSERT fires
                    self._flush_inserts(segment_id, pending)
                    hit_rids = sorted({rid for _ci, rid in hits})
                    first_old = live[hit_rids[0]]
                    for rid in hit_rids[1:]:
                        self._apply_row_change(segment_id, table, ts, live[rid], None)
                    self._apply_row_change(segment_id, table, ts, first_old, r)
                    for rid in hit_rids:
                        _untrack(rid)
                    _track(r)
                    self._ret_add(table, [r])
                    self._fire_triggers(segment_id, trigs, "AFTER", pair, pending)
                    self._flush_inserts(segment_id, pending)
                    continue
                if hits and do_update is not None:
                    if 0 not in hit_cis:
                        # pk-targeted upsert; a UNIQUE-only conflict RAISES
                        first_ci = min(hit_cis)
                        raise self._unique_error(table, cons[first_ci][0])
                    sets, uwhere = do_update
                    rid0 = dict(hits)[0]
                    old = live[rid0]
                    updated = self._upsert_row_update(ts, table, old, r, sets, uwhere)
                    if updated is None:
                        continue  # upsert WHERE false: BEFORE fired, no change
                    upair = [(old, updated)]
                    self._flush_inserts(segment_id, pending)
                    if self._fire_triggers(
                        segment_id, utrigs, "BEFORE", upair, pending
                    ):
                        continue  # RAISE(IGNORE) in BEFORE UPDATE: skip
                    # the SET may have moved UNIQUE keys — re-check against
                    # the live maps minus the row being updated (probed:
                    # colliding with a third row raises)
                    _untrack(rid0)
                    for ci, k in enumerate(_keys_of(updated)):
                        if k is not None and k in maps[ci]:
                            raise self._unique_error(table, cons[ci][0])
                    self._apply_row_change(segment_id, table, ts, old, updated)
                    _track(updated)
                    self._ret_add(table, [updated])
                    self._fire_triggers(segment_id, utrigs, "AFTER", upair, pending)
                    self._flush_inserts(segment_id, pending)
                    continue
                if hits:
                    # no resolving mode for this conflict: raise like a
                    # plain insert (first conflicting constraint, pk-first)
                    first_ci = min(hit_cis)
                    raise self._unique_error(table, cons[first_ci][0])
                pending.setdefault(table, []).append(r)
                self._flush_inserts(segment_id, pending)
                _track(r)
                self._ret_add(table, [r])
                self._fire_triggers(segment_id, trigs, "AFTER", pair, pending)
                self._flush_inserts(segment_id, pending)
            return True
        if len(new_rows) > 1 and self._bodies_observe_state(segment_id, trigs):
            # SQLite processes a multi-row INSERT row at a time (probed:
            # a BEFORE body's COUNT(*) sees 0,1,2; AFTER sees 1,2,3), so
            # when any body can OBSERVE table state the rows must be
            # interleaved — BEFORE(row), insert row, AFTER(row), next row.
            # State-blind bodies keep the cheaper batched path below.
            for r in new_rows:
                pair = [(None, r)]
                if self._fire_triggers(segment_id, trigs, "BEFORE", pair, pending):
                    continue  # RAISE(IGNORE): skip this row's insert
                pending.setdefault(table, []).append(r)
                self._flush_inserts(segment_id, pending)
                self._ret_add(table, [r])
                self._fire_triggers(segment_id, trigs, "AFTER", pair, pending)
                self._flush_inserts(segment_id, pending)
            return True
        pairs = [(None, r) for r in new_rows]
        ignored = self._fire_triggers(segment_id, trigs, "BEFORE", pairs, pending)
        if ignored:
            # RAISE(IGNORE) in a BEFORE INSERT trigger skips that row's insert
            new_rows = [r for i, r in enumerate(new_rows) if i not in ignored]
            pairs = [p for i, p in enumerate(pairs) if i not in ignored]
        pending.setdefault(table, []).extend(new_rows)
        self._ret_add(table, new_rows)
        self._flush_inserts(segment_id, pending)
        self._fire_triggers(segment_id, trigs, "AFTER", pairs, pending)
        self._flush_inserts(segment_id, pending)
        return True

    def _view_name_of(self, segment_id: str, name: str) -> str | None:
        """The stored view key matching ``name`` case-insensitively."""
        return _declared_name(self._segment_info(segment_id).get("views", {}), name)

    def _view_dml(self, segment_id: str, stmt: str, kind: str, pending: dict) -> bool:
        """INSTEAD OF (view) trigger dispatch — probed SQLite semantics:
        DML whose target is a VIEW fires the view's matching INSTEAD OF
        triggers FOR EACH affected row in place of any write (NEW is the raw
        tuple mapped to the view's columns, unspecified columns NULL; OLD /
        NEW for UPDATE/DELETE carry the computed view row), in reverse
        creation order per row; with no matching trigger — including an
        UPDATE none of whose SET columns hit an ``UPDATE OF`` list — SQLite's
        exact 'cannot modify ... because it is a view' error raises.
        Returns False when the target is not a view."""
        if kind in ("INSERT", "REPLACE"):
            m = self._match_insert(stmt)
        elif kind == "UPDATE":
            m = _UPDATE_STMT_RE.match(stmt)
        else:
            m = _DELETE_STMT_RE.match(stmt)
        if m is None:
            return False
        vname = self._view_name_of(segment_id, _unquote(m.group("name")))
        if vname is None:
            return False
        # the view reads tables: rows staged earlier in this script must be
        # visible (same flush rule as INSERT..SELECT materialization)
        self._flush_inserts(segment_id, pending)
        if kind == "UPDATE":
            v_sets_text, v_from, v_where = _update_parts(m)
            if v_from is not None:
                raise QueryRejected(
                    f"UPDATE ... FROM on a view is not supported: {stmt[:80]!r}"
                )
            sets = dict(_split_assignments(v_sets_text))
            trigs = self._triggers_for(segment_id, vname, "UPDATE", set_cols=list(sets))
        else:
            trigs = self._triggers_for(segment_id, vname, "INSERT" if kind == "REPLACE" else kind)
        trigs = [t for t in trigs if t.timing == "INSTEAD OF"]
        if not trigs:
            raise QueryRejected(f"cannot modify {vname} because it is a view")
        if kind in ("INSERT", "REPLACE"):
            body = m.group("body")
            # probed live: a view has no constraints, so OR REPLACE / OR
            # IGNORE on an INSTEAD OF view fire the trigger per row exactly
            # like a plain INSERT; the upsert clause is a hard SQLite error
            if self._ON_CONFLICT_RE.search(body):
                raise QueryRejected(f"cannot UPSERT a view: {stmt[:80]!r}")
            vdf = self.read_df(segment_id, f"SELECT * FROM {vname}")
            vcols = vdf.columns
            cols = (
                [_unquote(c.strip()) for c in m.group("cols").split(",")]
                if m.group("cols")
                else list(vcols)
            )
            if body.upper().startswith("VALUES"):
                tuples = self._parse_values(body[len("VALUES") :], segment_id, pending)
            else:
                tuples = [list(r) for r in self.read_df(segment_id, body).collect()]
            colmap = {c.lower(): c for c in vcols}
            pairs = []
            for tup in tuples:
                if len(tup) != len(cols):
                    raise QueryRejected(
                        f"view INSERT arity mismatch: {len(tup)} vs {len(cols)}"
                    )
                d = {c: None for c in vcols}
                for c, v in zip(cols, tup):
                    if c.lower() not in colmap:
                        raise QueryRejected(f"no such column: {vname}.{c}")
                    d[colmap[c.lower()]] = v
                pairs.append((None, Row(**d)))
            # INSERT ... RETURNING on a view returns the NEW row values
            # regardless of what the INSTEAD OF body writes (probed)
            self._ret_add(vname, [p[1] for p in pairs], schema=vdf.schema)
        else:
            # the UPDATE regex may split WHERE inside a SET subquery — use
            # the token-aware parts for UPDATE; the DELETE regex is anchored
            where = v_where if kind == "UPDATE" else m.group("where")
            mask = (
                f"coalesce(({dialect.sqlite_to_spark(where)}), false)"
                if where
                else "true"
            )
            hit = self.read_df(segment_id, f"SELECT * FROM {vname}").filter(mask)
            if kind == "DELETE":
                pairs = [(r, None) for r in hit.collect()]
                # DELETE ... RETURNING on a view returns the OLD view rows
                # (probed); UPDATE RETURNING is rejected in _ret_begin
                self._ret_add(vname, [p[0] for p in pairs], schema=hit.schema)
            else:
                view_cols_lc = {c.lower() for c in hit.columns}
                for c in sets:
                    if _unquote(c).lower() not in view_cols_lc:
                        # SQLite's exact error (probed); raised AFTER the
                        # cannot-modify check, matching its precedence
                        raise QueryRejected(f"no such column: {_unquote(c)}")
                lowered = {
                    c.lower(): dialect.sqlite_to_spark(e) for c, e in sets.items()
                }
                cols = hit.columns
                rows = hit.select(
                    F.struct(*[F.col(n) for n in cols]).alias("_o"),
                    F.struct(
                        *[
                            (
                                F.expr(lowered[n.lower()])
                                if n.lower() in lowered
                                else F.col(n)
                            ).alias(n)
                            for n in cols
                        ]
                    ).alias("_n"),
                ).collect()
                pairs = [(r["_o"], r["_n"]) for r in rows]
        if len(pairs) > 1 and self._bodies_observe_state(segment_id, trigs):
            # per-row interleave so a later row's bodies see earlier rows'
            # effects (same probed rule as multi-row INSERT triggers)
            for p in pairs:
                self._fire_triggers(segment_id, trigs, "INSTEAD OF", [p], pending)
                self._flush_inserts(segment_id, pending)
        else:
            self._fire_triggers(segment_id, trigs, "INSTEAD OF", pairs, pending)
            self._flush_inserts(segment_id, pending)
        return True

    def _bodies_observe_state(self, segment_id: str, trigs: list[Trigger]) -> bool:
        """Whether any trigger body statement — or a subquery-bearing WHEN
        clause (round 10) — can observe current table state; drives
        per-row interleaving on multi-row statements.  State-blind bodies
        (plain INSERT..VALUES into trigger-free tables, RAISE statements)
        execute the same multiset of constant-substituted operations
        either way, so batch-phase firing is observationally identical
        for them."""
        for tr in trigs:
            if self._has_subquery(tr.when):
                return True  # WHEN reads live state per row
            for b in tr.body:
                k = dialect.statement_type(b)
                if k in ("UPDATE", "DELETE"):
                    return True  # WHERE reads current state
                if k in ("INSERT", "REPLACE"):
                    m = self._INSERT_RE.match(b)
                    if m is None or not m.group("body").upper().startswith("VALUES"):
                        return True  # INSERT..SELECT reads state
                    if re.search(r"\bSELECT\b", b, re.IGNORECASE):
                        return True  # scalar subquery inside VALUES
                    target = _unquote(m.group("name"))
                    if any(
                        t.table.lower() == target.lower()
                        for t in self._segment_triggers(segment_id)
                    ):
                        return True  # cascade target's triggers may read state
        return False

    @staticmethod
    def _dml_write_target(stmt: str) -> str | None:
        """The table a body DML statement writes, or None for SELECT/RAISE."""
        m = re.match(
            r"(?is)\s*(?:INSERT\s+(?:OR\s+\w+\s+)?INTO|REPLACE\s+INTO"
            r"|UPDATE(?:\s+OR\s+\w+)?|DELETE\s+FROM)\s+"
            r'[`"\[]?(\w+)',
            stmt,
        )
        return _unquote(m.group(1)) if m else None

    def _body_write_closure(self, segment_id: str, trigs: list[Trigger]) -> set[str]:
        """Lower-cased tables written by trigger bodies, TRANSITIVELY through
        cascades (a body INSERT into B fires B's triggers, whose bodies may
        write further tables)."""
        written: set[str] = set()
        seen: set[str] = set()
        frontier = list(trigs)
        while frontier:
            tr = frontier.pop()
            if tr.name.lower() in seen:
                continue
            seen.add(tr.name.lower())
            for b in tr.body:
                t = self._dml_write_target(b)
                if t is None:
                    continue
                written.add(t.lower())
                frontier.extend(
                    c
                    for c in self._segment_triggers(segment_id)
                    if c.table.lower() == t.lower() and c.name.lower() not in seen
                )
        return written

    def _apply_row_change(
        self, segment_id: str, table: str, ts: TableSchema, old_row, new_row
    ) -> None:
        """Apply ONE row's UPDATE (new_row) or DELETE (new_row=None) as a
        pk-keyed partition rewrite — the per-row interleave's unit of work.
        Cost: one bounded partition rewrite per affected row, paid only on
        the narrow state-observing-trigger path (the batch rewrite stays
        the default)."""
        df = self._read_partition(segment_id, table)
        cond = None
        for k in ts.primary_key:
            c = F.col(k).eqNullSafe(F.lit(old_row[k]))
            cond = c if cond is None else (cond & c)
        out = df.filter(~cond)
        if new_row is not None:
            row = tuple(new_row[n] for n, _ in ts.fields)
            out = out.unionByName(_local_frame(self.spark, [row], ts.struct()))
        self._overwrite_partition(segment_id, table, out, check=new_row is not None)

    def _upsert_row_update(
        self,
        ts: TableSchema,
        table: str,
        old_row,
        new_row,
        sets: dict[str, str],
        where: str | None,
    ):
        """Per-row DO UPDATE evaluation for the triggered-upsert path:
        rewrite each SET/WHERE expression's ``excluded.c`` to the incoming
        row and bare/table-qualified columns to the existing row
        (`_rewrite_upsert_refs`), bind literals via the trigger
        substitution machinery, and constant-fold.  Returns the updated
        Row, or None when the upsert WHERE is false/NULL (SQLite leaves
        the row untouched)."""
        declared = {n.lower() for n, _ in ts.fields}

        def bind(expr: str) -> str:
            return _sub_new_old(
                _rewrite_upsert_refs(expr, table, declared), new_row, old_row
            )

        if where is not None:
            try:
                ok = self._eval_when(bind(where))
            except Exception as e:
                # subqueries (reading other tables) in an upsert WHERE are
                # evaluated as per-row constants here — reject loudly with
                # the cause instead of leaking a raw analysis error
                raise QueryRejected(
                    f"unsupported DO UPDATE ... WHERE expression: {e}"
                ) from None
            if not ok:
                return None
        names = list(sets)
        cols = ", ".join(
            f"({dialect.sqlite_to_spark(bind(sets[c]))}) AS v{j}"
            for j, c in enumerate(names)
        )
        try:
            vals = self.spark.sql(f"SELECT {cols}").collect()[0]
        except Exception as e:
            raise QueryRejected(
                f"unsupported DO UPDATE SET expression: {e}"
            ) from None
        newvals = dict(zip(names, vals))
        d = {
            n: _coerce(newvals[n.lower()], t) if n.lower() in newvals else old_row[n]
            for n, t in ts.fields
        }
        if ts.strict:
            d = _strict_coerce_row(ts, table, d)
        row = Row(**d)
        if ts.generated:
            # recompute from the post-SET base values (one-row batch)
            row = self._apply_generated_rows(ts, [row])[0]
        return row

    def _dml_with_triggers(
        self, segment_id: str, stmt: str, kind: str, pending: dict
    ) -> None:
        """UPDATE/DELETE: evaluate the statement's change set once, fire
        BEFORE bodies on its (OLD, NEW) pairs, apply it, fire AFTER bodies.
        Like SQLite, a triggered statement applies the change it fired on,
        computed before BEFORE; only when a body (or its cascade) may write
        the target table is the partition after BEFORE another than the
        one the change set read, and the statement is applied again."""
        if kind == "DELETE":
            m = _DELETE_STMT_RE.match(stmt)
            if not m:
                raise QueryRejected(f"unsupported DELETE form: {stmt[:80]!r}")
            table, sets, from_text = self._stmt_table(segment_id, m), [], None
            where = m.group("where")
            ts = self._table_schema(segment_id, table)
            trigs = self._triggers_for(segment_id, table, "DELETE")
        else:
            m = _UPDATE_STMT_RE.match(stmt)
            if not m:
                raise QueryRejected(f"unsupported UPDATE form: {stmt[:80]!r}")
            table = self._stmt_table(segment_id, m)
            sets_text, from_text, where = _update_parts(m)
            sets = _split_assignments(sets_text)
            ts = self._table_schema(segment_id, table)
            self._reject_generated_targets(ts, [c for c, _e in sets], "UPDATE")
            trigs = self._triggers_for(
                segment_id, table, "UPDATE", set_cols=[c for c, _e in sets]
            )
            umode = _update_mode(m)
            if umode is not None:
                # UPDATE ... FROM (SQLite 3.33) takes triggers since round
                # 10; its OR-mode interplay stays a loud reject
                if from_text is not None:
                    raise QueryRejected(
                        "UPDATE OR IGNORE/REPLACE ... FROM is not "
                        f"supported: {stmt[:80]!r}"
                    )
                if trigs:
                    raise QueryRejected(
                        "UPDATE OR IGNORE/REPLACE on a table with UPDATE "
                        "triggers is not supported (conflict-resolution × "
                        f"trigger firing interplay out of scope): {stmt[:80]!r}"
                    )
                # UPDATE OR IGNORE/REPLACE: SQLite applies rows
                # SEQUENTIALLY in rowid order, resolving each row's pk
                # conflict against the evolving table (probed: OR IGNORE
                # on (1,2,3) with id=id+1 WHERE id<3 changes NOTHING —
                # each bump collides with the still-present next row; OR
                # REPLACE deletes the collided-with row), and OR IGNORE
                # also skips rows whose update violates CHECK/NOT NULL
                self._update_with_conflict_mode(segment_id, ts, sets, where, umode, stmt)
                return
        if trigs and kind == "UPDATE" and ts.has_extended_uniqueness():
            # per-row triggered UPDATE rewrites skip the UNIQUE/collation
            # dup checks — reject LOUDLY (round-8 UNIQUE support scope
            # note).  DELETE never moves a key and is allowed (round 10);
            # triggered INSERTs track every constraint since round 10 too.
            raise QueryRejected(
                f"{kind} on a table with both triggers and UNIQUE "
                "constraints or non-BINARY key collations is not "
                f"supported: {stmt[:80]!r}"
            )
        cs = self._change_set(segment_id, ts, kind, where, sets, from_text)
        if not trigs:
            self._apply_change_set(segment_id, cs)
            if self._ret_capturing(table):
                self._ret_add(table, cs.returned())
            return
        pairs = cs.pairs()
        if len(pairs) > 1 and self._bodies_observe_state(segment_id, trigs):
            # SQLite interleaves UPDATE/DELETE trigger firing per row
            # (probed: an AFTER UPDATE body's SUM(x) sees partially-updated
            # states).  When any body can observe state, fire per row
            # interleaved with single-row partition rewrites — the same
            # probed rule the multi-row INSERT path follows.  Two frontiers
            # stay loudly rejected: a body (or its cascade) WRITING the
            # statement's target table mutates the row set SQLite itself
            # documents as undefined, and a pk-less table has no stable row
            # identity for the single-row rewrite.
            written = self._body_write_closure(segment_id, trigs)
            if table.lower() in written:
                raise QueryRejected(
                    f"multi-row {kind} on {table!r} whose trigger bodies "
                    f"(or their cascades) write {table!r}: modifying the "
                    "table being updated from its own trigger is "
                    "SQLite-undefined — rejected loudly"
                )
            if not ts.primary_key:
                raise QueryRejected(
                    f"multi-row {kind} on {table!r} with state-observing "
                    "trigger bodies requires a PRIMARY KEY (per-row "
                    "interleave needs a stable row identity)"
                )
            if not ts.without_rowid and not ts.rowid_alias:
                # SQLite fires per-row in ROWID (insertion) order; only a
                # rowid-alias pk makes that order derivable from the data
                # (a WITHOUT ROWID table's btree order IS pk order, so it
                # qualifies too).  For TEXT/composite/INT pks on rowid
                # tables the engine does not track insertion order —
                # reject loudly rather than fire in a possibly-divergent
                # order (round-8 ADVICE)
                raise QueryRejected(
                    f"multi-row {kind} on {table!r} with state-observing "
                    "trigger bodies requires an INTEGER PRIMARY KEY rowid "
                    "alias: SQLite fires per row in rowid (insertion) "
                    "order, which this engine does not track for other "
                    "pk shapes — rejected loudly"
                )
            # pk == rowid: b-tree (rowid) order IS pk order
            pairs.sort(
                key=lambda p: tuple(
                    (p[0][k] is None, p[0][k]) for k in ts.primary_key
                )
            )
            for pair in pairs:
                if self._fire_triggers(segment_id, trigs, "BEFORE", [pair], pending):
                    continue  # RAISE(IGNORE): skip this row's change
                self._flush_inserts(segment_id, pending)
                self._apply_row_change(segment_id, table, ts, pair[0], pair[1])
                self._ret_add(table, [pair[0] if kind == "DELETE" else pair[1]])
                self._fire_triggers(segment_id, trigs, "AFTER", [pair], pending)
                self._flush_inserts(segment_id, pending)
            return
        ignored = self._fire_triggers(segment_id, trigs, "BEFORE", pairs, pending)
        if ignored:
            # skipping individual row changes on the partition-rewrite path
            # is not implemented: fail LOUDLY (whole script rolls back)
            # instead of silently applying a change SQLite would skip
            raise QueryRejected(
                "RAISE(IGNORE) in a BEFORE UPDATE/DELETE trigger is not supported"
            )
        self._flush_inserts(segment_id, pending)
        self._ret_add(
            table, [p[0] if kind == "DELETE" else p[1] for p in pairs]
        )
        if table.lower() not in self._body_write_closure(segment_id, trigs):
            self._apply_change_set(segment_id, cs)
        elif from_text is not None:
            # UPDATE..FROM applies the exact pairs the triggers fired on (a
            # statement re-run could see BEFORE-body writes to the FROM
            # relations)
            if pairs:
                self._apply_update_pairs(segment_id, table, ts, pairs)
        else:
            self._rewrite_partition(segment_id, ts, kind, where, sets)
        self._fire_triggers(segment_id, trigs, "AFTER", pairs, pending)
        self._flush_inserts(segment_id, pending)

    def _apply_update_pairs(
        self, segment_id: str, table: str, ts: TableSchema, pairs: list[tuple]
    ) -> None:
        """One join-back partition rewrite applying pre-computed (OLD, NEW)
        update pairs by the OLD row's PRIMARY KEY — the apply step of a
        triggered UPDATE..FROM whose bodies may write its target table.
        Applying the pairs themselves (rather than re-running the join)
        closes the window where a BEFORE body's write to a FROM relation
        would shift the re-joined row set away from what the triggers
        fired on."""
        from pyspark.sql import types as _T

        pk = ts.primary_key
        cols = [n for n, _t in ts.fields]
        typ = {n.lower(): t for n, t in ts.fields}
        schema = _T.StructType(
            [_T.StructField(f"__pk_{j}", typ[k.lower()]) for j, k in enumerate(pk)]
            + [_T.StructField(f"__n_{j}", t) for j, (_n, t) in enumerate(ts.fields)]
        )
        news = _local_frame(
            self.spark,
            [
                tuple(p[0][k] for k in pk) + tuple(p[1][n] for n in cols)
                for p in pairs
            ],
            schema,
        ).withColumn("__hit", F.lit(True))
        df = self._read_partition(segment_id, table)
        joined = df.join(
            news, [df[k] == news[f"__pk_{j}"] for j, k in enumerate(pk)], "left"
        )
        out = joined.select(
            [
                F.when(F.col("__hit"), news[f"__n_{j}"])
                .otherwise(df[n])
                .alias(n)
                for j, n in enumerate(cols)
            ]
        )
        self._overwrite_partition(segment_id, table, out)

    def _overwrite_partition(
        self, segment_id: str, table: str, rows: DataFrame | pa.Table, *, check=True, rowid=False
    ) -> None:
        """Replace the segment's partition with ``rows``, the table's whole
        post-image, journalled for script rollback: a frame is collected
        once as Arrow (its one Spark job) and written as ONE file by the
        INSERT writer (a segment is small, like the reference's one SQLite
        file; the file pins the row order the sequential paths read back).
        A statement that writes values ``check``s CHECK / NOT NULL over the
        image, and a NULL rowid first if it sets the ``rowid``; DELETE,
        ALTER TABLE and compaction check nothing, so a row a bulk surface
        stored unchecked (``append_dataframe``, ``merge``) fails none."""
        ts = self._table_schema(segment_id, table)
        if isinstance(rows, DataFrame):
            rows = rows.select([F.col(n).cast(t).alias(n) for n, t in ts.fields]).toArrow()
        batch = rows.cast(to_arrow_schema(ts.struct()))
        if check:
            self._assert_batch(ts, batch, rowid=rowid)
        path = self._partition_path(table, segment_id)
        tmp = f"{self.root}/_staging/{table}/segment_id={segment_id}"
        shutil.rmtree(tmp, ignore_errors=True)
        self._append_file(batch, tmp)
        # atomic-ish swap (single filesystem rename pair; a crash-atomic
        # commit is ROADMAP direction 3)
        bak = path + "._old"
        if self._active_txn is not None:
            self._active_txn.before_append(path)  # pre-swap snapshot
            if any(p == path for p, _ in self._active_txn.overwrites):
                # the txn holds this partition's PRE-SCRIPT backup: a second
                # overwrite in the script swaps the data in place and keeps
                # that backup (reusing `._old` would destroy it)
                shutil.rmtree(path, ignore_errors=True)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                shutil.move(tmp, path)
                return
        shutil.rmtree(bak, ignore_errors=True)
        if os.path.isdir(path):
            os.replace(path, bak)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        shutil.move(tmp, path)
        if self._active_txn is not None and os.path.isdir(bak):
            self._active_txn.register_overwrite(path, bak)
        else:
            shutil.rmtree(bak, ignore_errors=True)

    def _write_path_create(self, segment_id: str, stmt: str) -> None:
        what = _create_kind(stmt)
        if what == "INDEX":
            if not re.match(r"^\s*CREATE\s+UNIQUE\s", stmt, re.IGNORECASE):
                return  # plain indexes → Parquet stats + pruning (§2.B14)
            # CREATE UNIQUE INDEX is a CONSTRAINT (probed: raises 'UNIQUE
            # constraint failed: t.col' exactly like table-level UNIQUE)
            iname, table, _u, entries = parse_create_index(stmt)
            info = self._segment_info(segment_id)
            if self._index_table(info, iname) is not None:
                if _if_not_exists(stmt):
                    return
                raise QueryRejected(f"index {iname} already exists")
            ts = self._table_schema(segment_id, table)
            cols, colls = _resolve_index_uniques(ts, entries, stmt)
            # SQLite: creating a unique index over existing duplicate data
            # fails with the constraint error (probed)
            key = T.StructType([ts.struct()[_declared_column(ts, c)] for c in cols])
            path = self._partition_path(ts.name, segment_id)
            keys = self._key_tuples(ts, cols, colls, _file_columns(path, key))
            if len(keys) != len(set(keys)):
                raise self._unique_error(ts.name, cols)
            ts.unique_indexes[iname.lower()] = (cols, colls)
            self._save_table(info, ts)
            return
        if what == "TRIGGER":
            tr = parse_create_trigger(stmt)
            info = self._segment_info(segment_id)
            views_lc = {v.lower() for v in info.get("views", {})}
            # SQLite's exact registration errors (probed): INSTEAD OF only
            # on views, BEFORE/AFTER only on tables
            if tr.timing == "INSTEAD OF" and tr.table.lower() not in views_lc:
                raise QueryRejected(
                    f"cannot create INSTEAD OF trigger on table: {tr.table}"
                )
            if tr.timing != "INSTEAD OF" and tr.table.lower() in views_lc:
                raise QueryRejected(
                    f"cannot create {tr.timing} trigger on view: {tr.table}"
                )
            trigs = info.setdefault("triggers", {})
            if tr.name in trigs and _if_not_exists(stmt):
                return
            trigs[tr.name] = stmt
            self._save_meta()
            return
        if what == "VIEW":
            m = re.match(
                r"^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                r"(?P<name>[\w\"\[\]`]+)\s+AS\s+(?P<body>.+)$",
                stmt,
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                raise QueryRejected(f"unsupported CREATE VIEW form: {stmt[:80]!r}")
            info = self._segment_info(segment_id)
            info.setdefault("views", {})[_unquote(m.group("name"))] = m.group("body")
            self._save_meta()
            return
        if what != "TABLE":
            raise QueryRejected(f"unsupported CREATE on write path: {stmt[:80]!r}")
        ts = parse_create_table(stmt)
        info = self._segment_info(segment_id)
        if _declared_name(info["tables"], ts.name) is not None:
            if _if_not_exists(stmt):
                return
            raise QueryRejected(f"table {ts.name} already exists")
        self._save_table(info, ts)

    def _index_table(self, info: dict, iname: str) -> TableSchema | None:
        """The table whose record holds unique index ``iname``, if any."""
        for t in info["tables"]:
            ts = self._table_schema_from_info(info, t, "")
            if iname.lower() in ts.unique_indexes:
                return ts
        return None

    def _write_path_alter(self, segment_id: str, stmt: str) -> None:
        """SQLite ALTER TABLE surface (SURVEY §2.B14): ADD COLUMN,
        RENAME TO, RENAME COLUMN, DROP COLUMN.  Schema changes land in the
        segment's own table record (different segments may diverge, exactly
        like per-file SQLite schemas in the reference)."""
        m = re.match(
            r"^\s*ALTER\s+TABLE\s+(?P<name>[\w\"\[\]`]+)\s+(?P<rest>.+)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise QueryRejected(f"unsupported ALTER form: {stmt[:80]!r}")
        table = self._stmt_table(segment_id, m)
        ts = self._table_schema(segment_id, table)
        rest = m.group("rest").strip()
        ru = rest.upper()
        info = self._segment_info(segment_id)
        path = self._partition_path(table, segment_id)
        if ru.startswith("ADD"):
            body = re.sub(r"^ADD\s+(COLUMN\s+)?", "", rest, flags=re.IGNORECASE)
            # the column parses as a one-column table of the same kind (its
            # STRICT type rules included); SQLite's own errors, verbatim
            add = parse_create_table(
                f"CREATE TABLE {table} ({body}){' STRICT' if ts.strict else ''}"
            )
            [(col, typ)] = add.fields
            if col.lower() in {n.lower() for n, _ in ts.fields}:
                raise QueryRejected(f"duplicate column name: {col}")
            if add.uniques:
                raise QueryRejected("Cannot add a UNIQUE column")
            if add.primary_key:
                raise QueryRejected("Cannot add a PRIMARY KEY column")
            if add.not_null and col not in add.defaults:
                raise QueryRejected("Cannot add a NOT NULL column with default value NULL")
            # SQLite adds VIRTUAL generated columns only; the engine stores
            # the computed values, so the add is a backfill rewrite
            gen_expr, stored = add.generated.get(col, (None, False))
            if stored:
                raise QueryRejected("cannot add a STORED column")
            dv = add.defaults.get(col)
            ts.fields.append((col, typ))
            ts.not_null += add.not_null
            ts.checks += add.checks
            ts.fks += add.fks
            for part in ("defaults", "collations", "col_decls", "generated"):
                getattr(ts, part).update(getattr(add, part))
            self._save_table(info, ts)
            if os.path.isdir(path) and (gen_expr is not None or dv is not None):
                # SQLite computes a generated column, and fills in a DEFAULT,
                # over EXISTING rows (one bounded partition rewrite, same
                # cost model as UPDATE); without either, reads null-fill
                # missing columns across mixed-generation files for free
                df = self._read_partition(segment_id, table)
                if gen_expr is not None:
                    df = self._apply_generated_df(ts, df)
                else:
                    df = df.withColumn(col, F.lit(self._default_for(ts, col)).cast(typ))
                self._overwrite_partition(segment_id, table, df, check=False)
            return
        elif ru.startswith("RENAME TO"):
            new_name = _unquote(rest[len("RENAME TO") :].strip())
            if _declared_name(info["tables"], new_name) is not None:
                raise QueryRejected(f"there is already another table or index with this name: {new_name}")
            # the record, its unique indexes included, moves to the new name
            del info["tables"][table]
            ts.name = new_name
            # its triggers follow it, and trigger bodies that name it are
            # rewritten to the new name, as SQLite does
            trigs = info.get("triggers", {})
            for tname, sql in trigs.items():
                tm = _TRIGGER_RE.match(sql)
                on = tm.group("table")
                if _unquote(on).lower() == table.lower():
                    on = f'"{new_name}"'
                tail = dialect.rename_table(sql[tm.end("table") :], table, new_name)
                trigs[tname] = f'{sql[: tm.start("table")]}{on}{tail}'
            if os.path.isdir(path):
                new_path = self._partition_path(new_name, segment_id)
                os.makedirs(os.path.dirname(new_path), exist_ok=True)
                shutil.move(path, new_path)
                if self._active_txn is not None:
                    self._active_txn.record_move(path, new_path)
        elif ru.startswith("RENAME"):
            mm = re.match(r"RENAME\s+(?:COLUMN\s+)?(\S+)\s+TO\s+(\S+)", rest, re.IGNORECASE)
            if not mm:
                raise QueryRejected(f"unsupported ALTER form: {stmt[:80]!r}")
            old, new = _declared_column(ts, _unquote(mm.group(1))), _unquote(mm.group(2))
            if new.lower() != old.lower() and new.lower() in {n.lower() for n, _ in ts.fields}:
                raise QueryRejected(f"error in table {table} after rename: duplicate column name: {new}")
            where = _column_refs(info, ts, old)
            if where:
                raise QueryRejected(f"RENAME COLUMN {old} is not supported: {where} refers to it")
            # read with the PRE-rename declared schema (fills missing columns
            # with nulls across mixed-generation files), then rewrite
            df = self._read_partition(segment_id, table).withColumnRenamed(old, new)
            _rename_column(ts, old, new)
            self._save_table(info, ts)
            if os.path.isdir(path):
                self._overwrite_partition(segment_id, table, df, check=False)
            return
        elif ru.startswith("DROP"):
            col = re.sub(r"^DROP\s+(COLUMN\s+)?", "", rest, flags=re.IGNORECASE).strip()
            col = _declared_column(ts, _unquote(col))
            lo = col.lower()

            def keyed(cols) -> bool:
                return lo in map(str.lower, cols)

            if len(ts.fields) == 1:
                raise QueryRejected(f'cannot drop column "{col}": no other columns exist')
            if keyed(ts.primary_key):
                raise QueryRejected(f'cannot drop PRIMARY KEY column: "{col}"')
            if any(len(u) == 1 and keyed(u) for u, _ in ts.uniques):
                raise QueryRejected(f'cannot drop UNIQUE column: "{col}"')
            where = next((f"index {i}" for i, (u, _) in ts.unique_indexes.items() if keyed(u)), None)
            if any(keyed(u) for u, _ in ts.uniques) or any(
                len(fk["from"]) > 1 and keyed(fk["from"]) for fk in ts.fks
            ):
                where = f"table {table}"
            where = where or _column_refs(info, ts, col)
            if where:
                raise QueryRejected(f"error in {where} after drop column: no such column: {col}")
            _drop_column(ts, col)
            self._save_table(info, ts)
            if os.path.isdir(path):
                # rewritten without the column, as SQLite does: a column
                # added back under its name starts empty
                df = self._read_partition(segment_id, table)
                self._overwrite_partition(segment_id, table, df, check=False)
            return
        else:
            raise QueryRejected(f"unsupported ALTER form: {stmt[:80]!r}")
        self._save_table(info, ts)

    def _write_path_drop(self, segment_id: str, stmt: str) -> None:
        m = re.match(
            r"^\s*DROP\s+(?P<what>TABLE|INDEX|VIEW|TRIGGER)\s+(?:IF\s+EXISTS\s+)?"
            r"(?P<name>[\w\"\[\]`]+)\s*$",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            return  # other DROP forms: no-op
        what, name = m.group("what").upper(), _unquote(m.group("name"))
        info = self._segment_info(segment_id)
        if what == "INDEX":
            # a unique index leaves its table's record; a plain index is a
            # no-op like its create
            ts = self._index_table(info, name)
            if ts is not None:
                del ts.unique_indexes[name.lower()]
                self._save_table(info, ts)
            return
        if what != "TABLE":
            named = info.get(f"{what.lower()}s", {})
            named.pop(_declared_name(named, name), None)
            self._save_meta()
            return
        table = _declared_name(info["tables"], name) or name
        info["tables"].pop(table, None)
        # SQLite: DROP TABLE also drops the table's triggers
        trigs = info.get("triggers", {})
        for name in [
            n
            for n, sql in trigs.items()
            if parse_create_trigger(sql).table.lower() == table.lower()
        ]:
            trigs.pop(name)
        self._save_meta()
        path = self._partition_path(table, segment_id)
        if self._active_txn is not None and os.path.isdir(path):
            self._active_txn.before_append(path)  # pre-drop snapshot
            bak = path + "._dropped"
            shutil.rmtree(bak, ignore_errors=True)
            os.replace(path, bak)
            self._active_txn.register_overwrite(path, bak)
        else:
            shutil.rmtree(path, ignore_errors=True)

    # -- read path (A1-A3; reference read.py:54-94) --------------------------

    def _read_partition(self, segment_id: str, table: str) -> DataFrame:
        ts = self._table_schema(segment_id, table)
        path = self._partition_path(table, segment_id)
        if not os.path.isdir(path):
            return _local_frame(self.spark, [], ts.struct())
        return self._read_files(path, ts.struct())

    _TABLE_INFO_SCHEMA = _struct(
        "cid integer, name string, type string, notnull integer, dflt_value string, pk integer"
    )

    def _pragma_table_info(
        self, segment_id: str, table: str, as_of: str | None
    ) -> DataFrame:
        """``PRAGMA table_info(t)`` with SQLite's exact row shape (probed):
        cid 0-based, declared type VERBATIM (empty for an untyped column),
        notnull 1 for declared NOT NULL and for WITHOUT ROWID pk columns,
        dflt_value as the written DEFAULT text (one outer paren stripped),
        pk = the column's 1-based position in the PRIMARY KEY.  An unknown
        table yields zero rows, exactly like SQLite.  Driver-local, no
        scan — catalog introspection must not launch a job."""
        info, _data_dir = self._info_as_of(segment_id, as_of)
        if table in info.get("views", {}):
            # SQLite answers with the view's inferred column decltypes,
            # which would require full select-list type derivation here —
            # loud reject over a silently-diverging approximation
            raise QueryRejected(
                f"PRAGMA table_info on a VIEW ({table!r}) is not supported "
                "(declared-type inference through the view select list is "
                "out of scope) — query the view or sqlite_master instead"
            )
        try:
            ts = self._table_schema_from_info(info, table, segment_id)
        except KeyError:
            return _local_frame(self.spark, [], self._TABLE_INFO_SCHEMA)
        pk_pos = {c.lower(): i + 1 for i, c in enumerate(ts.primary_key)}
        nn = {c.lower() for c in ts.not_null}
        gen = {c.lower() for c in ts.generated}
        rows = []
        # generated columns are HIDDEN from table_info (probed — they show
        # only in table_xinfo with hidden 2/3); cid numbering skips them
        fields = [(n, t) for n, t in ts.fields if n.lower() not in gen]
        for cid, (name, _typ) in enumerate(fields):
            decl = ts.col_decls.get(name.lower(), {})
            rows.append(
                (
                    cid,
                    name,
                    decl.get("type", ""),
                    1 if name.lower() in nn else 0,
                    decl.get("dflt"),
                    pk_pos.get(name.lower(), 0),
                )
            )
        return _local_frame(self.spark, rows, self._TABLE_INFO_SCHEMA)

    _FK_LIST_SCHEMA = _struct(
        "id integer, seq integer, table string, from string, to string, "
        "on_update string, on_delete string, match string"
    )

    def _pragma_foreign_key_list(
        self, segment_id: str, table: str, as_of: str | None
    ) -> DataFrame:
        """``PRAGMA foreign_key_list(t)`` (probed): one row per (fk, column
        pair), fks numbered NEWEST-DECLARED-FIRST (the last declared fk is
        id 0), `to` NULL when the target columns were omitted, actions
        defaulting to 'NO ACTION', match always 'NONE'.  Introspection
        only — enforcement stays off like the reference's connections."""
        info, _data_dir = self._info_as_of(segment_id, as_of)
        try:
            ts = self._table_schema_from_info(info, table, segment_id)
        except KeyError:
            return _local_frame(self.spark, [], self._FK_LIST_SCHEMA)
        rows = []
        for fk_id, fk in enumerate(reversed(ts.fks)):
            to = fk.get("to")
            for seq, src in enumerate(fk["from"]):
                rows.append(
                    (
                        fk_id,
                        seq,
                        fk["table"],
                        src,
                        to[seq] if to else None,
                        fk.get("on_update", "NO ACTION"),
                        fk.get("on_delete", "NO ACTION"),
                        "NONE",
                    )
                )
        return _local_frame(self.spark, rows, self._FK_LIST_SCHEMA)

    def _dir_fingerprint(self, path: str) -> tuple:
        """Cheap change detector for the view cache: (inode, mtime_ns, size)
        of the data directory — any append, overwrite swap, or delete from
        ANY process moves it."""
        try:
            st = os.stat(path)
        except OSError:
            return ("absent",)
        return (st.st_ino, st.st_mtime_ns, st.st_size)

    @staticmethod
    def _collated(df: DataFrame, ts: TableSchema) -> DataFrame:
        """Apply declared column collations to a READ-path frame: SQLite
        uses the column's collation for bare ``=`` comparisons, GROUP BY,
        DISTINCT and ORDER BY (probed: ``WHERE name = 'aLpHa'`` finds a
        NOCASE row), so the registered view carries the matching Spark
        collation — NOCASE → UTF8_LCASE, RTRIM → UTF8_BINARY_RTRIM —
        and Catalyst applies it everywhere automatically (Spark-first:
        no per-expression rewriting).  DIVERGENCE, same as the dialect's
        explicit-COLLATE note: UTF8_LCASE folds full Unicode where SQLite
        NOCASE folds ASCII only.  The WRITE path never sees these frames —
        its conflict keys fold driver-side with exact ASCII semantics."""
        if not ts.collations:
            return df
        mapping = {"NOCASE": "UTF8_LCASE", "RTRIM": "UTF8_BINARY_RTRIM"}
        types = {n.lower(): t for n, t in ts.fields}
        out, changed = [], False
        for n in df.columns:
            spark_coll = mapping.get(ts.collations.get(n.lower(), ""))
            if spark_coll and isinstance(types.get(n.lower()), T.StringType):
                out.append(F.collate(F.col(n), spark_coll).alias(n))
                changed = True
            else:
                out.append(F.col(n))
        return df.select(*out) if changed else df

    def read_df(self, segment_id: str, sql: str, as_of: str | None = None) -> DataFrame:
        """One SELECT against one segment → DataFrame.  The table views are
        partition-pruned scans of exactly one directory.

        ``as_of`` names a snapshot version (see ``snapshot``): the query then
        runs against the snapshot's data files, table set, views, and schema
        AS OF that point — time travel without touching
        the live segment.  Snapshot files are immutable, so a time-travel
        reader never races a concurrent writer."""
        pm = re.match(
            r"^\s*PRAGMA\s+(?P<which>table_info|foreign_key_list)\s*"
            r"\(\s*(?P<name>[^)]+?)\s*\)\s*;?\s*$",
            sql,
            re.IGNORECASE,
        )
        if pm:
            # the reference hands reads straight to SQLite, so clients use
            # PRAGMA table_info / foreign_key_list for introspection (ORMs,
            # shells); answered from the declared schema with SQLite's
            # exact row shapes
            name = _unquote(pm.group("name"))
            if pm.group("which").lower() == "table_info":
                return self._pragma_table_info(segment_id, name, as_of)
            return self._pragma_foreign_key_list(segment_id, name, as_of)
        stmt = dialect.assert_single_select(sql)
        resolve = self._segment_resolver(segment_id, as_of)
        # last_insert_rowid() is connection state, not SQL — substitute the
        # segment's last assigned autoincrement id (0 before any insert,
        # matching a fresh sqlite3 connection); literal-aware so quoted
        # occurrences inside string data are left alone
        stmt = _sub_last_insert_rowid(stmt, self._last_auto.get(segment_id, 0))
        rec = _parse_recursive_cte(stmt)
        if rec is not None:
            return self._execute_recursive(rec, resolve)
        return self._sql(dialect.sqlite_to_spark(stmt), resolve)

    # -- temp views: internal names, one LRU per store ----------------------

    def view_stats(self) -> dict[str, int]:
        """Temp-view counters: ``registrations`` made, cache ``hits``,
        ``evictions`` (least recently used, or superseded by a write) and
        the registrations ``cached`` now."""
        return {**self._view_counts, "cached": len(self._views)}

    def _register_view(self, df: DataFrame, name: str | None = None) -> str:
        name = name or next(self._view_names)
        df.createOrReplaceTempView(name)
        self._view_counts["registrations"] += 1
        return name

    def _cached_view(self, slot: tuple, key, build) -> str:
        """The view registered for ``slot`` under ``key``; on a miss,
        ``build()`` is registered and the slot's superseded view dropped."""
        old = self._views.pop(slot, None)
        if old is not None and old[0] == key:
            self._view_counts["hits"] += 1
        else:
            if old is not None:
                self.spark.catalog.dropTempView(old[1])
                self._view_counts["evictions"] += 1
            old = (key, self._register_view(build()))
        self._views[slot] = old
        return old[1]

    def _sql(self, sql: str, resolve) -> DataFrame:
        """Analyse a Spark SQL statement with its names bound to internal
        views by ``resolve``, then trim the LRU.  An analysed plan holds
        its views' plans, so later drops never break the returned frame."""
        try:
            return self.spark.sql(dialect.bind_names(sql, resolve, _VIEW_PREFIX))
        finally:
            while len(self._views) > self._view_capacity:
                self.spark.catalog.dropTempView(self._views.popitem(last=False)[1][1])
                self._view_counts["evictions"] += 1

    def _info_as_of(self, segment_id: str, as_of: str | None):
        """(segment info, table -> data directory), live or as of a
        snapshot."""
        if as_of is None:
            info = self._segment_info(segment_id)
            return info, lambda t: self._partition_path(t, segment_id)
        dest, manifest = self._snapshot_manifest(segment_id, as_of)
        return manifest["segment"], lambda t: f"{dest}/data/{t}"

    def _segment_resolver(self, segment_id: str, as_of: str | None):
        """name (lowercased) -> internal view of the segment's table, view or
        ``sqlite_master``, registered on first use.  A table's key is its
        data directory's stat fingerprint, declared schema and collations;
        a view's is its bound body, which names its tables' current views."""
        info, data_dir = self._info_as_of(segment_id, as_of)
        tables = sorted(info["tables"])
        by_name = {t.lower(): t for t in tables}
        views = {v.lower(): vsql for v, vsql in info.get("views", {}).items()}

        def schema_of(t: str) -> TableSchema:
            return self._table_schema_from_info(info, t, segment_id)

        def table_view(t: str) -> str:
            ts, path = schema_of(t), data_dir(t)
            key = (
                self._dir_fingerprint(path),
                tuple((n, typ.simpleString()) for n, typ in ts.fields),
                tuple(sorted(ts.collations.items())),
            )
            return self._cached_view(("tbl", path), key, lambda: self._collated(
                self._read_files(path, ts.struct())
                if os.path.isdir(path)
                else _local_frame(self.spark, [], ts.struct()),
                ts,
            ))

        def resolve(name: str, outer: frozenset = frozenset()) -> str | None:
            if name in by_name:
                return table_view(by_name[name])
            if name in views and name not in outer:
                body = dialect.bind_names(
                    dialect.sqlite_to_spark(views[name]),
                    lambda n: resolve(n, outer | {name}),
                    _VIEW_PREFIX,
                )
                slot = ("view", segment_id, as_of, name)
                return self._cached_view(slot, body, lambda: self.spark.sql(body))
            if name == "sqlite_master":
                return self._master_view(info, tables, schema_of)
            return None

        return resolve

    def _master_view(self, info: dict, tables: list[str], schema_of) -> str:
        """Synthetic ``sqlite_master`` per segment: the reference's shell
        rewrites SHOW TABLES to sqlite_master queries
        (shell/__init__.py:149-155) and applications query it directly, so
        the catalog is exposed with the same shape (type, name, tbl_name,
        rootpage, sql).  Content-keyed: segments with one schema share one
        registration."""
        rows = []
        for t in tables:
            cols = ", ".join(f"{n} {_sqlite_decl(ty)}" for n, ty in schema_of(t).fields)
            rows.append(("table", t, t, 0, f"CREATE TABLE {t} ({cols})"))
        for v, vsql in info.get("views", {}).items():
            rows.append(("view", v, v, 0, f"CREATE VIEW {v} AS {vsql}"))
        schema = _struct("type string, name string, tbl_name string, rootpage long, sql string")
        key = ("master", tuple(rows))
        return self._cached_view(key, None, lambda: _local_frame(self.spark, rows, schema))

    def _execute_recursive(self, rec: "RecursiveCTE", resolve) -> DataFrame:
        """WITH RECURSIVE via driver-side fixpoint iteration (SURVEY §2.B11:
        Spark SQL has no recursive CTE; the plan is an iterated union).
        Each step is one small Spark job over the frontier; depth is bounded.
        Scale note: recursion depth — not data size — bounds the loop; each
        iteration's frontier is distributed as usual.  The frontier, then
        the result, is the store's one frontier view, which the step and
        outer SELECT bind the CTE's name to; the base may not name it
        (SQLite: "circular reference")."""
        cte, view = rec.name.lower(), None

        def bound(n: str) -> str | None:
            return view if n == cte else resolve(n)

        base = self._sql(dialect.sqlite_to_spark(rec.base_sql), bound)
        # without a column list the CTE's columns are the base's (SQLite)
        cols = rec.cols or base.columns
        base = base.toDF(*cols)
        acc = base.distinct() if not rec.union_all else base
        frontier = acc
        step_sql = dialect.sqlite_to_spark(rec.step_sql)
        view = self._frontier_view
        for _ in range(rec.max_iterations):
            self._register_view(frontier, view)
            # the checkpoint cuts the step's plan off the frontier plans it
            # would nest: a union of nested self-joins of one table view can
            # fail Spark's planning ("Could not find parent#N") and recomputes
            # every earlier step
            step = self._sql(step_sql, bound).toDF(*cols).localCheckpoint()
            if rec.union_all:
                if step.isEmpty():
                    break
                acc = acc.unionByName(step)
                frontier = step
            else:
                new = step.distinct().exceptAll(acc)
                if new.isEmpty():
                    break
                acc = acc.unionByName(new)
                frontier = new
        else:
            raise QueryRejected(
                f"recursive CTE exceeded {rec.max_iterations} iterations"
            )
        self._register_view(acc, view)
        return self._sql(dialect.sqlite_to_spark(rec.outer_sql), bound)

    def read(self, segment_id: str, sql: str, values=(), as_of: str | None = None) -> list[dict]:
        """A2: rows as a JSON-ready list of {column: value} dicts
        (reference read.py:33-52) with A10/A11 parameter binding.
        ``as_of`` routes the read to a named snapshot (time travel).
        Boolean expression results materialize as 0/1 — SQLite has no
        boolean type (sqlite3 returns INTEGER for comparisons); the
        DataFrame surface (read_df) keeps Spark booleans."""
        bound = dialect.interpolate(sql, values)
        return [
            {k: int(v) if isinstance(v, bool) else v for k, v in d.items()}
            for d in (
                r.asDict(recursive=True)
                for r in self.read_df(segment_id, bound, as_of=as_of).collect()
            )
        ]

    def table_df(self, table: str, reference_segment: str | None = None) -> DataFrame:
        """The bulk-analytics surface: the WHOLE partitioned table as one
        DataFrame with its ``segment_id`` partition column, via Hive
        partition discovery.  One scan node regardless of segment count —
        at 10k+ segments this is what keeps plans flat (an explicit union
        per segment would not survive scale).  Filters on ``segment_id``
        prune to matching directories (PartitionFilters), reproducing the
        reference's worst-case-bounded routing as a pure plan property."""
        path = self._table_path(table)
        if reference_segment is None:

            candidates = [s for s in self.list_segments() if table in self._segment_tables(s)]
            if not candidates:
                raise KeyError(f"no segment has table {table!r}")
            reference_segment = candidates[0]
        ts = self._table_schema(reference_segment, table)
        schema = ts.struct().add("segment_id", T.StringType())
        # declared-but-never-written table (provisioned DDL, no INSERT yet):
        # no parquet directory exists — the whole-table frame is the
        # declared schema, empty (same contract as _read_partition's isdir
        # guard on the per-segment path)
        if not os.path.isdir(path):
            return _local_frame(self.spark, [], schema)
        return self.spark.read.schema(schema).option("basePath", path).parquet(path)

    def read_many_df(self, segment_regex: str, sql: str) -> DataFrame:
        """A12/A13: regex fan-out as ONE Spark query over the partitioned
        table with a pruning filter on segment_id — Catalyst sees a single
        plan, so global ORDER BY / GROUP BY / joins across segments work
        (the reference's shell could only scatter and concatenate,
        shell/__init__.py:242-262)."""
        stmt = dialect.assert_single_select(sql)
        spark_sql = dialect.sqlite_to_spark(stmt)
        segs = self.segments_matching(segment_regex)
        if not segs:
            raise KeyError(f"no segments match {segment_regex!r}")
        # each table's schema comes from the first matching segment with it
        first = {t.lower(): (t, s) for s in reversed(segs) for t in self._segment_tables(s)}
        fanout: list[str] = []

        def resolve(name: str) -> str | None:
            if name not in first:
                return None
            table, ref = first[name]
            # rlike has re.search semantics, matching A13 (client.py:181)
            df = self.table_df(table, reference_segment=ref).filter(
                F.col("segment_id").rlike(segment_regex)
            )
            fanout.append(self._register_view(df))
            return fanout[-1]

        try:
            return self._sql(spark_sql, resolve)
        finally:
            # one-off views: the analysed frame keeps their plans
            for name in fanout:
                self.spark.catalog.dropTempView(name)

    def append_dataframe(
        self, table: str, df: DataFrame, segment_col: str = "segment_id"
    ) -> None:
        """Append a (micro-)batch carrying a segment column — the
        foreachBatch streaming sink target (streaming/events.py
        write_to_segments) and the incremental sibling of ``bulk_load``.
        One partitioned append per call ≡ one atomic commit per trigger."""
        data = df.withColumnRenamed(segment_col, "segment_id")
        fields = [(f.name, f.dataType) for f in data.schema.fields if f.name != "segment_id"]
        ts = TableSchema(name=table, fields=fields)
        segs = [r["segment_id"] for r in data.select("segment_id").distinct().collect()]
        for seg in segs:
            _validate_segment_id(seg)
        changed = False
        for seg in segs:
            info = self._meta["segments"].setdefault(seg, {"schema": "default", "tables": {}})
            if table not in info["tables"]:
                info["tables"][table] = _table_record(ts)
                changed = True
        if changed:
            self._save_meta()
        self._write_partitioned(
            data.select(*[n for n, _ in fields], "segment_id"), table
        )

    def bulk_load(self, table: str, df: DataFrame, segment_col: str) -> list[str]:
        """The 100 TB ingest path: land an entire DataFrame into many
        segments in ONE partitioned write (``partitionBy(segment_id)``),
        instead of per-segment INSERT scripts.  This is how a bulk migration
        or ETL job feeds the store — the write shuffles once on the segment
        key and commits atomically via the file commit protocol (replacing
        the reference's per-segment provision→POST→promote loop,
        sync.py:673-1188).

        Returns the list of segment ids that received data."""
        data = df.withColumnRenamed(segment_col, "segment_id")
        fields = [(f.name, f.dataType) for f in data.schema.fields if f.name != "segment_id"]
        ts = TableSchema(name=table, fields=fields)
        segs = [r["segment_id"] for r in data.select("segment_id").distinct().collect()]
        for seg in segs:
            _validate_segment_id(seg)
        for seg in segs:
            info = self._meta["segments"].setdefault(seg, {"schema": "default", "tables": {}})
            info["tables"][table] = _table_record(ts)
        self._save_meta()
        self._write_partitioned(
            data.select(*[n for n, _ in fields], "segment_id").repartition(
                "segment_id"
            ),
            table,
        )
        return sorted(segs)

    def _write_partitioned(self, data: DataFrame, table: str) -> None:
        """One partitioned append of a segment_id-carrying DataFrame to the
        whole table — the shared tail of append_dataframe / bulk_load."""
        data.write.partitionBy("segment_id").mode("append").parquet(
            self._table_path(table)
        )

    # -- promotion / deletion (A20, A22) -------------------------------------

    def promote(self, segment_id: str) -> dict:
        """A20: in the reference this uploads the SQLite file to HDFS
        (sync.py:1112-1188).  Here every committed write is already durable
        under the store root — promotion just reports the paths."""
        info = self._segment_info(segment_id)
        return {
            "segment": segment_id,
            "remote_paths": [
                self._partition_path(t, segment_id) for t in self._segment_tables(segment_id)
            ],
            "schema": info["schema"],
        }

    # -- maintenance: compaction + snapshots ---------------------------------

    def _parquet_files(self, path: str) -> list[str]:
        out = []
        for root, _dirs, files in os.walk(path):
            out.extend(os.path.join(root, f) for f in files if f.endswith(".parquet"))
        return sorted(out)

    def compact(
        self, segment_id: str, table: str | None = None, sort_by: list[str] | None = None
    ) -> dict:
        """Small-files maintenance: rewrite a segment's partition(s) into
        one file, optionally sorted by ``sort_by`` (clustering for scan
        locality + better min/max pruning).  Every INSERT batch
        appends a file, so long-lived segments accrete many small files —
        the classic lakehouse degradation; compaction is the classic cure.
        Bounded work (one partition), atomic via the same staged swap as
        UPDATE/DELETE.  Returns {table: {files_before, files_after, rows}}."""
        report: dict = {}
        with self._file_lock(f"segment-{segment_id}"):
            for t in [table] if table else self._segment_tables(segment_id):
                path = self._partition_path(t, segment_id)
                before = len(self._parquet_files(path))
                df = self._read_partition(segment_id, t)
                rows = df.count()
                if sort_by:
                    df = df.sort(*sort_by)  # one task: no exchange
                self._overwrite_partition(segment_id, t, df, check=False)
                report[t] = {
                    "files_before": before,
                    "files_after": len(self._parquet_files(path)),
                    "rows": rows,
                }
        return report

    def _snapshot_root(self, segment_id: str) -> str:
        return f"{self.root}/_snapshots/{segment_id}"

    def snapshot(self, segment_id: str, tag: str | None = None) -> str:
        """Create a named point-in-time snapshot of one segment (data files
        + segment metadata).  Segments are bounded by design, so a snapshot
        is a bounded file copy.  Returns the version id."""
        info = self._segment_info(segment_id)
        with self._file_lock(f"segment-{segment_id}"):
            existing = self.list_snapshots(segment_id)
            version = tag or f"v{len(existing) + 1:04d}"
            if version in existing:
                raise QueryRejected(f"snapshot {version!r} already exists")
            dest = f"{self._snapshot_root(segment_id)}/{version}"
            os.makedirs(dest, exist_ok=True)
            manifest = {"segment": dict(info), "tables": {}}
            for t in self._segment_tables(segment_id):
                src = self._partition_path(t, segment_id)
                if os.path.isdir(src):
                    shutil.copytree(src, f"{dest}/data/{t}")
                    manifest["tables"][t] = True
            with open(f"{dest}/manifest.json", "w") as f:
                json.dump(manifest, f)
        return version

    def _snapshot_manifest(self, segment_id: str, version: str) -> tuple[str, dict]:
        dest = f"{self._snapshot_root(segment_id)}/{version}"
        if not os.path.isfile(f"{dest}/manifest.json"):
            raise KeyError(f"no snapshot {version!r} for segment {segment_id!r}")
        with open(f"{dest}/manifest.json") as f:
            return dest, json.load(f)

    def list_snapshots(self, segment_id: str) -> list[str]:
        root = self._snapshot_root(segment_id)
        if not os.path.isdir(root):
            return []
        return sorted(
            d for d in os.listdir(root)
            if os.path.isfile(f"{root}/{d}/manifest.json")
        )

    def restore(self, segment_id: str, version: str) -> None:
        """Roll one segment back to a snapshot: data files and segment
        metadata swap in atomically per table (staged rename, same protocol
        as partition rewrites); autoincrement high-water marks reset so the
        next id continues from the restored data."""
        dest, manifest = self._snapshot_manifest(segment_id, version)
        with self._file_lock(f"segment-{segment_id}"):
            current = set(self._segment_tables(segment_id))
            for t in current | set(manifest["tables"]):
                path = self._partition_path(t, segment_id)
                shutil.rmtree(path, ignore_errors=True)
                snap = f"{dest}/data/{t}"
                if t in manifest["tables"] and os.path.isdir(snap):
                    os.makedirs(os.path.dirname(path), exist_ok=True)
                    shutil.copytree(snap, path)
            self._meta["segments"][segment_id] = dict(manifest["segment"])
            self._save_meta()
            self._hwm = {k: v for k, v in self._hwm.items() if k[0] != segment_id}
            self._last_auto.pop(segment_id, None)

    def delete_segment(self, segment_id: str) -> None:
        """A22 (reference sync.py:439-509, segment_manager.py:117-128)."""
        tables = self._segment_tables(segment_id)
        for t in tables:
            shutil.rmtree(self._partition_path(t, segment_id), ignore_errors=True)
        del self._meta["segments"][segment_id]
        self._save_meta()
        self._hwm = {k: v for k, v in self._hwm.items() if k[0] != segment_id}
        self._last_auto.pop(segment_id, None)


# ---------------------------------------------------------------------------
# WITH RECURSIVE (SURVEY §2.B11: Spark has no recursive CTE; the engine
# executes it as a driver-coordinated fixpoint of distributed steps)
# ---------------------------------------------------------------------------


@dataclass
class RecursiveCTE:
    name: str
    cols: list[str]
    base_sql: str
    step_sql: str
    outer_sql: str
    union_all: bool
    max_iterations: int = 200


def _parse_recursive_cte(sql: str) -> RecursiveCTE | None:
    tokens = dialect.tokenize(sql)
    sig = [i for i, t in enumerate(tokens) if t.kind not in ("space", "comment")]
    words = [tokens[i] for i in sig]
    if len(words) < 2 or words[0].text.upper() != "WITH" or words[1].text.upper() != "RECURSIVE":
        return None
    pos = 2
    name = _unquote(words[pos].text)
    pos += 1
    cols: list[str] = []
    if pos < len(words) and words[pos].text == "(":
        args, close_sig = _find_sig_args(words, pos)
        cols = [_unquote(dialect.render(a).strip()) for a in args]
        pos = close_sig + 1
    if pos >= len(words) or words[pos].text.upper() != "AS":
        raise QueryRejected(f"unsupported WITH RECURSIVE form: {sql[:80]!r}")
    pos += 1
    if pos >= len(words) or words[pos].text != "(":
        raise QueryRejected(f"unsupported WITH RECURSIVE form: {sql[:80]!r}")
    _, close_sig = _find_sig_args(words, pos)
    body = words[pos + 1 : close_sig]
    outer_sql = dialect.render(
        tokens[sig[close_sig + 1] :] if close_sig + 1 < len(words) else []
    ).strip()
    if not outer_sql:
        raise QueryRejected("WITH RECURSIVE without an outer SELECT")
    if outer_sql.startswith(","):
        # CTEs after the recursive one become the outer statement's WITH
        outer_sql = "WITH " + outer_sql[1:].lstrip()
    # split body at the LAST top-level UNION [ALL]
    depth = 0
    split_at = None
    union_all = False
    for i, t in enumerate(body):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "word" and t.text.upper() == "UNION":
            split_at = i
            union_all = i + 1 < len(body) and body[i + 1].text.upper() == "ALL"
    if split_at is None:
        raise QueryRejected("WITH RECURSIVE body must be 'base UNION [ALL] step'")
    # body tokens come from the significant list (whitespace dropped):
    # re-render with single spaces — safe, literals are single tokens
    base_sql = " ".join(t.text for t in body[:split_at]).strip()
    step_sql = " ".join(t.text for t in body[split_at + (2 if union_all else 1) :]).strip()
    toks = dialect.tokenize(outer_sql)
    later = dialect._top_level_cte_names(toks, dialect._significant(toks))
    if later & (dialect.table_names(base_sql) | dialect.table_names(step_sql)):
        raise QueryRejected("unsupported WITH RECURSIVE form: its body names a later CTE")
    return RecursiveCTE(
        name=name,
        cols=cols,
        base_sql=base_sql,
        step_sql=step_sql,
        outer_sql=outer_sql,
        union_all=union_all,
    )


def _find_sig_args(words, open_pos):
    """Like dialect._find_call_args but over a significant-token list;
    returns (args, index_of_close) in significant-token coordinates."""
    depth = 0
    args, cur = [], []
    i = open_pos
    while i < len(words):
        t = words[i]
        if t.text == "(":
            depth += 1
            if depth > 1:
                cur.append(t)
        elif t.text == ")":
            depth -= 1
            if depth == 0:
                if cur or args:
                    args.append(cur)
                return args, i
            cur.append(t)
        elif t.text == "," and depth == 1:
            args.append(cur)
            cur = []
        else:
            cur.append(t)
        i += 1
    raise QueryRejected("unbalanced parentheses in SQL")


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _table_record(ts: TableSchema) -> dict:
    """A table's record in its segment's metadata, ready for JSON: types as
    ``DataType.jsonValue()``, attributes at their defaults left out (the
    name is the record's key)."""
    rec = {"fields": [[n, t.jsonValue()] for n, t in ts.fields]}
    for f in dataclasses.fields(TableSchema)[2:]:
        v = getattr(ts, f.name)
        if v != (f.default_factory() if f.default is dataclasses.MISSING else f.default):
            rec[f.name] = v
    return json.loads(json.dumps(rec))


def _record_table(name: str, rec: dict) -> TableSchema:
    """Decode a table record in pure Python (no JVM call); the result is a
    fresh object the caller may change."""
    attrs = copy.deepcopy({k: v for k, v in rec.items() if k != "fields"})
    ts = TableSchema(
        name,
        [(n, T._parse_datatype_json_value(t)) for n, t in rec["fields"]],
        **attrs,
    )
    ts.checks = [tuple(c) for c in ts.checks]
    ts.uniques = [tuple(u) for u in ts.uniques]
    ts.generated = {c: tuple(v) for c, v in ts.generated.items()}
    ts.unique_indexes = {i: tuple(u) for i, u in ts.unique_indexes.items()}
    return ts


def _declared_column(ts: TableSchema, col: str) -> str:
    """``col`` as the table declares it; SQLite's error if it has none."""
    for n, _t in ts.fields:
        if n.lower() == col.lower():
            return n
    raise QueryRejected(f'no such column: "{col}"')


def _declared_name(names, name: str) -> str | None:
    """The one of ``names`` that is ``name`` ignoring case (SQLite's table,
    view and trigger names are case-insensitive), or None."""
    return next((n for n in names if n.lower() == name.lower()), None)


def _column_refs(info: dict, ts: TableSchema, col: str) -> str | None:
    """What names column ``col`` of ``ts`` besides its declaration: a
    CHECK or generated expression ("table t"), a trigger or view body
    that names the table too, or None."""
    def names(sql: str) -> set[str]:
        idents = ("word", "dquote", "bquote", "bracket")
        return {_unquote(t.text).lower() for t in dialect.tokenize(sql) if t.kind in idents}

    lo = col.lower()
    if any(lo in names(e) for _l, e in ts.checks) or any(
        lo in names(e) for e, _s in ts.generated.values()
    ):
        return f"table {ts.name}"
    for kind in ("trigger", "view"):
        for name, body in info.get(f"{kind}s", {}).items():
            if {lo, ts.name.lower()} <= names(body):
                return f"{kind} {name}"
    return None


def _rename_column(ts: TableSchema, old: str, new: str) -> None:
    """Rename a column in every column-keyed part of a table schema."""
    lo = old.lower()

    def cols(names):
        return [new if c.lower() == lo else c for c in names]

    def rekey(d: dict, key: str) -> dict:
        return {key if k.lower() == lo else k: v for k, v in d.items()}

    ts.fields = [(new if n.lower() == lo else n, t) for n, t in ts.fields]
    ts.primary_key = cols(ts.primary_key)
    ts.not_null = cols(ts.not_null)
    ts.uniques = [(cols(c), cl) for c, cl in ts.uniques]
    ts.unique_indexes = {i: (cols(c), cl) for i, (c, cl) in ts.unique_indexes.items()}
    ts.defaults = rekey(ts.defaults, new)
    ts.generated = rekey(ts.generated, new)
    ts.collations = rekey(ts.collations, new.lower())
    ts.col_decls = rekey(ts.col_decls, new.lower())
    if ts.autoincrement_col is not None:
        ts.autoincrement_col = cols([ts.autoincrement_col])[0]
    for fk in ts.fks:
        fk["from"] = cols(fk["from"])


def _drop_column(ts: TableSchema, col: str) -> None:
    """Remove a column no key, CHECK or generated expression refers to;
    its single-column foreign key goes with it, as in SQLite."""
    lo = col.lower()
    ts.fields = [(n, t) for n, t in ts.fields if n.lower() != lo]
    ts.not_null = [c for c in ts.not_null if c.lower() != lo]
    ts.fks = [fk for fk in ts.fks if lo not in map(str.lower, fk["from"])]
    for d in (ts.defaults, ts.generated, ts.collations, ts.col_decls):
        for k in [k for k in d if k.lower() == lo]:
            del d[k]


_NUMERIC_PREFIX_RE = re.compile(
    r"^\s*[+-]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?"
)


def _sqlite_numeric_prefix(s: str):
    """SQLite's text→number coercion: the longest numeric prefix, 0 when
    there is none; INTEGER unless the prefix contains '.' or an exponent
    (probed live: '12xy'→12, '1e'→1, '0x10'→0, ''→0, '1.5e2'→150.0)."""
    m = _NUMERIC_PREFIX_RE.match(s)
    if not m:
        return 0
    txt = m.group(0).strip()
    if "." in txt or "e" in txt.lower():
        return float(txt)
    v = int(txt)
    if not (-(2**63) <= v < 2**63):
        # SQLite: a digit string exceeding int64 coerces to REAL (probed:
        # -'99999999999999999999' = -1e+20, -'9223372036854775808' = REAL)
        return float(txt)
    return v


class _NotALiteral(Exception):
    """A VALUES element is an expression, not a plain literal — the caller
    constant-folds it through Spark SQL instead."""


def _literal(tokens) -> object:
    """Evaluate a literal token list from a VALUES tuple.  STRICT: any
    trailing tokens beyond one literal (e.g. ``'a' || 'b'``, ``1 + 2``)
    raise _NotALiteral — silently truncating to the first literal was a
    write-path bug the trigger differential tests caught."""
    sig = [t for t in tokens if t.kind not in ("space", "comment")]
    if not sig:
        raise QueryRejected("empty value in VALUES tuple")
    neg = False
    if sig[0].kind == "op" and sig[0].text in ("-", "+"):
        neg = sig[0].text == "-"
        sig = sig[1:]
        if not sig:
            raise _NotALiteral
    t = sig[0]
    if t.kind == "string":
        if len(sig) > 1:
            raise _NotALiteral
        s = t.text[1:-1].replace("''", "'")
        if neg:
            # SQLite: unary minus numerically coerces text via its longest
            # numeric prefix (probed live: -'abc' = 0, -'12xy' = -12,
            # -'1.5e2' = -150.0, -'-3' = 3); unary plus is the identity
            return -_sqlite_numeric_prefix(s)
        return s
    if t.kind == "number":
        if len(sig) > 1:
            raise _NotALiteral
        v = float(t.text) if ("." in t.text or "e" in t.text.lower()) else int(t.text)
        return -v if neg else v
    if t.kind == "word":
        w = t.text.upper()
        if len(sig) == 1 and not neg:
            if w == "NULL":
                return None
            if w == "TRUE":
                return True
            if w == "FALSE":
                return False
        if (
            w == "X"
            and len(sig) == 2
            and not neg
            and sig[1].kind == "string"
        ):
            return bytes.fromhex(sig[1].text[1:-1])
    raise _NotALiteral


def _sqlite_decl(typ: T.DataType) -> str:
    if isinstance(typ, T.LongType):
        return "INTEGER"
    if isinstance(typ, T.DoubleType):
        return "REAL"
    if isinstance(typ, T.BinaryType):
        return "BLOB"
    if isinstance(typ, T.BooleanType):
        return "BOOLEAN"
    if isinstance(typ, T.TimestampType):
        return "DATETIME"
    if isinstance(typ, T.DateType):
        return "DATE"
    return "TEXT"


def _arrow_table(rows, struct: T.StructType) -> pa.Table:
    """Driver-side rows as an Arrow table of ``struct``'s types.  Rows go
    through pyspark's own verifier and ``toInternal`` first, so type
    errors and value conversions (dates, timestamps in the process time
    zone) are exactly the row-list ``createDataFrame`` path's.  Decimals
    take the declared scale as a Spark cast does (``_fit_decimal``)."""
    verify, to_tuple = _make_type_verifier(struct), _create_converter(struct)
    internal = []
    for r in rows:
        verify(r)
        internal.append(struct.toInternal(to_tuple(r)))
    schema = to_arrow_schema(struct)
    cols = [list(c) for c in zip(*internal)] if internal else [[] for _ in schema]
    for c, f in zip(cols, struct.fields):
        if isinstance(f.dataType, T.DecimalType):
            c[:] = [_fit_decimal(v, f.dataType) for v in c]
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


_HALF_UP = decimal.Context(prec=80, rounding=decimal.ROUND_HALF_UP)


def _fit_decimal(v: decimal.Decimal | None, typ: T.DecimalType) -> decimal.Decimal | None:
    """``v`` rounded HALF_UP to ``typ``'s scale, as a Spark cast stores it;
    a value with more integer digits than ``typ`` holds, before or after
    rounding, or one that is not finite, is refused."""
    digits = typ.precision - typ.scale
    if v is None or v.is_finite() and not (v and v.adjusted() >= digits):
        q = v if v is None else v.quantize(decimal.Decimal(1).scaleb(-typ.scale), context=_HALF_UP)
        if not (q and q.adjusted() >= digits):
            return q
    raise QueryRejected(f"value {v} is out of range for DECIMAL({typ.precision},{typ.scale})")


def _local_frame(spark: SparkSession, rows, struct) -> DataFrame:
    """The one way this module builds a DataFrame from driver-side rows
    (or from an ``_arrow_table`` of them).

    Row-list ``createDataFrame`` parallelizes a pickled Python RDD that
    every action re-runs in pyspark Python workers.  An Arrow table becomes
    a ``LocalRelation`` instead: no Python worker runs, and the optimizer
    evaluates a filter/limit/collect over it without a Spark job.
    ``struct`` may be a DDL string.
    """
    if isinstance(struct, str):
        struct = T.StructType.fromDDL(struct)
    table = rows if isinstance(rows, pa.Table) else _arrow_table(rows, struct)
    return spark.createDataFrame(table, struct)


def _file_columns(path: str, struct: T.StructType) -> list[list]:
    """The columns of ``struct`` in every visible file of the partition
    directory ``path``, read with pyarrow (no Spark job), as one Python
    list per column.  As in Spark's reader, names match case-insensitively,
    a column a file lacks reads as NULL, and INT96 timestamps are instants;
    values are cast to the declared Arrow types."""
    fields = list(to_arrow_schema(struct))
    out: list[list] = [[] for _ in fields]
    files = sorted(
        e.path for e in (os.scandir(path) if os.path.isdir(path) else ())
        if e.is_file() and not e.name.startswith((".", "_"))
    )
    for fp in files:
        with pq.ParquetFile(fp, coerce_int96_timestamp_unit="us") as pf:
            have = {n.lower(): n for n in pf.schema_arrow.names}
            src = [have.get(f.name.lower()) for f in fields]
            got = pf.read(columns=list(dict.fromkeys(n for n in src if n)))
            rows = pf.metadata.num_rows
        for acc, f, n in zip(out, fields, src):
            col = got.column(n).cast(f.type) if n else pa.nulls(rows, f.type)
            acc.extend(col.to_pylist())
    return out


def _coerce(v, typ: T.DataType):
    if v is None:
        return None
    if isinstance(typ, T.LongType):
        return int(v)
    if isinstance(typ, T.DoubleType):
        return float(v)
    if isinstance(typ, T.DecimalType):
        return decimal.Decimal(str(v))
    if isinstance(typ, T.StringType):
        return str(v)
    if isinstance(typ, T.BooleanType):
        return bool(v)
    if isinstance(typ, T.BinaryType):
        return v if isinstance(v, (bytes, bytearray)) else str(v).encode()
    if isinstance(typ, (T.TimestampType, T.DateType)):
        import datetime as dt

        if isinstance(v, str):
            parsed = dt.datetime.fromisoformat(v)
            return parsed.date() if isinstance(typ, T.DateType) else parsed
        return v
    return v


def _split_assignments(sets: str) -> list[tuple[str, str]]:
    """Split 'a = expr, b = expr' on top-level commas."""
    tokens = dialect.tokenize(sets)
    parts: list[list] = [[]]
    depth = 0
    for t in tokens:
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        if t.kind == "op" and t.text == "," and depth == 0:
            parts.append([])
        else:
            parts[-1].append(t)
    out = []
    for part in parts:
        text = dialect.render(part)
        col, _, expr = text.partition("=")
        col, expr = col.strip(), expr.strip()
        if col.startswith("(") and col.endswith(")"):
            # SQLite row-value assignment: SET (a, b) = (e1, e2) — expand
            # into individual assignments; the subquery form
            # SET (a, b) = (SELECT ...) is rejected loudly below
            names = [_unquote(c.strip()) for c in col[1:-1].split(",")]
            if not (expr.startswith("(") and expr.endswith(")")):
                raise QueryRejected(f"unsupported row-value assignment: {text[:80]!r}")
            inner = expr[1:-1]
            if re.match(r"^\s*SELECT\b", inner, re.IGNORECASE):
                raise QueryRejected(
                    "SET (cols) = (SELECT ...) is not supported; assign "
                    "columns individually"
                )
            vals: list[list] = [[]]
            d2 = 0
            for t in dialect.tokenize(inner):
                if t.kind == "op" and t.text == "(":
                    d2 += 1
                elif t.kind == "op" and t.text == ")":
                    d2 -= 1
                if t.kind == "op" and t.text == "," and d2 == 0:
                    vals.append([])
                else:
                    vals[-1].append(t)
            exprs = [dialect.render(v).strip() for v in vals]
            if len(names) != len(exprs):
                raise QueryRejected(
                    f"row-value assignment arity mismatch: {len(names)} vs {len(exprs)}"
                )
            out.extend(zip(names, exprs))
            continue
        out.append((_unquote(col), expr))
    return out
