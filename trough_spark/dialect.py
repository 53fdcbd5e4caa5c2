"""SQLite → Spark SQL dialect shim (SURVEY.md §7.2 step 3).

The reference passes raw SQL strings to the embedded SQLite library
(reference: trough/read.py:66, trough/write.py:40), so its per-shard query
language IS the SQLite dialect.  This module makes Spark SQL accept that
dialect: a lightweight tokenizer plus token-level rewrites.  No sqlglot /
sqlparse in the environment — the tokenizer below covers SQL lexical
structure (strings, quoted identifiers, comments, parens) which is all the
rewrites need; full parsing stays where it belongs, in Catalyst.

Covered rewrites (SURVEY.md §2.B):
- A1 SELECT gate (single statement, SELECT/VALUES/WITH only) — read.py:54-67
- LIKE → ILIKE (SQLite LIKE is case-insensitive by default).  KNOWN
  DIVERGENCE: SQLite folds ASCII letters only, Spark ILIKE folds full
  Unicode — 'É' LIKE 'é' is false in SQLite, true here; ASCII-range
  patterns (the overwhelmingly common case) behave identically.  For exact
  case-sensitive matching both engines agree: use
  ``PRAGMA case_sensitive_like = ON`` (honored by the write path /
  ``set_case_sensitive_like``), which keeps LIKE untranslated — Spark LIKE
  is precisely SQLite's case_sensitive_like=ON semantics.
- GLOB 'pat' → RLIKE anchored-regex translation
- REGEXP operator passthrough → RLIKE (same operand order)
- function-call forms like(P, X [, E]) / glob(P, X) — SQLite's REVERSED
  operand order, 0/1 integer results; infix rewriting skips call positions
  via expression-context detection
- function-call rewrites: the reference's three registered functions inlined
  natively, group_concat, total, ifnull-family, datetime/strftime/julianday
  (date/time/datetime all take the modifier tail: '+N unit',
  'start of day/month/year'), printf/format, quote, char/unicode, zeroblob,
  scalar min/max → least/greatest, 2-arg trim family, random(), typeof,
  json()/json_valid/json_type/json_object/json_array
- CAST to INTEGER/REAL follows SQLite's numeric-prefix conversion
  ('12abc' → 12, junk → 0, NULL preserved) instead of ANSI erroring
- fractional literals typed as REAL (Spark would make them DECIMAL:
  0.1 + 0.2 must be 0.30000000000000004, not 0.3); integer-literal
  division is integer division (7/2 = 3).  KNOWN DIVERGENCE: division of
  integer-typed COLUMNS stays float (SQLite decides by runtime type,
  which a statically-typed plan cannot)
- COLLATE NOCASE/BINARY/RTRIM → Spark 4 collations (UTF8_LCASE /
  UTF8_BINARY; NOCASE folds full Unicode here, ASCII-only in SQLite —
  same divergence class as ILIKE)
- double-quoted identifiers → backticks
- A10 literal encoder (client.py:110-131) + A11 printf-style templating

KNOWN DIVERGENCES from dynamic typing (fundamental, documented): mixed-type
comparisons (1 = '1' is 0 in SQLite, true here), json_extract scalar
results come back as TEXT, json_array over mixed-type arguments coerces to
one Spark type, and floor()/ceil()/ceiling() return SQLite's input-
preserving dynamic type (REAL in → REAL out, INTEGER in → INTEGER out)
but Spark's static BIGINT — values agree, the storage class differs
(probed: floor(1.25) is 1.0 REAL in SQLite, 1 BIGINT here).
"""

from __future__ import annotations

import datetime as _dt
import re

from trough_spark.functions import SQL_EXPANSIONS

# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<space>\s+)
    | (?P<comment>--[^\n]*|/\*.*?\*/)
    | (?P<string>'(?:[^']|'')*')
    | (?P<dquote>"(?:[^"]|"")*")
    | (?P<bquote>`(?:[^`]|``)*`)
    | (?P<bracket>\[[^\]]*\])
    | (?P<number>\d+\.?\d*(?:[eE][+-]?\d+)?|\.\d+)
    | (?P<param>\?|:\w+|%s)
    | (?P<word>[A-Za-z_][A-Za-z_0-9$]*)
    | (?P<op><=|>=|<>|!=|\|\||==|[-+*/%<>=(),.;&|~])
    """,
    re.VERBOSE | re.DOTALL,
)


class Token:
    __slots__ = ("kind", "text")

    def __init__(self, kind: str, text: str):
        self.kind = kind
        self.text = text

    def __repr__(self):  # pragma: no cover
        return f"Token({self.kind!r}, {self.text!r})"


def tokenize(sql: str) -> list[Token]:
    out: list[Token] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            # unknown char: keep as op so round-tripping never loses text
            out.append(Token("op", sql[pos]))
            pos += 1
            continue
        kind = m.lastgroup or "op"
        out.append(Token(kind, m.group()))
        pos = m.end()
    return out


def render(tokens: list[Token]) -> str:
    return "".join(t.text for t in tokens)


def _escape_string_literals(sql: str) -> str:
    """Respell user string literals from SQLite to Spark.

    SQLite string literals have NO escape character (a backslash is an
    ordinary byte; only '' doubles a quote); Spark's default parser
    processes C-style backslash escapes, so ``'a\\b'`` silently means
    ``a<backspace>`` there.  Double every backslash inside each string
    token so the Spark-parsed VALUE equals the SQLite value.  This pass
    runs FIRST, before any rewrite injects shim-generated literals (which
    intentionally use Spark spelling and must not be re-escaped); later
    passes that parse literal CONTENT (the GLOB pattern decode, the
    LIKE-pattern fixup) therefore read Spark spelling and decode
    accordingly.
    """
    if "\\" not in sql:
        return sql
    tokens = tokenize(sql)
    for t in tokens:
        if t.kind == "string" and "\\" in t.text:
            t.text = t.text.replace("\\", "\\\\")
    return render(tokens)


def _significant(tokens: list[Token]):
    """Indices of non-space/comment tokens."""
    return [i for i, t in enumerate(tokens) if t.kind not in ("space", "comment")]


# ---------------------------------------------------------------------------
# statement splitting & classification
# ---------------------------------------------------------------------------


def split_statements(script: str) -> list[str]:
    """Split a SQL script on top-level semicolons (string/comment-safe).

    ``CREATE TRIGGER ... BEGIN stmt; stmt; END`` is one statement: inside a
    trigger body, semicolons separate body statements and the statement only
    ends at the semicolon following ``END`` (sqlite3 lexer rule)."""
    tokens = tokenize(script)
    stmts: list[str] = []
    cur: list[Token] = []
    sig_words: list[str] = []  # leading significant words of cur, uppercased
    in_trigger = False

    def flush() -> None:
        nonlocal cur, sig_words, in_trigger
        text = render(cur).strip()
        if text:
            stmts.append(text)
        cur = []
        sig_words = []
        in_trigger = False

    for t in tokens:
        if t.kind == "op" and t.text == ";":
            if in_trigger:
                last = next(
                    (
                        x
                        for x in reversed(cur)
                        if x.kind not in ("space", "comment")
                    ),
                    None,
                )
                if last is not None and last.kind == "word" and last.text.upper() == "END":
                    flush()
                else:
                    cur.append(t)  # body-internal separator
                continue
            flush()
        else:
            cur.append(t)
            if not in_trigger and t.kind == "word" and len(sig_words) < 3:
                sig_words.append(t.text.upper())
                if sig_words[0] == "CREATE" and "TRIGGER" in sig_words:
                    in_trigger = True
    flush()
    return stmts


def statement_type(sql: str) -> str:
    """First significant keyword, uppercased ('' when blank)."""
    for t in tokenize(sql):
        if t.kind == "word":
            return t.text.upper()
        if t.kind not in ("space", "comment"):
            return ""
    return ""


# SQLite's PRAGMA case_sensitive_like, session-global (one Spark driver ==
# one connection's scope for our purposes): when True, LIKE stays LIKE
# (case-sensitive — identical semantics in both engines, no Unicode caveat).
case_sensitive_like = False


def set_case_sensitive_like(on: bool) -> None:
    global case_sensitive_like
    case_sensitive_like = bool(on)


class QueryRejected(ValueError):
    """Raised by the gates — mirrors the reference's read/write refusals
    (trough/read.py:58-62, trough/write.py:27-37)."""


def assert_single_select(sql: str) -> str:
    """A1: the read path accepts exactly one SELECT-ish statement
    (reference: trough/read.py:54-62)."""
    stmts = split_statements(sql)
    if len(stmts) != 1:
        raise QueryRejected(
            "QUERY REJECTED: exactly one query per request, please (reference read.py:59)"
        )
    if statement_type(stmts[0]) not in ("SELECT", "WITH", "VALUES"):
        raise QueryRejected(
            "QUERY REJECTED: only SELECT queries are allowed on the read path "
            "(reference read.py:61)"
        )
    return stmts[0]


def assert_write_allowed(script: str) -> list[str]:
    """Write-path gate (reference: trough/write.py:27-37): empty scripts and
    SELECT statements are refused."""
    stmts = split_statements(script)
    if not stmts:
        raise QueryRejected("QUERY REJECTED: empty script (reference write.py:28)")
    for s in stmts:
        if statement_type(s) == "SELECT":
            raise QueryRejected(
                "QUERY REJECTED: cannot write SELECT statements (reference write.py:33)"
            )
    return stmts


# ---------------------------------------------------------------------------
# name binding: a statement's table names as WITH definitions
# ---------------------------------------------------------------------------

_IDENT_KINDS = ("word", "bquote", "dquote", "bracket")


def _top_level_cte_names(tokens: list[Token], sig: list[int]) -> set[str]:
    """Lowercased names the statement's own leading WITH list defines."""
    if not sig or tokens[sig[0]].text.upper() != "WITH":
        return set()
    names: set[str] = set()
    n = 1
    if n < len(sig) and tokens[sig[n]].text.upper() == "RECURSIVE":
        n += 1
    while n < len(sig) and tokens[sig[n]].kind in _IDENT_KINDS:
        names.add(_strip_ident(tokens[sig[n]].text).lower())
        n += 1
        if n < len(sig) and tokens[sig[n]].text == "(":  # column list
            n = (_balanced_close(tokens, sig, n) or len(sig)) + 1
        # AS [NOT] [MATERIALIZED] ( body )
        while n < len(sig) and tokens[sig[n]].text != "(":
            n += 1
        n = (_balanced_close(tokens, sig, n) or len(sig)) + 1
        if n >= len(sig) or tokens[sig[n]].text != ",":
            break
        n += 1
    return names


def bindable_names(sql: str) -> list[str]:
    """Every word and quoted identifier of a Spark SQL statement,
    lowercased and unquoted, in first-seen order, except the names the
    statement's own top-level WITH list defines."""
    tokens = tokenize(sql)
    sig = _significant(tokens)
    own = _top_level_cte_names(tokens, sig)
    out: dict[str, None] = {}
    for i in sig:
        t = tokens[i]
        if t.kind in _IDENT_KINDS:
            name = _strip_ident(t.text).lower()
            if name not in own:
                out.setdefault(name, None)
    return list(out)


_LEADING_WITH_RE = re.compile(
    r"(?:\s+|--[^\n]*|/\*.*?\*/)*WITH(?:\s+RECURSIVE)?\b", re.I | re.S
)


def _prepend_ctes(sql: str, defs: list[tuple[str, str]]) -> str:
    """``name AS (body)`` definitions ahead of the statement: merged into
    the front of its own WITH list when it has one (its definitions may
    then read ours), else as a new WITH clause."""
    if not defs:
        return sql
    head = ", ".join(f"`{n.replace('`', '``')}` AS ({body})" for n, body in defs)
    m = _LEADING_WITH_RE.match(sql)
    if m:
        return f"{sql[: m.end()]} {head},{sql[m.end():]}"
    return f"WITH {head} {sql}"


def bind_names(sql: str, resolve, reserved: str) -> str:
    """Bind a Spark SQL statement's table names to views: every word or
    quoted identifier that ``resolve`` maps to a view name gets a
    ``WITH name AS (SELECT * FROM view)`` definition ahead of the
    statement.  Qualified columns, aliases, self-joins and subqueries keep
    working with no respelling, and Spark inlines the definitions, so the
    executed plan is unchanged.  A name the statement's own top-level WITH
    defines is left to it: a user CTE shadows a table of the same name in
    SQLite and in Spark alike, and a nested one shadows ours.  Keywords are
    looked up too and simply miss.  A name starting with ``reserved`` (the
    internal views' prefix) is rejected."""
    defs = []
    for name in bindable_names(sql):
        if name.startswith(reserved):
            raise QueryRejected(f"no such table: {name}")
        view = resolve(name)
        if view is not None:
            defs.append((name, f"SELECT * FROM `{view}`"))
    return _prepend_ctes(sql, defs)


_TABLE_AFTER = {"FROM", "JOIN", "INTO", "UPDATE"}
_CLAUSE_WORDS = {
    "SELECT", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "WINDOW", "UNION",
    "EXCEPT", "INTERSECT", "VALUES", "SET", "RETURNING", ";",
}
#: words that may follow a table reference and are not its alias
_NOT_ALIAS = _CLAUSE_WORDS | {
    "AS", "ON", "USING", "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "OUTER",
    "CROSS", "NATURAL", "INDEXED", "NOT", "DEFAULT", "OFFSET", "END",
}


def _table_refs(tokens: list[Token], sig: list[int]) -> tuple[list[int], set[str]]:
    """The sig-indexes of the names in table position in one statement
    (after FROM, JOIN, INTO or UPDATE [OR <action>], or after a comma in a
    FROM list; a schema-qualified name is not one), and the lowercased
    aliases those references define (``AS a``, or a bare word after the
    name)."""
    words = [tokens[i].text.upper() for i in sig]
    clause = [""]  # the current clause keyword, per parenthesis depth
    refs: list[int] = []
    aliases: set[str] = set()
    for k, i in enumerate(sig):
        w = words[k]
        if w == "(":
            clause.append("")
        elif w == ")" and len(clause) > 1:
            clause.pop()
        elif w in _CLAUSE_WORDS or w == "FROM":
            clause[-1] = w
        after = words[k - 1] if k else ""
        if (
            tokens[i].kind not in _IDENT_KINDS
            or after == "."
            or words[k + 1:k + 2] == ["."]
            or not (
                after in _TABLE_AFTER and (after, w) != ("UPDATE", "OR")
                or k >= 3 and words[k - 3:k - 1] == ["UPDATE", "OR"]
                or after == "," and clause[-1] == "FROM"
            )
        ):
            continue
        refs.append(k)
        a = k + 2 if words[k + 1:k + 2] == ["AS"] else k + 1
        if a < len(sig) and tokens[sig[a]].kind in _IDENT_KINDS and words[a] not in _NOT_ALIAS:
            aliases.add(_strip_ident(tokens[sig[a]].text).lower())
    return refs, aliases


def table_names(sql: str) -> set[str]:
    """Lowercased names ``sql`` reads or writes in table position (see
    ``_table_refs``): column and function names are not among them."""
    tokens = tokenize(sql)
    sig = _significant(tokens)
    return {_strip_ident(tokens[sig[k]].text).lower() for k in _table_refs(tokens, sig)[0]}


def rename_table(sql: str, old: str, new: str) -> str:
    """``sql`` with its references to table ``old`` respelled ``"new"``,
    as SQLite's ALTER TABLE RENAME TO rewrites trigger bodies: a name in
    table position (``_table_refs``), or qualifying a column unless the
    statement defines an alias of that name.  Literals, comments, column
    names and function names are left alone."""
    tokens = tokenize(sql)
    sig = _significant(tokens)
    quoted = '"' + new.replace('"', '""') + '"'
    bounds = [-1] + [k for k, i in enumerate(sig) if tokens[i].text == ";"] + [len(sig)]
    for lo, hi in zip(bounds, bounds[1:]):
        stmt = sig[lo + 1:hi]
        refs, aliases = _table_refs(tokens, stmt)
        for k, i in enumerate(stmt):
            t = tokens[i]
            if t.kind not in _IDENT_KINDS or _strip_ident(t.text).lower() != old.lower():
                continue
            qualifier = (
                k + 1 < len(stmt)
                and tokens[stmt[k + 1]].text == "."
                and not (k and tokens[stmt[k - 1]].text == ".")
            )
            if k in refs or qualifier and old.lower() not in aliases:
                t.text = quoted
    return render(tokens)


# ---------------------------------------------------------------------------
# GLOB → regex
# ---------------------------------------------------------------------------


def glob_to_regex(pattern: str) -> str:
    """Translate a SQLite GLOB pattern into an anchored Java regex."""
    out = ["^"]
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch == "[":
            # SQLite's class matcher (sqlite3 patternCompare), pinned by a
            # live-probe battery + the hypothesis differential:
            # - '^' negates only as the FIRST char; a ']' right after '[' or
            #   '[^' is a literal member;
            # - 'c1-c2' tests c1 <= c <= c2, AND c1 is ALSO tested as a
            #   literal member ('[b-a]' matches 'b'); the end char is not;
            # - an inverted range (c2 < c1) contributes nothing — its chars
            #   are NOT literals ('??[[-?]' does not match 'aa-');
            # - an unclosed class makes the whole pattern match NOTHING.
            p = i + 1
            neg = ""
            if p < len(pattern) and pattern[p] == "^":
                neg, p = "^", p + 1
            lead = ""
            if p < len(pattern) and pattern[p] == "]":
                lead, p = "]", p + 1  # literal ']' member
            j = pattern.find("]", p)
            if j == -1:
                return r"^[^\s\S]$"  # unclosed class: never matches
            body = lead + pattern[p:j]
            # Member-by-member re-emit with everything escaped: a verbatim
            # body would let literal '-'/'~'/'&' runs form regex set-ops
            # ("[a--~]" is set difference to future Python, "&&" is
            # intersection to Java).
            members = []
            k = 0
            while k < len(body):
                if k + 2 <= len(body) - 1 and body[k + 1] == "-":
                    members.append(re.escape(body[k]))  # range start is literal too
                    if body[k] <= body[k + 2]:
                        members.append(re.escape(body[k]) + "-" + re.escape(body[k + 2]))
                    k += 3
                else:
                    members.append(re.escape(body[k]))
                    k += 1
            if members:
                out.append("[" + neg + "".join(members) + "]")
            elif neg:
                out.append(r"[\s\S]")  # negation of the empty set: any one char
            else:
                out.append(r"[^\s\S]")  # empty set: matches nothing
            i = j
        else:
            out.append(re.escape(ch))
        i += 1
    out.append("$")
    return "".join(out)


# ---------------------------------------------------------------------------
# strftime format translation
# ---------------------------------------------------------------------------

_STRFTIME_MAP = {
    "%Y": "yyyy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
    "%f": "ss.SSS",
    "%j": "DDD",
    "%%": "%",
    # SQLite 3.44 additions (translation-tested; this container's sqlite3
    # is 3.40 and cannot execute them)
    "%F": "yyyy-MM-dd",
    "%R": "HH:mm",
    "%T": "HH:mm:ss",
    "%I": "hh",
    "%p": "a",
}


def strftime_format_to_spark(fmt: str) -> str:
    """Directives become date_format pattern tokens; every literal run is
    single-quoted — unquoted letters ('day', 'of') are pattern syntax to
    Spark and would error or silently expand."""
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if lit:
            out.append("'" + "".join(lit).replace("'", "''") + "'")
            lit.clear()

    i = 0
    while i < len(fmt):
        token = fmt[i : i + 2]
        if token == "%%":
            lit.append("%")
            i += 2
        elif fmt[i] == "%" and token in _STRFTIME_MAP:
            flush()
            out.append(_STRFTIME_MAP[token])
            i += 2
        else:
            lit.append(fmt[i])
            i += 1
    flush()
    return "".join(out)


# ---------------------------------------------------------------------------
# function-call rewrites
# ---------------------------------------------------------------------------


def _fn_strftime(args: list[str]) -> str:
    fmt = args[0].strip()
    rest = args[1] if len(args) > 1 else "current_timestamp()"
    ts = f"CAST({rest} AS TIMESTAMP)"
    if fmt.startswith("'") and fmt.endswith("'"):
        # undo the SQL-level quote doubling when extracting the format value
        # (strftime('%Y''s', c) carries the literal %Y's); literal runs are
        # re-escaped on output by flush()
        inner = fmt[1:-1].replace("''", "'")
        # One date_format PER directive, literals as plain SQL strings, all
        # concat'd.  A single merged pattern is wrong twice over: adjacent
        # directives fuse into wider tokens (%j%j would become DDDDDD, a
        # 6-digit day-of-year), and %s/%w have no pattern token at all.
        exprs: list[str] = []
        lit: list[str] = []

        def flush() -> None:
            if lit:
                exprs.append("'" + "".join(lit).replace("'", "''") + "'")
                lit.clear()

        i = 0
        while i < len(inner):
            tok = inner[i : i + 2]
            if tok == "%%":
                lit.append("%")
                i += 2
            elif tok == "%s":
                flush()
                exprs.append(f"CAST(unix_timestamp({ts}) AS STRING)")
                i += 2
            elif tok == "%w":
                flush()
                exprs.append(f"CAST(dayofweek({ts}) - 1 AS STRING)")
                i += 2
            elif inner[i] == "%" and tok in _STRFTIME_MAP:
                flush()
                exprs.append(f"date_format({ts}, '{_STRFTIME_MAP[tok]}')")
                i += 2
            else:
                lit.append(inner[i])
                i += 1
        flush()
        if not exprs:
            return "''"
        if len(exprs) == 1:
            return exprs[0]
        return f"concat({', '.join(exprs)})"
    # non-literal format: can't translate statically
    return f"date_format({ts}, {fmt})"


def _fn_datetime(args: list[str]) -> str:
    """SQLite datetime(base, modifier, ...) → Spark timestamp arithmetic.

    Month/year modifiers bind the running expression ONCE per step via a
    single-element ``transform(array(base), _b -> ...)`` lambda (round 6,
    ADVICE r4 item 5 lifted): the overflow-normalization identity needs the
    base at three positions, and the lambda variable gives Spark the
    let-binding its expression language lacks — chains grow linearly and a
    non-deterministic base is evaluated once per step."""
    if len(args) == 1 and args[0].strip().lower() in ("'now'", "current_timestamp"):
        return "current_timestamp()"
    if args and args[0].strip().lower() in ("'now'", "current_timestamp"):
        base = "current_timestamp()"
    else:
        base = f"CAST({args[0]} AS TIMESTAMP)"
    for mod in args[1:]:
        m = mod.strip().lower().strip("'")
        mm = re.match(r"([+-]?\d+)\s+(second|minute|hour|day|month|year)s?", m)
        if mm:
            n, unit = mm.group(1), mm.group(2).upper()
            if unit in ("MONTH", "YEAR"):
                # SQLite NORMALIZES day overflow ('2024-01-31' +1 month =
                # 2024-03-02) while Spark's INTERVAL MONTH clamps to the
                # month end.  Reproduce normalization exactly: add the
                # months at the first-of-month (which can never overflow),
                # then re-add the original day/time offset as a day-time
                # interval.  The lambda binds the base once (see docstring).
                base = (
                    f"transform(array({base}), _b -> "
                    f"date_trunc('MONTH', _b) + INTERVAL {n} {unit} "
                    f"+ (_b - date_trunc('MONTH', _b)))[0]"
                )
            else:
                base = f"({base} + INTERVAL {n} {unit})"
        elif m == "start of day":
            base = f"date_trunc('DAY', {base})"
        elif m == "start of month":
            base = f"date_trunc('MONTH', {base})"
        elif m == "start of year":
            base = f"date_trunc('YEAR', {base})"
        elif m == "localtime" or m == "utc":
            pass  # engine runs in UTC; localtime is a deployment concern
    return base


def _decode_literal(text: str) -> str:
    """Spark-spelled single-quoted literal text → value ('' and \\\\ both
    undone; valid after _escape_string_literals has run)."""
    return text[1:-1].replace("''", "'").replace("\\\\", "\\")


def _encode_literal(value: str) -> str:
    """Value → Spark-spelled single-quoted literal text."""
    return "'" + value.replace("\\", "\\\\").replace("'", "''") + "'"


def _like_escape_canon(pat_text: str, esc_text: str) -> str:
    """Re-encode a literal SQLite ``LIKE pattern ESCAPE char`` pair into a
    single Spark pattern literal (the ESCAPE clause is then dropped).

    SQLite's escape char may precede ANY character (taken literally);
    Spark only allows its backslash escape before % _ or itself, so each
    escaped-literal char is emitted bare unless it needs Spark's escape.
    A dangling trailing escape matches nothing in SQLite (probed) and has
    no Spark spelling — rejected loudly.  Inputs/outputs are literal TEXT
    in Spark spelling (backslashes doubled by _escape_string_literals).
    """
    pat_val = _decode_literal(pat_text)
    esc_val = _decode_literal(esc_text)
    if len(esc_val) != 1:
        raise QueryRejected("ESCAPE expression must be a single character")
    parts: list[str] = []
    ci = 0
    while ci < len(pat_val):
        ch = pat_val[ci]
        if ch == esc_val:
            if ci + 1 >= len(pat_val):
                raise QueryRejected(
                    "LIKE pattern ends in a dangling ESCAPE character "
                    "(matches nothing in SQLite; no Spark pattern spells that)"
                )
            lit = pat_val[ci + 1]
            parts.append("\\" + lit if lit in "%_\\" else lit)
            ci += 2
            continue
        parts.append("\\\\" if ch == "\\" else ch)
        ci += 1
    return _encode_literal("".join(parts))


# %[flags][width][.precision]conversion — SQLite printf grammar
# (sqlite3 printf.c; flags set probed: - + space 0 # , !).  '%' as a
# conversion char is the %% escape and consumes no argument.
_PRINTF_CONV = re.compile(
    r"%(?P<flags>[-+ 0#,!]*)(?P<width>\*|\d+)?(?P<prec>\.(?:\*|\d+)?)?(?P<conv>[a-zA-Z%])"
)


def _printf_quote_piece(conv: str, arg: str) -> str:
    """One %q/%Q/%w substitution as a native Spark expression.

    Live-SQLite-probed corners (3.40.x, test_sqlite_differential.py):
    %q/%w render NULL (and a missing argument) as the literal text
    ``(NULL)``; %Q renders the bare word ``NULL``; non-string args are
    stringified first (42 -> '42').  Float spelling divergence (SQLite
    '1e+20' vs Spark '1.0E20') is shared with the existing %s path and
    documented there.
    """
    s = f"CAST({arg} AS STRING)"
    if conv == "q":
        return f"CASE WHEN {arg} IS NULL THEN '(NULL)' ELSE replace({s}, '''', '''''') END"
    if conv == "w":
        return f"CASE WHEN {arg} IS NULL THEN '(NULL)' ELSE replace({s}, '\"', '\"\"') END"
    # %Q: outer quotes added, NULL renders as the bare word NULL
    return (
        f"CASE WHEN {arg} IS NULL THEN 'NULL' "
        f"ELSE concat('''', replace({s}, '''', ''''''), '''') END"
    )


def _fn_printf(args: list[str]) -> str:
    """printf/format → format_string, with SQLite's OWN quoting
    conversions (%q quote-doubling, %Q quoted-or-NULL, %w double-quote
    doubling — no Java equivalent) rewritten to native replace()/CASE
    chains (round 10).  The format is split at each %q/%Q/%w into
    format_string segments concat-ed with the quoting pieces, preserving
    argument order (``*`` width/precision in OTHER conversions consumes
    an extra argument and is accounted for).  Width/precision/flags ON a
    q/Q/w conversion (e.g. %10q, %.2q) stay a loud reject — padding
    interacts with quote-doubling inside SQLite's formatter and has no
    compact native spelling.  %% escapes are tokenized, not regex-scanned,
    so '100%%quality: %d' no longer false-positives (ADVICE r9)."""
    fmt = args[0].strip() if args else ""
    if not (fmt.startswith("'") and fmt.endswith("'")):
        return f"format_string({', '.join(args)})"
    fmt_val = _decode_literal(fmt)
    if not any(
        m.group("conv") in "qQw" for m in _PRINTF_CONV.finditer(fmt_val)
    ):
        return f"format_string({', '.join(args)})"

    pieces: list[str] = []  # concat operands
    seg_start = 0  # start of the current format segment in fmt_val
    seg_args: list[str] = []  # args consumed by the current segment
    arg_i = 1  # next unconsumed printf argument

    def flush(seg_end: int) -> None:
        seg = fmt_val[seg_start:seg_end]
        if not seg:
            return
        if "%" in seg:
            pieces.append(
                f"format_string({', '.join([_encode_literal(seg), *seg_args])})"
            )
        else:
            pieces.append(_encode_literal(seg))

    for m in _PRINTF_CONV.finditer(fmt_val):
        if m.start() < seg_start:
            continue  # overlapped a region already consumed (can't happen: finditer is non-overlapping)
        conv = m.group("conv")
        if conv == "%":
            continue  # %% stays in its segment, consumes nothing
        stars = (m.group("width") == "*") + ((m.group("prec") or "") == ".*")
        if conv in "qQw":
            if m.group("flags").replace("!", "") or m.group("width") or m.group("prec"):
                raise QueryRejected(
                    "printf %q/%Q/%w with flags/width/precision is not supported "
                    "(bare %q/%Q/%w are; SQLite pads after quote-doubling, "
                    "which has no native Spark spelling)"
                )
            flush(m.start())
            # missing argument: SQLite substitutes NULL (probed)
            arg = args[arg_i] if arg_i < len(args) else "NULL"
            arg_i += 1
            pieces.append(_printf_quote_piece(conv, arg))
            seg_start = m.end()
            seg_args = []
        else:
            take = 1 + stars
            seg_args.extend(args[arg_i : arg_i + take])
            arg_i += take
    flush(len(fmt_val))
    if not pieces:
        return "''"
    if len(pieces) == 1:
        return pieces[0]
    return f"concat({', '.join(pieces)})"


def _fn_json_extract(args: list[str]) -> str | None:
    """json_extract(doc, path) → get_json_object with the path TRANSLATED
    to Spark's grammar when it's a literal (round 10): SQLite's quoted
    segments ``$."a b"`` become bracket form, matching the json_each path
    handling — previously quoted paths passed through verbatim and Spark
    silently returned NULL.  Non-literal paths pass through (documented
    grammar divergence); multi-path json_extract (array result) is not
    supported and keeps Spark's loud arity error."""
    if len(args) != 2:
        return None
    p = args[1].strip()
    pm = re.match(r"^'((?:[^']|'')*)'$", p)
    if pm:
        return f"get_json_object({args[0]}, '{_sqlite_path_to_spark(pm.group(1))}')"
    return f"get_json_object({args[0]}, {args[1]})"


def _fn_glob(args: list[str]) -> str:
    # SQLite glob(pattern, item) returns 0/1, not a boolean; translate
    # literal patterns to regex (decoding the Spark respelling first —
    # _escape_string_literals already doubled literal backslashes)
    pat = args[0].strip()
    if pat.startswith("'") and pat.endswith("'"):
        rx = glob_to_regex(_decode_literal(pat)).replace("'", "''").replace("\\", "\\\\")
        return f"CAST({args[1]} RLIKE '{rx}' AS INT)"
    # non-literal pattern (round 10): row-time glob-to-regex via the
    # registered TROUGH_GLOB_REGEX UDF (functions.py), same fallback as the
    # infix form; 0/1/NULL result shape preserved by the CAST
    return f"CAST({args[1]} RLIKE TROUGH_GLOB_REGEX({args[0]}) AS INT)"


def _fn_like(args: list[str]) -> str | None:
    # SQLite like(PATTERN, ITEM [, ESCAPE]) — note the reversed operand
    # order vs the infix form, the 0/1 integer result, and the default
    # ASCII case folding (PRAGMA case_sensitive_like turns it off).
    # Literal patterns get the same value-level treatment as the infix
    # form (round 9): no-ESCAPE patterns re-double backslashes (SQLite
    # LIKE has no escape char, Spark's defaults to backslash); a literal
    # ESCAPE pair is re-encoded to Spark's narrower escape grammar and
    # the clause dropped.  Non-literal patterns pass through with Spark's
    # escape reading (documented divergence, same as infix).
    if len(args) not in (2, 3):
        return None
    op = "LIKE" if case_sensitive_like else "ILIKE"
    pat = args[0].strip()
    is_lit = pat.startswith("'") and pat.endswith("'")
    if len(args) == 3:
        esc = args[2].strip()
        if is_lit and esc.startswith("'") and esc.endswith("'"):
            return f"CAST(({args[1]} {op} {_like_escape_canon(pat, esc)}) AS INT)"
        return f"CAST(({args[1]} {op} {args[0]} ESCAPE {args[2]}) AS INT)"
    if is_lit and "\\" in pat:
        pat = pat.replace("\\\\", "\\\\\\\\")
    return f"CAST(({args[1]} {op} {pat}) AS INT)"


def _fn_cast(args: list[str]) -> str | None:
    """SQLite CAST semantics for numeric targets: a TEXT value converts by
    taking the longest numeric PREFIX (``'12abc'`` → 12, no prefix → 0),
    never by erroring — while Spark's ANSI cast throws.  The expression
    arrives as one argument ``<expr> AS <sparktype>`` (types already mapped
    by _rewrite_cast_types); only BIGINT/DOUBLE targets are rewritten, the
    rest keep Spark-native casts."""
    if len(args) != 1:
        return None
    arg = args[0]
    low = arg.lower()
    depth = 0
    pos = -1
    i = 0
    while i < len(arg):
        c = arg[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "'":
            j = i + 1
            while j < len(arg):
                if arg[j] == "'":
                    if j + 1 < len(arg) and arg[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j
        elif depth == 0 and low.startswith(" as ", i):
            pos = i
        i += 1
    if pos < 0:
        return None
    expr = arg[:pos].strip()
    typ = arg[pos + 4 :].strip().upper()
    if typ == "BIGINT":
        return (
            f"(CASE WHEN ({expr}) IS NULL THEN CAST(NULL AS BIGINT) "
            f"ELSE CAST(coalesce(nullif(regexp_extract(trim(CAST(({expr}) AS STRING)), "
            f"'^[+-]?[0-9]+', 0), ''), '0') AS BIGINT) END)"
        )
    if typ == "DOUBLE":
        return (
            f"(CASE WHEN ({expr}) IS NULL THEN CAST(NULL AS DOUBLE) "
            f"ELSE CAST(coalesce(nullif(regexp_extract(trim(CAST(({expr}) AS STRING)), "
            f"'^[+-]?([0-9]+(\\\\.[0-9]*)?|\\\\.[0-9]+)([eE][+-]?[0-9]+)?', 0), ''), '0') "
            f"AS DOUBLE) END)"
        )
    return None


_BOOL_SHAPE_WORDS = {"IS", "IN", "LIKE", "GLOB", "REGEXP", "BETWEEN", "EXISTS", "NOT", "AND", "OR"}


def _passthrough_hint(arg: str) -> str:
    """likely()/unlikely()/likelihood() are planner hints that return their
    argument unchanged — but in SQLite a comparison argument is already an
    INTEGER 0/1, while the stripped Spark expression would stay BOOLEAN.
    Cast to INT when the argument's top level is boolean-shaped; pass
    non-boolean arguments (e.g. likelihood(price, 0.5)) through untouched."""
    # strip redundant outermost parentheses first — likely((a = b)) must
    # still see the comparison at depth 0 (quote-aware: parens inside string
    # literals don't count)
    stripped = arg.strip()
    while stripped.startswith("(") and stripped.endswith(")"):
        depth = 0
        whole = True
        quote = None
        for i, ch in enumerate(stripped):
            if quote is not None:
                if ch == quote:
                    quote = None  # '' escapes re-enter quote on next quote char
                continue
            if ch in ("'", '"'):
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(stripped) - 1:
                    whole = False
                    break
        if not whole or quote is not None:
            break
        stripped = stripped[1:-1].strip()
    arg = stripped
    depth = 0
    boolish = False
    toks = tokenize(arg)
    for t in (toks[i] for i in _significant(toks)):
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif depth == 0:
            if t.kind == "op" and t.text in {"=", "==", "<", ">", "<=", ">=", "!=", "<>"}:
                boolish = True
            elif t.kind == "word" and t.text.upper() in _BOOL_SHAPE_WORDS:
                boolish = True
    return f"CAST(({arg}) AS INT)" if boolish else f"({arg})"


def _null_strict_extreme(fn: str, args: list[str]) -> str:
    """SQLite multi-arg min/max are NULL-strict (any NULL argument → NULL),
    Spark's least/greatest skip NULLs — guard explicitly.

    Each argument is bound ONCE into a named_struct and both the NULL guard
    and least/greatest read the struct fields (round 6, ADVICE r4 item 3
    lifted): a non-deterministic argument (min(a, random())) draws exactly
    once, matching SQLite's single evaluation."""
    fields = ", ".join(f"'c{i}', {a}" for i, a in enumerate(args))
    refs = [f"_s.c{i}" for i in range(len(args))]
    guard = " OR ".join(f"{r} IS NULL" for r in refs)
    return (
        f"transform(array(named_struct({fields})), _s -> "
        f"CASE WHEN {guard} THEN NULL ELSE {fn}({', '.join(refs)}) END)[0]"
    )


_FN_REWRITES: dict[str, object] = {
    **SQL_EXPANSIONS,
    # count(x) = 0 guard: SQLite group_concat over zero non-NULL values is
    # NULL, concat_ws alone would say '' (probed; '' is reachable only via
    # genuinely-empty-string inputs, so nullif would be wrong).  count
    # composes with a leading DISTINCT in a[0] unchanged.
    "group_concat": lambda a: (
        f"CASE WHEN count({a[0]}) = 0 THEN NULL ELSE concat_ws("
        f"{a[1] if len(a) > 1 else chr(39) + ',' + chr(39)}, "
        f"collect_list({a[0]})) END"
    ),
    "total": lambda a: f"coalesce(sum(CAST({a[0]} AS DOUBLE)), 0.0d)",
    "printf": lambda a: _fn_printf(a),
    "format": lambda a: _fn_printf(a),  # SQLite 3.38 alias
    # JSON family: Spark's get_json_object both validates and canonicalizes
    # (minified Jackson output == SQLite's json() canonical form).  KNOWN
    # DIVERGENCE (dynamic typing): extracted scalars come back as TEXT and
    # json_array coerces mixed-type elements to a common Spark type.
    "json": lambda a: f"get_json_object({a[0]}, '$')",
    "json_valid": lambda a: (
        # coalesce: NULL input is 0 (this sqlite3 lineage), not NULL
        f"CAST(coalesce(get_json_object({a[0]}, '$') IS NOT NULL "
        f"OR trim({a[0]}) = 'null', false) AS INT)"
    ),
    "json_type": lambda a: (
        f"(CASE WHEN trim({a[0]}) = 'null' THEN 'null' "
        f"WHEN get_json_object({a[0]}, '$') IS NULL THEN NULL "
        f"WHEN left(ltrim({a[0]}), 1) = '{{' THEN 'object' "
        f"WHEN left(ltrim({a[0]}), 1) = '[' THEN 'array' "
        f"WHEN left(ltrim({a[0]}), 1) = '\"' THEN 'text' "
        f"WHEN trim({a[0]}) = 'true' THEN 'true' "
        f"WHEN trim({a[0]}) = 'false' THEN 'false' "
        f"WHEN trim({a[0]}) RLIKE '^-?[0-9]+$' THEN 'integer' "
        "ELSE 'real' END)"
    ),
    "json_object": lambda a: f"to_json(named_struct({', '.join(a)}))",
    "json_array": lambda a: f"to_json(array({', '.join(a)}))",
    # SQLite quote(): NULL -> the string 'NULL', numbers render bare
    # (booleans as their 0/1 integer storage), blobs as X'..' hex literals,
    # text single-quoted with '' doubling (probed).  The arg binds once via
    # the named_struct lambda.  KNOWN DIVERGENCE: reals outside
    # [1e-4, 1e7) render in Spark's scientific notation ('1.0E7') where
    # SQLite's %!.15g prints '10000000.0'.
    "quote": lambda a: (
        f"transform(array(named_struct('v', {a[0]})), _q -> CASE "
        "WHEN _q.v IS NULL THEN 'NULL' "
        "WHEN typeof(_q.v) = 'boolean' THEN CAST(CAST(_q.v AS INT) AS STRING) "
        "WHEN typeof(_q.v) IN ('tinyint', 'smallint', 'int', 'bigint', "
        "'float', 'double') OR typeof(_q.v) LIKE 'decimal%' "
        "THEN CAST(_q.v AS STRING) "
        "WHEN typeof(_q.v) = 'binary' THEN concat('X\\'', upper(hex(_q.v)), '\\'') "
        "ELSE concat('\\'', replace(CAST(_q.v AS STRING), '\\'', '\\'\\''), '\\'') "
        "END)[0]"
    ),
    "zeroblob": lambda a: f"unhex(repeat('00', {a[0]}))",
    "char": lambda a: "concat(" + ", ".join(f"chr({x})" for x in a) + ")",
    "unicode": lambda a: f"ascii({a[0]})",
    "random": lambda a: "CAST((rand() - 0.5) * 18446744073709551616 AS BIGINT)",
    "randomblob": lambda a: f"unhex(repeat('00', {a[0]}))",  # deterministic stub, documented
    # substr quirk: position 0 addresses the nonexistent character just
    # before the string, so substr(x, 0, L) yields only L-1 characters;
    # Spark treats 0 as 1 and would yield L.  Rewrite the literal-0 form
    # (the only statically decidable case; 2-arg substr(x, 0) agrees
    # already — both engines return the whole string).
    "substr": lambda a: (
        f"substring({a[0]}, 1, ({a[2]}) - 1)"
        if len(a) == 3 and a[1].strip() == "0"
        else None
    ),
    "substring": lambda a: (
        f"substring({a[0]}, 1, ({a[2]}) - 1)"
        if len(a) == 3 and a[1].strip() == "0"
        else None
    ),
    # SQLite 3.38-3.44 additions (this container's sqlite3 is 3.40, so the
    # differential harness can't execute all of them — translation-level
    # tests in test_dialect.py pin the mappings):
    # concat skips NULLs (returns '' when all args are NULL) — concat_ws('')
    # has exactly those semantics; Spark's own concat would return NULL.
    "concat": lambda a: f"concat_ws('', {', '.join(a)})",
    # string_agg(x, sep) is the 3.44 alias for 2-arg group_concat (same
    # NULL-over-zero-non-NULL-values guard as group_concat above)
    "string_agg": lambda a: (
        f"CASE WHEN count({a[0]}) = 0 THEN NULL "
        f"ELSE concat_ws({a[1]}, collect_list({a[0]})) END"
    ),
    "unixepoch": lambda a: (
        "unix_seconds(current_timestamp())"
        if not a or (len(a) == 1 and a[0].strip().lower() == "'now'")
        else f"unix_seconds({_fn_datetime(a)})"
    ),
    "likelihood": lambda a: _passthrough_hint(a[0]),
    "likely": lambda a: _passthrough_hint(a[0]),
    "unlikely": lambda a: _passthrough_hint(a[0]),
    # scalar min/max return NULL when ANY argument is NULL (SQLite), while
    # Spark's least/greatest skip NULLs — guard explicitly
    "min": lambda a: _null_strict_extreme("least", a) if len(a) > 1 else None,
    "max": lambda a: _null_strict_extreme("greatest", a) if len(a) > 1 else None,
    "trim": lambda a: f"trim(BOTH {a[1]} FROM {a[0]})" if len(a) > 1 else None,
    "ltrim": lambda a: f"trim(LEADING {a[1]} FROM {a[0]})" if len(a) > 1 else None,
    "rtrim": lambda a: f"trim(TRAILING {a[1]} FROM {a[0]})" if len(a) > 1 else None,
    "julianday": lambda a: (
        f"(unix_micros(CAST({a[0]} AS TIMESTAMP)) / 86400000000.0d + 2440587.5d)"
    ),
    # date/time accept the same modifier tail datetime does ('+N day',
    # 'start of month', ...) — delegate, then project down
    "date": lambda a: (
        "current_date()"
        if not a or (len(a) == 1 and a[0].strip().lower() == "'now'")
        else f"to_date({_fn_datetime(a)})"
    ),
    "time": lambda a: (
        "date_format(current_timestamp(), 'HH:mm:ss')"
        if not a or (len(a) == 1 and a[0].strip().lower() == "'now'")
        else f"date_format({_fn_datetime(a)}, 'HH:mm:ss')"
    ),
    "datetime": _fn_datetime,
    "strftime": _fn_strftime,
    "ifnull": lambda a: f"coalesce({', '.join(a)})",
    # SQLite math (3.35+): log(X) is BASE-10 (Spark's log is natural!);
    # log(B, X) is explicit-base in both
    "log": lambda a: f"log10({a[0]})" if len(a) == 1 else f"log({a[0]}, {a[1]})",
    # numeric trunc-toward-zero (Spark's trunc is date-only)
    "trunc": lambda a: (
        f"CAST(CAST({a[0]} AS BIGINT) AS DOUBLE)" if len(a) == 1 else None
    ),
    # SQLite math mod() always returns REAL (C fmod — mod(7,3) is 1.0,
    # probed); Spark's % keeps the integer type.  Same trunc-toward-zero
    # sign behavior in both, so only the type needs forcing.
    "mod": lambda a: f"CAST(({a[0]}) % ({a[1]}) AS DOUBLE)",
    "json_extract": lambda a: _fn_json_extract(a),
    # SQLite 3.32+: iif(cond, a, b) — Spark spells it if()
    "iif": lambda a: f"if({', '.join(a)})",
    "json_array_length": lambda a: f"size(from_json({a[0]}, 'array<string>'))",
    "glob": _fn_glob,
    "like": _fn_like,
    "cast": _fn_cast,
    "typeof": lambda a: (
        f"(CASE WHEN typeof({a[0]}) IN ('tinyint', 'smallint', 'int', 'bigint') "
        "THEN 'integer' "
        f"WHEN typeof({a[0]}) IN ('float', 'double') "
        f"OR typeof({a[0]}) LIKE 'decimal%' THEN 'real' "
        f"WHEN typeof({a[0]}) = 'string' THEN 'text' "
        f"WHEN typeof({a[0]}) = 'binary' THEN 'blob' "
        f"WHEN typeof({a[0]}) = 'void' THEN 'null' ELSE typeof({a[0]}) END)"
    ),
}


def _find_call_args(tokens: list[Token], open_idx: int) -> tuple[list[list[Token]], int]:
    """Given index of '(' token, return top-level comma-separated arg token
    lists and the index of the matching ')'."""
    depth = 0
    args: list[list[Token]] = []
    cur: list[Token] = []
    i = open_idx
    while i < len(tokens):
        t = tokens[i]
        if t.kind == "op" and t.text == "(":
            depth += 1
            if depth > 1:
                cur.append(t)
        elif t.kind == "op" and t.text == ")":
            depth -= 1
            if depth == 0:
                if cur or args:
                    args.append(cur)
                return args, i
            cur.append(t)
        elif t.kind == "op" and t.text == "," and depth == 1:
            args.append(cur)
            cur = []
        else:
            cur.append(t)
        i += 1
    raise QueryRejected("unbalanced parentheses in SQL")


def _rewrite_functions(sql: str) -> str:
    """Innermost-first rewrite of registered function calls in ONE recursive
    pass: each call's arguments are rewritten before the call itself, a
    rewriter returning None keeps the (argument-rewritten) call text as-is,
    and replacement text is emitted verbatim — never re-scanned.  So
    identity or None results can neither block enclosing rewrites (e.g.
    group_concat(substr(x,1,1))) nor prevent termination, and templates
    whose output mentions a registered name (typeof) expand exactly once."""
    return _rewrite_call_tokens(tokenize(sql))


def _rewrite_call_tokens(tokens: list[Token]) -> str:
    out: list[str] = []
    i = 0
    n = len(tokens)
    while i < n:
        t = tokens[i]
        if t.kind == "word" and t.text.lower() in _FN_REWRITES:
            j = i + 1
            while j < n and tokens[j].kind in ("space", "comment"):
                j += 1
            if j < n and tokens[j].kind == "op" and tokens[j].text == "(":
                args_tokens, close_idx = _find_call_args(tokens, j)
                arg_strs = [_rewrite_call_tokens(a).strip() for a in args_tokens]
                rewriter = _FN_REWRITES[t.text.lower()]
                replacement = rewriter(arg_strs)  # type: ignore[operator]
                if replacement is None:
                    replacement = f"{t.text}({', '.join(arg_strs)})"
                out.append(replacement)
                i = close_idx + 1
                continue
        out.append(t.text)
        i += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# operator-level rewrites (LIKE, GLOB, REGEXP, double quotes)
# ---------------------------------------------------------------------------


_CAST_TYPE_MAP = {
    "TEXT": "STRING",
    "CHAR": "STRING",
    "VARCHAR": "STRING",
    "CLOB": "STRING",
    "REAL": "DOUBLE",
    "FLOA": "DOUBLE",
    "NUMERIC": "DOUBLE",
    "INTEGER": "BIGINT",
    "INT": "BIGINT",
    "BLOB": "BINARY",
    "DATETIME": "TIMESTAMP",
}


def _rewrite_cast_types(tokens: list[Token]) -> None:
    """CAST(x AS TEXT/INTEGER/REAL/BLOB/...) — SQLite type names mapped to
    Spark types (same affinity table as the DDL parser).  In-place."""
    sig = _significant(tokens)
    for n, i in enumerate(sig):
        t = tokens[i]
        if t.kind == "word" and t.text.upper() == "AS" and n + 1 < len(sig):
            nxt = tokens[sig[n + 1]]
            if nxt.kind == "word":
                mapped = _CAST_TYPE_MAP.get(nxt.text.upper())
                # only rewrite in a CAST context: previous tokens contain an
                # unclosed CAST( — approximate by checking the nearest
                # significant word before the expression start
                if mapped and _in_cast_context(tokens, sig, n):
                    nxt.text = mapped


def _in_cast_context(tokens: list[Token], sig: list[int], as_pos: int) -> bool:
    depth = 0
    for n in range(as_pos - 1, -1, -1):
        t = tokens[sig[n]]
        if t.kind == "op" and t.text == ")":
            depth += 1
        elif t.kind == "op" and t.text == "(":
            if depth == 0:
                # the word before this '(' must be CAST
                return n > 0 and tokens[sig[n - 1]].kind == "word" and tokens[
                    sig[n - 1]
                ].text.upper() == "CAST"
            depth -= 1
    return False


def _rewrite_negative_limit(tokens: list[Token]) -> None:
    """SQLite treats any negative LIMIT as "no limit" (`LIMIT -1` is the
    idiomatic spelling); Spark rejects negative limits outright.  Rewrite
    the count to Int.MaxValue — effectively unlimited, and a following
    OFFSET keeps working.  In-place."""
    sig = _significant(tokens)
    for n, i in enumerate(sig):
        t = tokens[i]
        if t.kind == "word" and t.text.upper() == "LIMIT" and n + 2 < len(sig):
            minus, num = tokens[sig[n + 1]], tokens[sig[n + 2]]
            if minus.kind == "op" and minus.text == "-" and num.kind == "number":
                minus.text = ""
                minus.kind = "comment"
                num.text = "2147483647"


def _rewrite_limit_comma(tokens: list[Token]) -> None:
    """SQLite ``LIMIT a, b`` means OFFSET a LIMIT b; Spark rejects the
    comma form.  Swap to ``LIMIT b OFFSET a`` in place.  Handled shape:
    each operand an optionally-signed number — the only comma-form SQLite
    scripts use (expression operands keep the loud Spark parse error)."""

    def _operand(start: int, sig: list[int]) -> tuple[str, list[int], int] | None:
        """(text, sig-indices, next-sig-pos) of a signed-number operand."""
        toks = []
        pos = start
        if pos < len(sig) and tokens[sig[pos]].kind == "op" and tokens[sig[pos]].text in ("-", "+"):
            toks.append(pos)
            pos += 1
        if pos < len(sig) and tokens[sig[pos]].kind == "number":
            toks.append(pos)
            return (
                "".join(tokens[sig[p]].text for p in toks),
                toks,
                pos + 1,
            )
        return None

    sig = _significant(tokens)
    for n, i in enumerate(sig):
        t = tokens[i]
        if t.kind != "word" or t.text.upper() != "LIMIT":
            continue
        first = _operand(n + 1, sig)
        if first is None:
            continue
        text1, idx1, after1 = first
        if after1 >= len(sig):
            continue
        comma = tokens[sig[after1]]
        if not (comma.kind == "op" and comma.text == ","):
            continue
        second = _operand(after1 + 1, sig)
        if second is None:
            continue
        text2, idx2, _ = second
        if text2.lstrip("+").startswith("-"):
            text2 = "2147483647"  # SQLite: negative LIMIT = unlimited
        if text1.lstrip("+").startswith("-"):
            text1 = "0"  # SQLite: negative OFFSET = none
        # LIMIT <text1>, <text2>  ->  LIMIT <text2> OFFSET <text1>
        tokens[sig[idx1[0]]].kind = "word"
        tokens[sig[idx1[0]]].text = text2
        for p in idx1[1:]:
            tokens[sig[p]].kind, tokens[sig[p]].text = "comment", ""
        comma.kind, comma.text = "word", " OFFSET "
        tokens[sig[idx2[0]]].kind = "word"
        tokens[sig[idx2[0]]].text = text1
        for p in idx2[1:]:
            tokens[sig[p]].kind, tokens[sig[p]].text = "comment", ""


_AGG_WORDS = {"COUNT", "SUM", "AVG", "TOTAL", "GROUP_CONCAT", "STRING_AGG", "MIN", "MAX"}
_SELECT_END_WORDS = {"UNION", "INTERSECT", "EXCEPT"}
_GROUPBY_END_WORDS = {"HAVING", "ORDER", "LIMIT", "WINDOW", "OFFSET"}


def _rewrite_bare_extreme_columns(sql: str) -> str:
    """SQLite's bare-column quirk (SURVEY §2.B6): with EXACTLY ONE min()/
    max() aggregate in a select list, bare columns take their values from
    the row that produced the extreme (per group under GROUP BY) — probed
    live.  Spark rejects ungrouped bare columns, so rewrite them to
    ``max_by(col, arg) AS col`` / ``min_by``.

    Conservatively scoped: only BARE identifier items are rewritten (an
    expression over a bare column keeps Spark's loud MISSING_GROUP_BY
    error), and two extremes stay loud.  Non-extreme aggregates (COUNT/
    SUM/...) coexisting with the single min()/max() do NOT block: the
    SQLite docs only define the quirk for a lone min()/max(), but live
    SQLite (pinned by test_sqlite_differential's "max(price), name,
    count(*)" case) still sources bare columns from the extreme row in
    that mix, and the live probe wins over the doc's narrower wording."""
    tokens = tokenize(sql)
    sig = _significant(tokens)

    def word(n):
        if n >= len(sig):
            return None
        t = tokens[sig[n]]
        return t.text.upper() if t.kind == "word" else None

    changed = False
    n = 0
    while n < len(sig):
        if word(n) != "SELECT":
            n += 1
            continue
        sel = n
        # span of the select list: up to FROM at depth 0 relative to here
        depth = 0
        items: list[list[int]] = [[]]  # sig-indices per top-level item
        m = sel + 1
        if word(m) in ("DISTINCT", "ALL"):
            if word(m) == "DISTINCT":
                n += 1
                continue  # DISTINCT + bare columns: leave loud
            m += 1
        list_start = m
        while m < len(sig):
            t = tokens[sig[m]]
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                if depth == 0:
                    break  # subquery closing: select list ran to the end
                depth -= 1
            elif depth == 0 and t.kind == "word" and t.text.upper() == "FROM":
                break
            elif depth == 0 and t.kind == "op" and t.text == ",":
                items.append([])
                m += 1
                continue
            items[-1].append(m)
            m += 1
        from_pos = m
        # classify items
        extremes = []  # (item_idx, fn, arg_text)
        bares = []  # (item_idx, col_token_sigpos, alias or None)
        blockers = False
        for idx, it in enumerate(items):
            if not it:
                blockers = True
                continue
            t0 = tokens[sig[it[0]]]
            u0 = t0.text.upper() if t0.kind == "word" else None
            # min/max single-call item: MIN|MAX ( args ) [AS alias]
            if (
                u0 in ("MIN", "MAX")
                and len(it) >= 3
                and tokens[sig[it[1]]].kind == "op"
                and tokens[sig[it[1]]].text == "("
            ):
                d2, close = 0, None
                for k in range(1, len(it)):
                    tk = tokens[sig[it[k]]]
                    if tk.kind == "op" and tk.text == "(":
                        d2 += 1
                    elif tk.kind == "op" and tk.text == ")":
                        d2 -= 1
                        if d2 == 0:
                            close = k
                            break
                if close is None:
                    blockers = True
                    continue
                tail = it[close + 1 :]
                if tail and word(tail[0]) == "OVER":
                    continue  # window function, not an aggregate
                if tail and not (
                    word(tail[0]) == "AS" and len(tail) == 2 or len(tail) == 1
                ):
                    blockers = True
                    continue
                arg_toks = [tokens[sig[p]] for p in it[2:close]]
                # 2-arg min/max is SQLite's SCALAR form, not an aggregate
                # (a top-level comma in the args) — skip it entirely
                d3 = 0
                scalar_form = False
                for tk in arg_toks:
                    if tk.kind == "op" and tk.text == "(":
                        d3 += 1
                    elif tk.kind == "op" and tk.text == ")":
                        d3 -= 1
                    elif tk.kind == "op" and tk.text == "," and d3 == 0:
                        scalar_form = True
                        break
                if scalar_form:
                    continue
                # join with spaces: these are significant-only tokens, so a
                # plain concat would fuse adjacent words (CASE WHEN -> CASEWHEN)
                arg = " ".join(tk.text for tk in arg_toks).strip()
                if not arg or arg.upper().startswith("DISTINCT"):
                    blockers = True
                    continue
                extremes.append((idx, u0, arg))
                continue
            # other aggregate call (COUNT/SUM/AVG/...): NOT a blocker.  The
            # SQLite docs describe the quirk only for a single min()/max()
            # aggregate, but live SQLite (probed by the differential suite's
            # "max(price), name, count(*)" case) still takes bare columns
            # from the extreme row when non-extreme aggregates coexist —
            # the live probe is this engine's authority, so the rewrite
            # follows it beyond the documented scope.
            if (
                u0 in _AGG_WORDS
                and len(it) >= 2
                and tokens[sig[it[1]]].kind == "op"
                and tokens[sig[it[1]]].text == "("
            ):
                continue
            # bare identifier [AS alias]
            is_ident = t0.kind in ("dquote", "bracket", "bquote") or (
                t0.kind == "word" and u0 not in _EXPR_LEAD_KEYWORDS and u0 != "*"
            )
            if t0.kind == "op" and t0.text == "*":
                blockers = True
                continue
            if is_ident and len(it) == 1:
                bares.append((idx, sig[it[0]], None))
            elif (
                is_ident
                and len(it) == 3
                and word(it[1]) == "AS"
            ):
                bares.append((idx, sig[it[0]], sig[it[2]]))
            elif is_ident and len(it) == 2:
                bares.append((idx, sig[it[0]], sig[it[1]]))
            else:
                blockers = True  # an expression item: leave the query loud
        if len(extremes) != 1 or not bares or blockers:
            n = from_pos if from_pos > n else n + 1
            continue
        # GROUP BY columns of this same SELECT (same relative depth)
        group_cols: set[str] = set()
        g = from_pos
        depth = 0
        while g < len(sig):
            t = tokens[sig[g]]
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and t.kind == "word":
                u = t.text.upper()
                if u in _SELECT_END_WORDS:
                    break
                if u == "GROUP" and word(g + 1) == "BY":
                    h = g + 2
                    while h < len(sig):
                        th = tokens[sig[h]]
                        if th.kind == "word" and th.text.upper() in _GROUPBY_END_WORDS:
                            break
                        if th.kind == "op" and th.text == ")":
                            break
                        if th.kind in ("word", "dquote", "bracket", "bquote") and (
                            th.kind != "word"
                            or th.text.upper() not in _EXPR_LEAD_KEYWORDS
                        ):
                            group_cols.add(_strip_ident(th.text).lower())
                        h += 1
                    break
            g += 1
        _idx, fn, arg = extremes[0]
        by = "max_by" if fn == "MAX" else "min_by"
        rewritten = [
            (colpos, aliaspos)
            for _i, colpos, aliaspos in bares
            if _strip_ident(tokens[colpos].text).lower() not in group_cols
        ]
        # all bare columns ride ONE struct-valued extreme: the identical
        # aggregate expressions deduplicate in Spark's aggregation planning,
        # so under ties every bare column comes from the SAME extreme row
        # (independent max_by calls could mix tied rows into a row that
        # never existed)
        struct_arg = ", ".join(
            f"`{_strip_ident(tokens[cp].text)}`" for cp, _a in rewritten
        )
        for colpos, aliaspos in rewritten:
            ct = tokens[colpos]
            colname = _strip_ident(ct.text)
            out_name = (
                _strip_ident(tokens[aliaspos].text) if aliaspos is not None else colname
            )
            if len(rewritten) == 1:
                ct.text = f"{by}(`{colname}`, {arg}) AS `{out_name}`"
            else:
                ct.text = (
                    f"{by}(struct({struct_arg}), {arg}).`{colname}` AS `{out_name}`"
                )
            ct.kind = "word"
            if aliaspos is not None:
                tokens[aliaspos].kind, tokens[aliaspos].text = "comment", ""
                # blank the AS keyword too (it sits between col and alias)
                for p in range(sig.index(colpos) + 1, sig.index(aliaspos)):
                    tk = tokens[sig[p]]
                    if tk.kind == "word" and tk.text.upper() == "AS":
                        tk.kind, tk.text = "comment", ""
            changed = True
        n = from_pos if from_pos > n else n + 1
    return render(tokens) if changed else sql


def _strip_ident(text: str) -> str:
    if text[:1] in ("\"", "`", "["):
        return text[1:-1].replace('""', '"').replace("``", "`")
    return text


def _strip_index_hints(tokens: list[Token]) -> None:
    """Drop SQLite's ``INDEXED BY <name>`` / ``NOT INDEXED`` table hints in
    place: the engine's index model is CREATE INDEX = no-op (Parquet stats
    + pruning replace indexes, SURVEY §2.B14), so the hints are no-ops too.
    KNOWN DIVERGENCE: index names are not tracked, so ``INDEXED BY
    no_such_index`` is accepted where SQLite raises 'no such index'."""
    clause_words = {
        "WHERE", "GROUP", "ORDER", "LIMIT", "ON", "JOIN", "INNER", "LEFT",
        "RIGHT", "FULL", "CROSS", "UNION", "INTERSECT", "EXCEPT", "AS",
    }

    def _is_table_name(tok) -> bool:
        return (
            tok.kind in ("dquote", "bracket", "bquote")
            or (tok.kind == "word" and tok.text.upper() not in _EXPR_LEAD_KEYWORDS)
        )

    sig = _significant(tokens)
    for n, i in enumerate(sig):
        t = tokens[i]
        if t.kind != "word" or t.text.upper() != "INDEXED":
            continue
        nxt = tokens[sig[n + 1]] if n + 1 < len(sig) else None
        prev = tokens[sig[n - 1]] if n >= 1 else None
        if (
            nxt is not None
            and nxt.kind == "word"
            and nxt.text.upper() == "BY"
            and n + 2 < len(sig)
            and prev is not None
            and _is_table_name(prev)
        ):
            drop = [i, sig[n + 1], sig[n + 2]]
        elif (
            prev is not None
            and prev.kind == "word"
            and prev.text.upper() == "NOT"
            and n >= 2
            and _is_table_name(tokens[sig[n - 2]])
            and (
                nxt is None
                or (nxt.kind == "word" and nxt.text.upper() in clause_words)
                or (nxt.kind == "op" and nxt.text in (",", ")", ";"))
            )
        ):
            # NOT INDEXED in table-hint position only — a column literally
            # named `indexed` (e.g. `WHERE NOT indexed = 1`) is untouched
            drop = [i, sig[n - 1]]
        else:
            continue
        for p in drop:
            tokens[p].kind, tokens[p].text = "comment", " "


#: keywords after which a LIKE/GLOB/REGEXP word starts a NEW expression
#: (so `like(` there is a function call, not the infix operator)
_EXPR_LEAD_KEYWORDS = {
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER", "LIMIT",
    "OFFSET", "AND", "OR", "WHEN", "THEN", "ELSE", "CASE", "ON", "JOIN",
    "IN", "ALL", "DISTINCT", "SET", "VALUES", "AS", "RETURNING",
}


#: words that cannot START an operand inside a GLOB pattern expression —
#: hitting one means the extent scan ran past the pattern (unparseable here;
#: falls back to the loud reject).  CASE is excluded from supported operands
#: to keep the scanner small; NULL/params/identifiers/calls/parens are in.
_EXT_STOP_WORDS = frozenset(
    {
        "AND", "OR", "NOT", "IN", "IS", "BETWEEN", "LIKE", "GLOB", "REGEXP",
        "MATCH", "ESCAPE", "COLLATE", "ISNULL", "NOTNULL", "THEN", "ELSE",
        "END", "WHEN", "CASE", "FROM", "WHERE", "GROUP", "ORDER", "LIMIT",
        "OFFSET", "HAVING", "UNION", "INTERSECT", "EXCEPT", "SELECT", "AS",
        "ON", "JOIN", "USING", "WINDOW",
    }
)
#: operators binding TIGHTER than GLOB (sqlite expr grammar) — they extend
#: the pattern expression; anything else ends it
_EXT_CONNECT = frozenset({"||", "+", "-", "*", "/", "%", "&", "|"})


def _balanced_close(tokens: list[Token], sig: list[int], open_n: int) -> int | None:
    """sig-index of the ')' matching the '(' at sig-index open_n."""
    depth = 0
    for n in range(open_n, len(sig)):
        t = tokens[sig[n]]
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
            if depth == 0:
                return n
    return None


def _pattern_extent(tokens: list[Token], sig: list[int], start_n: int) -> int | None:
    """sig-index of the LAST token of the high-precedence expression that
    starts at sig-index start_n (the RHS pattern of an infix GLOB), or None
    if the shape isn't one the scanner supports.  Supported operands:
    literals, params, NULL, (dotted) identifiers, function calls, and
    parenthesized groups, connected by operators binding tighter than GLOB
    (||, arithmetic, bitwise)."""
    n = start_n
    last: int | None = None
    while True:
        while (
            n < len(sig)
            and tokens[sig[n]].kind == "op"
            and tokens[sig[n]].text in ("+", "-", "~")
        ):
            n += 1  # unary sign
        if n >= len(sig):
            return None
        t = tokens[sig[n]]
        if t.kind in ("string", "number", "param", "bquote", "dquote", "bracket"):
            last = n
            n += 1
        elif t.kind == "word":
            if t.text.upper() in _EXT_STOP_WORDS:
                return None
            last = n
            n += 1
            while (
                n + 1 < len(sig)
                and tokens[sig[n]].kind == "op"
                and tokens[sig[n]].text == "."
                and tokens[sig[n + 1]].kind in ("word", "bquote", "dquote", "bracket")
            ):
                last = n + 1
                n += 2
            if n < len(sig) and tokens[sig[n]].kind == "op" and tokens[sig[n]].text == "(":
                close = _balanced_close(tokens, sig, n)
                if close is None:
                    return None
                last = close
                n = close + 1
        elif t.kind == "op" and t.text == "(":
            close = _balanced_close(tokens, sig, n)
            if close is None:
                return None
            last = close
            n = close + 1
        else:
            return None
        if n < len(sig):
            nt = tokens[sig[n]]
            if nt.kind == "op" and nt.text in _EXT_CONNECT:
                n += 1
                continue
        return last


def _rewrite_operators(sql: str) -> str:
    tokens = tokenize(sql)
    _rewrite_cast_types(tokens)
    _rewrite_limit_comma(tokens)  # before negative-limit: it owns the signs
    _rewrite_negative_limit(tokens)
    _strip_index_hints(tokens)
    out: list[Token] = []
    sig = _significant(tokens)
    sigset = {i: n for n, i in enumerate(sig)}
    # ')' insertions owed by the non-literal-GLOB wrap: token index -> count
    # of closes to emit just before that token (trailing count for extents
    # that run to end-of-statement)
    close_before: dict[int, int] = {}
    trailing_closes = 0
    for i, t in enumerate(tokens):
        if i in close_before:
            out.append(Token("op", ")" * close_before.pop(i)))
        if t.kind == "dquote":
            # SQLite double-quoted identifier → Spark backtick identifier
            inner = t.text[1:-1].replace('""', '"').replace("`", "``")
            out.append(Token("bquote", f"`{inner}`"))
            continue
        if t.kind == "number":
            low = t.text.lower()
            if "x" not in low and ("." in low or "e" in low):
                # SQLite fractional literals are REAL; Spark would parse
                # them as DECIMAL (0.1 + 0.2 = 0.3 exactly — wrong dialect)
                out.append(Token("number", t.text + "d"))
                continue
            n = sigset.get(i)
            if n is not None and n + 2 < len(sig):
                op_tok, rhs = tokens[sig[n + 1]], tokens[sig[n + 2]]
                if (
                    op_tok.kind == "op"
                    and op_tok.text == "/"
                    and rhs.kind == "number"
                    and "." not in rhs.text
                    and "e" not in rhs.text.lower()
                ):
                    # SQLite int/int is INTEGER division (trunc toward 0);
                    # rewrite the literal-literal case, the only one
                    # decidable statically (column typing is dynamic)
                    op_tok.kind = "word"
                    op_tok.text = " div "
            out.append(t)
            continue
        if t.kind == "bracket":
            inner = t.text[1:-1].replace("`", "``")
            out.append(Token("bquote", f"`{inner}`"))
            continue
        if t.kind == "word":
            up = t.text.upper()

            def _is_call(idx: int) -> bool:
                # function-call position (`like(...)` / `glob(...)`): leave
                # the word for _rewrite_functions, which knows SQLite's
                # reversed (pattern, item) argument order and 0/1 result.
                # `x LIKE ('a%')` also puts '(' next, so additionally
                # require that the word does NOT follow an expression end
                # (identifier / literal / closing paren) — that's the infix
                # operator context.
                n = sigset.get(idx)
                if n is None or n + 1 >= len(sig):
                    return False
                nxt = tokens[sig[n + 1]]
                if not (nxt.kind == "op" and nxt.text == "("):
                    return False
                k = n - 1
                while (
                    k >= 0
                    and tokens[sig[k]].kind == "word"
                    and tokens[sig[k]].text.upper() == "NOT"
                ):
                    k -= 1
                if k < 0:
                    return True
                p = tokens[sig[k]]
                if p.kind in ("string", "number", "dquote", "bracket", "bquote"):
                    return False  # expression end -> infix
                if p.kind == "op" and p.text == ")":
                    return False
                if p.kind == "word" and p.text.upper() not in _EXPR_LEAD_KEYWORDS:
                    return False  # a bare identifier -> infix
                return True

            if up == "LIKE" and not _is_call(i):
                # SQLite LIKE has NO default escape character (backslash is
                # an ordinary char unless an explicit ESCAPE clause names
                # one); Spark's LIKE defaults to backslash-escape.  For a
                # LITERAL pattern with no ESCAPE clause, double the
                # backslashes at VALUE level (text level: the literal pass
                # already doubled once for the parser, so 2 chars -> 4) so
                # Spark matches them literally like SQLite does.  KNOWN
                # DIVERGENCE (documented): a NON-literal pattern expression
                # containing backslashes keeps Spark's escape reading.
                n = sigset.get(i)
                if n is not None and n + 1 < len(sig):
                    pat_tok = tokens[sig[n + 1]]
                    nxt_is_escape = (
                        n + 2 < len(sig)
                        and tokens[sig[n + 2]].kind == "word"
                        and tokens[sig[n + 2]].text.upper() == "ESCAPE"
                    )
                    if (
                        pat_tok.kind == "string"
                        and not nxt_is_escape
                        and "\\" in pat_tok.text
                    ):
                        pat_tok.text = pat_tok.text.replace("\\\\", "\\\\\\\\")
                    elif pat_tok.kind == "string" and nxt_is_escape:
                        # SQLite's ESCAPE char may precede ANY character
                        # (the char is taken literally); Spark only allows
                        # its escape before % _ or the escape itself.  For
                        # the literal-pattern + literal-escape form (the
                        # only statically decidable one), re-encode the
                        # pattern into Spark's canonical backslash-escape
                        # spelling and DROP the ESCAPE clause.  A pattern
                        # ending in a dangling escape matches nothing in
                        # SQLite (probed) and no Spark pattern spells
                        # "never matches" — rejected loudly.  Non-literal
                        # pattern/escape expressions pass through with
                        # Spark's narrower escape rule (documented).
                        esc_tok = (
                            tokens[sig[n + 3]] if n + 3 < len(sig) else None
                        )
                        if (
                            esc_tok is not None
                            and esc_tok.kind == "string"
                            and len(_decode_literal(esc_tok.text)) == 1
                        ):
                            pat_tok.text = _like_escape_canon(
                                pat_tok.text, esc_tok.text
                            )
                            # swallow the ESCAPE clause
                            tokens[sig[n + 2]].kind = "space"
                            tokens[sig[n + 2]].text = " "
                            esc_tok.kind = "space"
                            esc_tok.text = " "
                out.append(Token("word", "LIKE" if case_sensitive_like else "ILIKE"))
                continue
            if up == "REGEXP" and not _is_call(i):
                out.append(Token("word", "RLIKE"))
                continue
            if up == "GLOB" and not _is_call(i):
                # x GLOB 'pat' → x RLIKE '<regex>' when pattern is a literal
                n = sigset.get(i)
                if n is not None and n + 1 < len(sig):
                    pat_tok = tokens[sig[n + 1]]
                    if pat_tok.kind == "string":
                        # _escape_string_literals already respelled the
                        # literal for Spark (backslashes doubled); decode
                        # both that and the '' quote doubling to recover
                        # the SQLite pattern VALUE before compiling it.
                        pat = (
                            pat_tok.text[1:-1]
                            .replace("''", "'")
                            .replace("\\\\", "\\")
                        )
                        regex = glob_to_regex(pat).replace("'", "''").replace("\\", "\\\\")
                        pat_tok.kind = "string"
                        pat_tok.text = f"'{regex}'"
                        out.append(Token("word", "RLIKE"))
                        continue
                # NON-literal pattern (round 10): compile the glob to a
                # regex AT ROW TIME via the registered TROUGH_GLOB_REGEX
                # UDF (functions.py), keeping RLIKE's native evaluation:
                #   x GLOB expr  ->  x RLIKE TROUGH_GLOB_REGEX(expr)
                # NULL threading matches SQLite (NULL pattern -> NULL UDF
                # result -> NULL RLIKE).  Literal patterns above never
                # touch this path, so they stay fully codegen'd.  Shapes
                # the extent scanner can't parse keep the loud reject.
                if n is not None and n + 1 < len(sig):
                    end_n = _pattern_extent(tokens, sig, n + 1)
                    if end_n is not None:
                        out.append(Token("word", "RLIKE TROUGH_GLOB_REGEX("))
                        nxt = end_n + 1
                        if nxt < len(sig):
                            close_before[sig[nxt]] = close_before.get(sig[nxt], 0) + 1
                        else:
                            trailing_closes += 1
                        continue
                raise QueryRejected(
                    "GLOB with this non-literal pattern shape is not "
                    "supported (the row-time glob fallback handles "
                    "literal/identifier/call/paren pattern expressions)"
                )
            if up == "COLLATE":
                # SQLite collation names → Spark 4 collations.  KNOWN
                # DIVERGENCE: NOCASE folds ASCII only in SQLite, full
                # Unicode in UTF8_LCASE (same class as the ILIKE note).
                # RTRIM (trailing-space-insensitive) has no Spark twin and
                # maps to binary.
                n = sigset.get(i)
                if n is not None and n + 1 < len(sig):
                    name_tok = tokens[sig[n + 1]]
                    mapped = {
                        "NOCASE": "UTF8_LCASE",
                        "BINARY": "UTF8_BINARY",
                        "RTRIM": "UTF8_BINARY",
                    }.get(name_tok.text.upper())
                    if mapped:
                        name_tok.text = mapped
                out.append(t)
                continue
            if up == "IS":
                # SQLite `a IS b` / `a IS NOT b` with a non-NULL operand is
                # null-safe (in)equality → Spark's IS [NOT] DISTINCT FROM.
                # IS [NOT] NULL passes through; IS TRUE/FALSE is SQLite's
                # truth test (2 IS TRUE = 1) with no Spark twin — left
                # untranslated so it fails loudly rather than silently
                # meaning `= true`.
                n = sigset.get(i)
                if n is not None and n + 1 < len(sig):
                    nxt = tokens[sig[n + 1]]
                    nxt_up = nxt.text.upper() if nxt.kind == "word" else ""
                    if nxt_up == "NOT" and n + 2 < len(sig):
                        after = tokens[sig[n + 2]]
                        after_up = after.text.upper() if after.kind == "word" else ""
                        if after_up not in ("NULL", "TRUE", "FALSE", "DISTINCT"):
                            nxt.kind = "comment"
                            nxt.text = "/*not*/"
                            out.append(Token("word", "IS DISTINCT FROM"))
                            continue
                    elif nxt_up not in ("NULL", "NOT", "TRUE", "FALSE", "DISTINCT"):
                        out.append(Token("word", "IS NOT DISTINCT FROM"))
                        continue
                out.append(t)
                continue
            if up == "ISNULL":
                out.append(Token("word", "IS NULL"))
                continue
            if up == "NOTNULL":
                out.append(Token("word", "IS NOT NULL"))
                continue
            if up == "AUTOINCREMENT":
                out.append(Token("comment", "/*autoincrement*/"))
                continue
        out.append(t)
    if trailing_closes:
        out.append(Token("op", ")" * trailing_closes))
    return render(out)


_JSON_EACH_STOP = {
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION", "INTERSECT",
    "EXCEPT", "JOIN", "ON", "LEFT", "RIGHT", "INNER", "CROSS", "FULL",
    "NATURAL", "USING", "WINDOW", "OFFSET",
}


def _json_each_subquery(e: str, pfx: str) -> str:
    """The SELECT body replacing one ``json_each`` table reference.

    Column contract probed live (SQLite 3.40): key (array index / object
    key / NULL for a scalar root), value (dynamic in SQLite — TEXT here,
    the documented json-family divergence; booleans '1'/'0', nested
    containers re-extracted from the iteration-root TEXT ``e`` via
    get_json_object with a root-relative bracket path so insertion order
    survives where the variant encoding would sort keys),
    type ('integer' 'real' 'text' 'true' 'false' 'null' 'object' 'array'),
    atom (value for scalars, NULL for containers), id (opaque ordinal —
    SQLite documents its ids as meaningless implementation detail), parent
    (NULL for json_each), fullkey, path.

    A scalar root is wrapped as a one-element array so variant_explode
    (which yields zero rows for scalars) produces SQLite's single row;
    key/fullkey are then forced back to the scalar-root shape.  NULL input
    yields zero rows in both engines (probed).
    """
    c = f"left(ltrim({e}), 1) IN ('[', '{{')"
    wrapped = f"CASE WHEN {c} THEN {e} ELSE '[' || ({e}) || ']' END"
    sv = "schema_of_variant(v.value)"
    is_container = (
        f"(left({sv}, 5) = 'ARRAY' OR left({sv}, 6) = 'OBJECT' "
        f"OR left({sv}, 6) = 'STRUCT' OR left({sv}, 3) = 'MAP')"
    )
    # fullkey reproduces SQLite's path rendering (probed 3.40.1): an object
    # key is appended bare only when it matches [A-Za-z][A-Za-z0-9]* (a
    # leading underscore or any underscore/digit-first form IS quoted);
    # otherwise it is double-quoted with JSON string escaping of the
    # DECODED key (backslash, quote, \b \t \n \f \r, other control chars
    # as \u00xx).  KNOWN DIVERGENCE (documented): live SQLite echoes the
    # key's SOURCE spelling, so a key written 'é' in the document text
    # stays escaped in SQLite's fullkey while the shim emits the decoded
    # character; the two agree whenever the document spells keys raw.
    key_ident = "v.key RLIKE '^[A-Za-z][A-Za-z0-9]*$'"
    key_esc = (
        "array_join(transform(filter(split(v.key, ''), _c -> _c != ''), "
        "_c -> CASE WHEN _c = '\\\\' THEN '\\\\\\\\' "
        "WHEN _c = '\"' THEN '\\\\\"' "
        "WHEN ascii(_c) = 8 THEN '\\\\b' "
        "WHEN ascii(_c) = 9 THEN '\\\\t' "
        "WHEN ascii(_c) = 10 THEN '\\\\n' "
        "WHEN ascii(_c) = 12 THEN '\\\\f' "
        "WHEN ascii(_c) = 13 THEN '\\\\r' "
        "WHEN ascii(_c) < 32 THEN "
        "concat('\\\\u', lpad(lower(hex(ascii(_c))), 4, '0')) "
        "ELSE _c END), '')"
    )
    fullkey = (
        f"CASE WHEN NOT ({c}) THEN '{pfx}' "
        f"WHEN v.key IS NULL THEN '{pfx}[' || CAST(v.pos AS STRING) || ']' "
        f"WHEN {key_ident} THEN '{pfx}.' || v.key "
        f"ELSE '{pfx}.\"' || {key_esc} || '\"' END"
    )
    scalar_text = (
        f"CASE WHEN {sv} = 'VOID' THEN NULL "
        f"WHEN {sv} = 'BOOLEAN' THEN IF(CAST(v.value AS BOOLEAN), '1', '0') "
        f"ELSE CAST(v.value AS STRING) END"
    )
    # Container children re-extract from the ITERATION ROOT ``e`` with a
    # path RELATIVE to it ($[pos] for array elements, $['key'] for object
    # members) — never the full-document fullkey, which is rooted at the
    # original expression and returns NULL against the 2-arg sub-document
    # (ADVICE r8).  The bracket form survives keys Spark's dotted path
    # can't express — spaces, dots, and (probed round 10, ADVICE r9 asked
    # for the surface to be stated accurately) even '[', ']', and
    # BACKSLASHES ride through get_json_object's lenient bracket parser.
    # The one corner left NULL — documented loudly — is a key containing
    # a single quote, which the bracket form cannot escape (probed:
    # $['q\'t'] → NULL where SQLite returns the subtree text).
    # Scalar-valued members are unaffected (their values come from the
    # variant, not re-extraction).  Pinned in test_dialect.py.
    relpath = (
        "CASE WHEN v.key IS NULL "
        "THEN concat('$[', CAST(v.pos AS STRING), ']') "
        "ELSE concat('$[''', v.key, ''']') END"
    )
    value = (
        f"CASE WHEN {is_container} THEN get_json_object({e}, {relpath}) "
        f"ELSE {scalar_text} END"
    )
    typ = (
        f"CASE WHEN {sv} = 'VOID' THEN 'null' "
        f"WHEN {sv} = 'BOOLEAN' THEN IF(CAST(v.value AS BOOLEAN), 'true', 'false') "
        f"WHEN {sv} = 'STRING' THEN 'text' "
        f"WHEN left({sv}, 5) = 'ARRAY' THEN 'array' "
        f"WHEN {is_container} THEN 'object' "
        f"WHEN {sv} IN ('BIGINT', 'INT', 'SMALLINT', 'TINYINT') THEN 'integer' "
        f"ELSE 'real' END"
    )
    key = (
        f"CASE WHEN NOT ({c}) THEN NULL "
        f"WHEN v.key IS NULL THEN CAST(v.pos AS STRING) ELSE v.key END"
    )
    atom = f"CASE WHEN {is_container} THEN NULL ELSE {scalar_text} END"
    return (
        f"(SELECT {key} AS key, {value} AS value, {typ} AS type, "
        f"{atom} AS atom, v.pos + 1 AS id, CAST(NULL AS INT) AS parent, "
        f"{fullkey} AS fullkey, '{pfx}' AS path "
        f"FROM variant_explode(parse_json({wrapped})) v)"
    )


#: maximum nesting depth (levels below the iteration root) the json_tree
#: expansion unrolls; a deeper document raises loudly at run time instead of
#: silently dropping rows
_JSON_TREE_DEPTH = 8

#: one SQLite-path component: .ident | ."quoted" | [n]
_PATH_COMP_RE = re.compile(r'\."(?:[^"\\]|\\.)*"|\.[A-Za-z_][A-Za-z_0-9$]*|\[\d+\]')


def _path_root_parts(pfx: str) -> tuple[str, str | None]:
    """(parent path spelling, last object-key component or None) of a
    SQLite JSON path — the json_tree root row's ``path`` and ``key``
    (probed: root key is the final OBJECT key for container roots,
    NULL for '$', array-index components, and scalar roots)."""
    if pfx == "$":
        return "$", None
    comps = list(_PATH_COMP_RE.finditer(pfx))
    if not comps:
        return "$", None
    last = comps[-1]
    parent = pfx[: last.start()] or "$"
    text = last.group()
    if text.startswith("["):
        return parent, None
    if text.startswith('."'):
        inner = text[2:-1]
        return parent, inner.replace('\\"', '"').replace("\\\\", "\\")
    return parent, text[1:]


def _json_tree_level_exprs(v: str, e: str, fk_prev: str) -> dict[str, str]:
    """Column expressions for one json_tree level: ``v`` the
    variant_explode alias, ``e`` the PARENT's text expression (container
    children re-extract from it with a parent-relative bracket path —
    the ADVICE-r8 convention shared with _json_each_subquery, including
    its documented single-quote key corner), ``fk_prev`` the parent's
    fullkey expression."""
    sv = f"schema_of_variant({v}.value)"
    cont = (
        f"(left({sv}, 5) = 'ARRAY' OR left({sv}, 6) = 'OBJECT' "
        f"OR left({sv}, 6) = 'STRUCT' OR left({sv}, 3) = 'MAP')"
    )
    key_ident = f"{v}.key RLIKE '^[A-Za-z][A-Za-z0-9]*$'"
    key_esc = (
        f"array_join(transform(filter(split({v}.key, ''), _c -> _c != ''), "
        "_c -> CASE WHEN _c = '\\\\' THEN '\\\\\\\\' "
        "WHEN _c = '\"' THEN '\\\\\"' "
        "WHEN ascii(_c) = 8 THEN '\\\\b' "
        "WHEN ascii(_c) = 9 THEN '\\\\t' "
        "WHEN ascii(_c) = 10 THEN '\\\\n' "
        "WHEN ascii(_c) = 12 THEN '\\\\f' "
        "WHEN ascii(_c) = 13 THEN '\\\\r' "
        "WHEN ascii(_c) < 32 THEN "
        "concat('\\\\u', lpad(lower(hex(ascii(_c))), 4, '0')) "
        "ELSE _c END), '')"
    )
    fullkey = (
        f"CASE WHEN {v}.key IS NULL "
        f"THEN concat({fk_prev}, '[', CAST({v}.pos AS STRING), ']') "
        f"WHEN {key_ident} THEN concat({fk_prev}, '.', {v}.key) "
        f"ELSE concat({fk_prev}, '.\"', {key_esc}, '\"') END"
    )
    relpath = (
        f"CASE WHEN {v}.key IS NULL "
        f"THEN concat('$[', CAST({v}.pos AS STRING), ']') "
        f"ELSE concat('$[''', {v}.key, ''']') END"
    )
    scalar_text = (
        f"CASE WHEN {sv} = 'VOID' THEN NULL "
        f"WHEN {sv} = 'BOOLEAN' THEN IF(CAST({v}.value AS BOOLEAN), '1', '0') "
        f"ELSE CAST({v}.value AS STRING) END"
    )
    extract = f"get_json_object({e}, {relpath})"
    typ = (
        f"CASE WHEN {sv} = 'VOID' THEN 'null' "
        f"WHEN {sv} = 'BOOLEAN' THEN IF(CAST({v}.value AS BOOLEAN), 'true', 'false') "
        f"WHEN {sv} = 'STRING' THEN 'text' "
        f"WHEN left({sv}, 5) = 'ARRAY' THEN 'array' "
        f"WHEN {cont} THEN 'object' "
        f"WHEN {sv} IN ('BIGINT', 'INT', 'SMALLINT', 'TINYINT') THEN 'integer' "
        f"ELSE 'real' END"
    )
    return {
        "cont": cont,
        "key": f"CASE WHEN {v}.key IS NULL THEN CAST({v}.pos AS STRING) ELSE {v}.key END",
        "value": f"CASE WHEN {cont} THEN {extract} ELSE {scalar_text} END",
        "typ": typ,
        "atom": f"CASE WHEN {cont} THEN NULL ELSE {scalar_text} END",
        "fullkey": fullkey,
        "extract": extract,
        "scalar_text": scalar_text,
    }


def _json_tree_subquery(e: str, pfx: str) -> str:
    """The SELECT body replacing one ``json_tree`` table reference: a
    SINGLE bounded-depth fork-chain of explode laterals (optimization
    round 11).  Column contract probed live (SQLite 3.40,
    test_sqlite_differential.py): the root row carries key = the final
    object-key path component for CONTAINER roots (NULL for '$',
    array-index components, and scalar roots), fullkey = the path as
    given, path = the parent path; child rows mirror json_each with
    parent/fullkey threaded.  id/parent are opaque ordinals in BOTH
    engines (SQLite documents them as implementation detail) — here
    xxhash64(fullkey), so parent-child joins are consistent but raw
    values differ from SQLite's byte offsets.  Documented divergences
    (shared with json_each): value/key/atom are always TEXT; a 2-arg
    path CONTAINING an array index renders fullkey/path as given while
    SQLite zeroes every index in the threaded rendering (probed:
    '$.a[1]' -> '$.a[0]', '$.key[1].q7x' -> '$.key[0].q7x' — found by
    fuzz campaign 10's wide sweep);
    whitespace-bearing documents are minified (get_json_object) exactly
    as SQLite minifies.  Documents nesting deeper than _JSON_TREE_DEPTH
    raise loudly (raise_error) instead of silently truncating.  NULL
    input and missing 2-arg paths yield zero rows (probed).

    Mechanism (round 11 restructure; rows identical to the previous
    union-of-level-chains by construction, pinned by the differential,
    fuzz-campaign and oracle suites): ONE chain of D levels threads a
    per-row state tuple (the node's eight output columns + a ``done``
    flag + the node's container text/fullkey).  At each level a live
    container row FORKS via ``explode(array(0, 1))`` — arm 0 freezes the
    node's own output row (done), arm 1 explodes its children; finished
    rows ride a one-row ``'[0]'`` sentinel explode unchanged.  Every
    node therefore reaches the single final SELECT exactly once.  The
    previous shape spelled a separate SELECT per depth k re-exploding
    all k ancestor levels — O(depth²) generates and ~56 KB of SQL whose
    analysis/optimization/codegen dominated wall time (measured 94 s
    cold for 255 rows at depth 8); the chain is O(depth) generates in
    one branch.

    Scale: the expansion is a pure per-row map (no shuffle, no Python) —
    D passes over each document, bounded by the depth constant.
    """
    root_path, root_key = _path_root_parts(pfx)
    enc = _encode_literal
    cols = "key, value, type, atom, id, parent, fullkey, path"

    # --- level 0: the root row becomes the initial chain state ---
    pv = "parse_json(r.e0)"
    sv0 = f"schema_of_variant({pv})"
    cont0 = (
        f"(left({sv0}, 5) = 'ARRAY' OR left({sv0}, 6) = 'OBJECT' "
        f"OR left({sv0}, 6) = 'STRUCT' OR left({sv0}, 3) = 'MAP')"
    )
    scalar0 = (
        f"CASE WHEN {sv0} = 'VOID' THEN NULL "
        f"WHEN {sv0} = 'BOOLEAN' THEN IF(CAST({pv} AS BOOLEAN), '1', '0') "
        f"ELSE CAST({pv} AS STRING) END"
    )
    typ0 = (
        f"CASE WHEN {sv0} = 'VOID' THEN 'null' "
        f"WHEN {sv0} = 'BOOLEAN' THEN IF(CAST({pv} AS BOOLEAN), 'true', 'false') "
        f"WHEN {sv0} = 'STRING' THEN 'text' "
        f"WHEN left({sv0}, 5) = 'ARRAY' THEN 'array' "
        f"WHEN {cont0} THEN 'object' "
        f"WHEN {sv0} IN ('BIGINT', 'INT', 'SMALLINT', 'TINYINT') THEN 'integer' "
        f"ELSE 'real' END"
    )
    key0 = (
        f"CASE WHEN {cont0} THEN {enc(root_key)} ELSE CAST(NULL AS STRING) END"
        if root_key is not None
        else "CAST(NULL AS STRING)"
    )
    froms = [
        f"(SELECT e0 FROM (SELECT ({e}) AS e0) WHERE e0 IS NOT NULL) r",
        # initial state: the root row's output columns; done unless the
        # root is a container with children to walk
        f"LATERAL (SELECT {key0} AS key, "
        f"CASE WHEN {cont0} THEN get_json_object(r.e0, '$') ELSE {scalar0} END AS value, "
        f"{typ0} AS type, "
        f"CASE WHEN {cont0} THEN NULL ELSE {scalar0} END AS atom, "
        f"xxhash64({enc(pfx)}) AS id, CAST(NULL AS BIGINT) AS parent, "
        f"{enc(pfx)} AS fullkey, {enc(root_path)} AS path, "
        f"NOT {cont0} AS done, r.e0 AS e, {enc(pfx)} AS fk) c0",
    ]

    # --- levels 1..D: fork + child-explode + state project, one chain ---
    for j in range(1, _JSON_TREE_DEPTH + 1):
        p = f"c{j - 1}"
        # arm 0: freeze the current node's own row; arm 1 (live containers
        # only): explode its children.  Done rows ride the 1-row sentinel.
        froms.append(f"LATERAL explode(IF({p}.done, array(0), array(0, 1))) f{j}")
        froms.append(
            f"LATERAL variant_explode(parse_json("
            f"IF({p}.done OR f{j}.col = 0, '[0]', {p}.e))) v{j}"
        )
        lx = _json_tree_level_exprs(f"v{j}", f"{p}.e", f"{p}.fk")
        x = f"(NOT {p}.done AND f{j}.col = 1)"
        # bind the per-level heavyweights once: the child's fullkey (embeds
        # the per-character escape transform) and its container re-extract
        froms.append(
            f"LATERAL (SELECT {lx['fullkey']} AS nfk, {lx['extract']} AS next, "
            f"{lx['cont']} AS ncont) b{j}"
        )
        froms.append(
            f"LATERAL (SELECT "
            f"IF({x}, {lx['key']}, {p}.key) AS key, "
            f"IF({x}, CASE WHEN b{j}.ncont THEN b{j}.next "
            f"ELSE {lx['scalar_text']} END, {p}.value) AS value, "
            f"IF({x}, {lx['typ']}, {p}.type) AS type, "
            f"IF({x}, CASE WHEN b{j}.ncont THEN NULL "
            f"ELSE {lx['scalar_text']} END, {p}.atom) AS atom, "
            f"IF({x}, xxhash64(b{j}.nfk), {p}.id) AS id, "
            f"IF({x}, xxhash64({p}.fk), {p}.parent) AS parent, "
            f"IF({x}, b{j}.nfk, {p}.fullkey) AS fullkey, "
            f"IF({x}, {p}.fk, {p}.path) AS path, "
            f"IF({x}, NOT b{j}.ncont, TRUE) AS done, "
            f"IF({x} AND b{j}.ncont, b{j}.next, CAST(NULL AS STRING)) AS e, "
            f"IF({x}, b{j}.nfk, CAST(NULL AS STRING)) AS fk) c{j}"
        )

    last = f"c{_JSON_TREE_DEPTH}"
    # depth tripwire as a FILTER, not a projected column: a pruned-away
    # value column (e.g. under count(*)) must still raise on overflow.
    # A not-done row at the end is a depth-D container node (never forked);
    # it emits its own row, and raises iff it has children the chain can
    # no longer walk.
    guard = (
        f" WHERE CASE WHEN NOT {last}.done "
        f"AND {last}.e NOT IN ('[]', '{{}}') "
        f"THEN CAST(raise_error('json_tree: document nesting exceeds "
        f"the supported depth of {_JSON_TREE_DEPTH}') AS BOOLEAN) "
        f"ELSE TRUE END"
    )
    body = (
        f"SELECT {last}.key AS key, {last}.value AS value, {last}.type AS type, "
        f"{last}.atom AS atom, {last}.id AS id, {last}.parent AS parent, "
        f"{last}.fullkey AS fullkey, {last}.path AS path "
        f"FROM {', '.join(froms)}{guard}"
    )
    return f"(SELECT {cols} FROM ({body}))"


def _json_tree_lateral_views(e: str, pfx: str, alias: str, uid: int) -> str:
    """json_tree as a chain of native ``LATERAL VIEW`` generators — the
    fast path used when the json_tree reference is the LAST relation in
    its FROM clause (optimization round 11).

    Same rows as :func:`_json_tree_subquery` by construction (the same
    fork-chain walk), but spelled with zero correlated subqueries: each
    level is ONE ``LATERAL VIEW explode(<state transition>)`` over an
    array of state structs built with nested ``transform`` lambdas and
    variant→map/array casts, and the output columns come from a final
    ``LATERAL VIEW inline``.  Why it exists: a correlated LATERAL
    *subquery* containing generators forces Spark's DecorrelateInnerQuery
    into a domain join — a DISTINCT aggregate over the outer table's
    correlated expression built BEFORE filter pushdown, so the walk ran
    over the UNFILTERED outer table (measured on b12_shim_json_tree:
    150k-order walk for 255 surviving rows, 94 s cold; this form plans as
    a flat Generate chain the outer WHERE pushes straight through).

    State struct fields (fixed names/types so array concat unifies):
    done, key, value, type, atom, id, parent, fullkey, path, e (container
    text, NULL once frozen), fk (the node's fullkey).
    """
    root_path, root_key = _path_root_parts(pfx)
    enc = _encode_literal
    q = f"_jt{uid}_"
    D = _JSON_TREE_DEPTH

    def cont(sv: str) -> str:
        return (
            f"(left({sv}, 5) = 'ARRAY' OR left({sv}, 6) = 'OBJECT' "
            f"OR left({sv}, 6) = 'STRUCT' OR left({sv}, 3) = 'MAP')"
        )

    def scalar(sv: str, v: str) -> str:
        return (
            f"CASE WHEN {sv} = 'VOID' THEN NULL "
            f"WHEN {sv} = 'BOOLEAN' THEN IF(CAST({v} AS BOOLEAN), '1', '0') "
            f"ELSE CAST({v} AS STRING) END"
        )

    def typ(sv: str, v: str) -> str:
        return (
            f"CASE WHEN {sv} = 'VOID' THEN 'null' "
            f"WHEN {sv} = 'BOOLEAN' THEN IF(CAST({v} AS BOOLEAN), 'true', 'false') "
            f"WHEN {sv} = 'STRING' THEN 'text' "
            f"WHEN left({sv}, 5) = 'ARRAY' THEN 'array' "
            f"WHEN {cont(sv)} THEN 'object' "
            f"WHEN {sv} IN ('BIGINT', 'INT', 'SMALLINT', 'TINYINT') THEN 'integer' "
            f"ELSE 'real' END"
        )

    # per-character JSON-string escape of an object key (shared rendering
    # with _json_tree_level_exprs)
    def key_esc(k: str) -> str:
        return (
            f"array_join(transform(filter(split({k}, ''), _c -> _c != ''), "
            "_c -> CASE WHEN _c = '\\\\' THEN '\\\\\\\\' "
            "WHEN _c = '\"' THEN '\\\\\"' "
            "WHEN ascii(_c) = 8 THEN '\\\\b' "
            "WHEN ascii(_c) = 9 THEN '\\\\t' "
            "WHEN ascii(_c) = 10 THEN '\\\\n' "
            "WHEN ascii(_c) = 12 THEN '\\\\f' "
            "WHEN ascii(_c) = 13 THEN '\\\\r' "
            "WHEN ascii(_c) < 32 THEN "
            "concat('\\\\u', lpad(lower(hex(ascii(_c))), 4, '0')) "
            "ELSE _c END), '')"
        )

    # --- root state: one-element (or empty, for NULL docs) struct array ---
    sv0, pv0 = "_t.sv", "parse_json(_t.e0)"
    cont0 = cont(sv0)
    key0 = (
        f"CASE WHEN {cont0} THEN {enc(root_key)} ELSE CAST(NULL AS STRING) END"
        if root_key is not None
        else "CAST(NULL AS STRING)"
    )
    root_struct = (
        f"named_struct('done', NOT {cont0}, "
        f"'key', {key0}, "
        f"'value', CASE WHEN {cont0} THEN get_json_object(_t.e0, '$') "
        f"ELSE {scalar(sv0, pv0)} END, "
        f"'type', {typ(sv0, pv0)}, "
        f"'atom', CASE WHEN {cont0} THEN CAST(NULL AS STRING) "
        f"ELSE {scalar(sv0, pv0)} END, "
        f"'id', xxhash64({enc(pfx)}), 'parent', CAST(NULL AS BIGINT), "
        f"'fullkey', {enc(pfx)}, 'path', {enc(root_path)}, "
        f"'e', _t.e0, 'fk', {enc(pfx)})"
    )
    root_arr = (
        f"transform(transform(filter(array(({e})), _x -> _x IS NOT NULL), "
        f"_x -> struct(_x AS e0, schema_of_variant(parse_json(_x)) AS sv)), "
        f"_t -> {root_struct})"
    )
    views = [f"LATERAL VIEW explode({root_arr}) {q}t0 AS {q}s0"]

    # --- levels 1..D: freeze-self + explode-children transition ---
    for j in range(1, D + 1):
        s = f"{q}s{j - 1}"
        # coalesce: a live container whose text could not be re-extracted
        # (e.g. the get_json_object empty-key corner) has e = NULL; its
        # children are lost either way (matching the subquery form), but
        # transform(NULL) would NULL the whole transition array and drop
        # the node's OWN frozen row with it
        pj = f"parse_json(coalesce({s}.e, '[]'))"
        freeze = (
            f"named_struct('done', true, 'key', {s}.key, 'value', {s}.value, "
            f"'type', {s}.type, 'atom', {s}.atom, 'id', {s}.id, "
            f"'parent', {s}.parent, 'fullkey', {s}.fullkey, 'path', {s}.path, "
            f"'e', CAST(NULL AS STRING), 'fk', CAST(NULL AS STRING))"
        )
        # children as (k, v, p) triples: array children carry a position,
        # object children a key — mirroring variant_explode's columns
        raw_children = (
            f"CASE WHEN left(schema_of_variant({pj}), 5) = 'ARRAY' "
            f"THEN transform(cast({pj} AS array<variant>), "
            f"(_cv, _i) -> struct(CAST(NULL AS STRING) AS k, _cv AS v, _i AS p)) "
            f"ELSE transform(map_entries(cast({pj} AS map<string, variant>)), "
            f"_kv -> struct(_kv.key AS k, _kv.value AS v, CAST(NULL AS INT) AS p)) END"
        )
        key_ident = "_c.k RLIKE '^[A-Za-z][A-Za-z0-9]*$'"
        nfk = (
            f"CASE WHEN _c.k IS NULL "
            f"THEN concat({s}.fk, '[', CAST(_c.p AS STRING), ']') "
            f"WHEN {key_ident} THEN concat({s}.fk, '.', _c.k) "
            f"ELSE concat({s}.fk, '.\"', {key_esc('_c.k')}, '\"') END"
        )
        relpath = (
            f"CASE WHEN _c.k IS NULL THEN concat('$[', CAST(_c.p AS STRING), ']') "
            f"ELSE concat('$[''', _c.k, ''']') END"
        )
        # bind the per-child heavyweights once (sv, fullkey, re-extract)
        mid = (
            f"transform({raw_children}, _c -> struct(_c.v AS v, "
            f"schema_of_variant(_c.v) AS sv, "
            f"CASE WHEN _c.k IS NULL THEN CAST(_c.p AS STRING) ELSE _c.k END AS kd, "
            f"{nfk} AS nfk, get_json_object({s}.e, {relpath}) AS ext))"
        )
        mcont = cont("_m.sv")
        child_struct = (
            f"named_struct('done', NOT {mcont}, "
            f"'key', _m.kd, "
            f"'value', CASE WHEN {mcont} THEN _m.ext ELSE {scalar('_m.sv', '_m.v')} END, "
            f"'type', {typ('_m.sv', '_m.v')}, "
            f"'atom', CASE WHEN {mcont} THEN CAST(NULL AS STRING) "
            f"ELSE {scalar('_m.sv', '_m.v')} END, "
            f"'id', xxhash64(_m.nfk), 'parent', xxhash64({s}.fk), "
            f"'fullkey', _m.nfk, 'path', {s}.fk, "
            f"'e', IF({mcont}, _m.ext, CAST(NULL AS STRING)), 'fk', _m.nfk)"
        )
        # array_prepend, not concat(array(..), ..): the later shim pass
        # rewrites concat() to SQLite's concat_ws('') semantics, which
        # cannot take arrays
        transition = (
            f"CASE WHEN {s}.done THEN array({s}) "
            f"ELSE array_prepend(transform({mid}, _m -> {child_struct}), "
            f"{freeze}) END"
        )
        views.append(f"LATERAL VIEW explode({transition}) {q}t{j} AS {q}s{j}")

    # --- output columns + depth tripwire (raise survives column pruning:
    # the generator's input CASE is evaluated before any field is read) ---
    last = f"{q}s{D}"
    out_type = (
        "array<struct<key:string,value:string,type:string,atom:string,"
        "id:bigint,parent:bigint,fullkey:string,path:string>>"
    )
    final = (
        f"CASE WHEN NOT {last}.done AND {last}.e NOT IN ('[]', '{{}}') "
        f"THEN CAST(raise_error('json_tree: document nesting exceeds "
        f"the supported depth of {D}') AS {out_type}) "
        f"ELSE array(named_struct('key', {last}.key, 'value', {last}.value, "
        f"'type', {last}.type, 'atom', {last}.atom, 'id', {last}.id, "
        f"'parent', {last}.parent, 'fullkey', {last}.fullkey, "
        f"'path', {last}.path)) END"
    )
    views.append(
        f"LATERAL VIEW inline({final}) {alias} "
        f"AS key, value, type, atom, id, parent, fullkey, path"
    )
    return " ".join(views)


_FROM_TAIL_WORDS = {
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "WINDOW",
    "UNION", "EXCEPT", "INTERSECT", "MINUS", "OFFSET",
}


def _sqlite_path_to_spark(pfx: str) -> str:
    """Translate a SQLite JSON path (as spelled inside its SQL literal)
    into Spark's get_json_object grammar, returned ready to embed in a
    single-quoted Spark literal.

    SQLite quotes non-identifier object keys with double quotes
    (``$."a b"``, ``\\"``-escaped); Spark's parser has no quoted-dot form
    but accepts single-quoted bracket subscripts (``$['a b']``, probed).
    Paths without quotes or ``#`` pass through verbatim (bare names and
    ``[n]`` indexes mean the same thing in both grammars).  Loud rejects:
    SQLite's ``#`` array-end index (no Spark spelling), quoted keys
    containing a single quote (Spark's bracket form cannot escape one),
    and any path that doesn't parse as $-rooted segments.
    """
    value = pfx.replace("''", "'").replace("\\\\", "\\")
    if "#" in value:
        raise QueryRejected(
            "json_each path '#' (array-end index) is not supported"
        )
    if '"' not in value:
        return pfx
    if not value.startswith("$"):
        raise QueryRejected(f"unsupported json path: {value!r}")
    rest = value[1:]
    out = ["$"]
    seg_quoted = re.compile(r'^\."((?:[^"\\]|\\.)*)"')
    seg_bare = re.compile(r"^\.([^.\[\]\"]+)")
    seg_index = re.compile(r"^\[(\d+)\]")
    while rest:
        m = seg_quoted.match(rest)
        if m:
            key = m.group(1).replace('\\"', '"').replace("\\\\", "\\")
            if "'" in key:
                raise QueryRejected(
                    "json_each path keys containing a single quote are not "
                    "supported (Spark's bracket path cannot escape one)"
                )
            out.append(f"['{key}']")
            rest = rest[m.end():]
            continue
        m = seg_bare.match(rest)
        if m:
            out.append(f".{m.group(1)}")
            rest = rest[m.end():]
            continue
        m = seg_index.match(rest)
        if m:
            out.append(f"[{m.group(1)}]")
            rest = rest[m.end():]
            continue
        raise QueryRejected(f"unsupported json path: {value!r}")
    result = "".join(out)
    return result.replace("\\", "\\\\").replace("'", "''")


def _rewrite_json_each(sql: str) -> str:
    """Rewrite SQLite's ``json_each`` table-valued function in FROM
    position into a (LATERAL) subquery over Spark's variant_explode.

    ``FROM t, json_each(t.j) je`` → ``FROM t, LATERAL (SELECT ...) AS je``;
    a leading ``FROM json_each(...)`` needs no LATERAL; a missing alias
    defaults to ``json_each`` (SQLite addresses the unaliased table by its
    function name).  The 2-arg path form roots the iteration at
    ``get_json_object(expr, <spark path>)`` with SQLite's fullkey/path
    prefixes kept in their ORIGINAL spelling (probed: fullkey '$.a[0]',
    path '$.a'); the extraction path is translated to Spark's grammar —
    SQLite's quoted segments ``$."a b"`` become bracket form ``$['a b']``
    (round 9; Spark's parser rejects the quoted-dot form, which silently
    yielded zero rows).  The path must be a string literal; a path
    addressing a bare scalar emits SQLite's single row (key NULL,
    fullkey = path — probed), with string/null scalars re-encoded via
    to_json(variant_get(..)) so quote-stripping can't crash the parse or
    silently iterate container-looking strings, and a JSON null value at
    the path emits its one 'null'-typed row (round 10; all probed);
    SQLite's ``#`` array-end index and quoted path keys containing a
    single quote are rejected loudly (Spark's path grammar cannot spell
    them).  ``json_tree`` expands to the bounded-depth recursive walk
    (round 10, _json_tree_subquery) with the same argument handling.
    """
    tokens = tokenize(sql)
    sig = _significant(tokens)

    def _next_sig(idx: int) -> int | None:
        for s in sig:
            if s > idx:
                return s
        return None

    def _prev_sig(idx: int) -> int | None:
        prev = None
        for s in sig:
            if s >= idx:
                return prev
            prev = s
        return prev

    out: list[str] = []
    i = 0
    n = len(tokens)
    n_spliced = 0
    while i < n:
        t = tokens[i]
        if t.kind == "word" and t.text.lower() in ("json_each", "json_tree"):
            fn = t.text.lower()
            j = _next_sig(i)
            p = _prev_sig(i)
            in_from = p is not None and (
                tokens[p].text == "," or tokens[p].text.upper() in ("FROM", "JOIN")
            )
            if in_from and j is not None and tokens[j].kind == "op" and tokens[j].text == "(":
                args, close_idx = _find_call_args(tokens, j)
                raw = [render(a).strip() for a in args]
                if not raw or len(raw) > 2:
                    raise QueryRejected(f"{fn} takes 1 or 2 arguments")
                if len(raw) == 2:
                    pm = re.match(r"^'((?:[^']|'')*)'$", raw[1].strip())
                    if not pm:
                        raise QueryRejected(
                            f"{fn} path argument must be a string literal"
                        )
                    pfx = pm.group(1)
                    spark_path = _sqlite_path_to_spark(pfx)
                    # The sub-document TEXT at the path.  get_json_object
                    # alone is WRONG for scalar targets: it strips the
                    # quotes off string values ('x', not '"x"'), which
                    # crashed the downstream parse for plain strings and
                    # silently iterated container-LOOKING strings
                    # ('{"c":"[1]"}' $.c is the text scalar '[1]' in
                    # SQLite, probed), and it returns SQL NULL for a JSON
                    # null value (one scalar row in SQLite, not zero).
                    # So: containers (variant-schema-checked) keep the
                    # order-preserving get_json_object rendering; scalars
                    # re-encode via to_json(variant_get(..)) — '"x"',
                    # 'null' — and a missing path stays SQL NULL -> zero
                    # rows (round 10; pinned in the differential suite).
                    vge = f"variant_get(parse_json({raw[0]}), '{spark_path}')"
                    sve = f"schema_of_variant({vge})"
                    vcont = (
                        f"(left({sve}, 5) = 'ARRAY' OR left({sve}, 6) = 'OBJECT' "
                        f"OR left({sve}, 6) = 'STRUCT' OR left({sve}, 3) = 'MAP')"
                    )
                    e = (
                        f"(CASE WHEN {vcont} "
                        f"THEN get_json_object({raw[0]}, '{spark_path}') "
                        f"ELSE to_json({vge}) END)"
                    )
                else:
                    pfx = "$"
                    e = f"({raw[0]})"
                # optional alias after the call
                alias = fn
                k = _next_sig(close_idx)
                consumed_to = close_idx
                if k is not None and tokens[k].kind == "word":
                    up = tokens[k].text.upper()
                    if up == "AS":
                        k2 = _next_sig(k)
                        if k2 is not None and tokens[k2].kind == "word":
                            alias = _strip_ident(tokens[k2].text)
                            consumed_to = k2
                    elif up not in _JSON_EACH_STOP:
                        alias = _strip_ident(tokens[k].text)
                        consumed_to = k
                # json_tree as the LAST relation of its FROM clause takes
                # the native LATERAL VIEW chain (no correlated subquery →
                # no decorrelation domain join over the unfiltered outer
                # table); any other position falls back to the subquery
                # form.  LATERAL VIEWs attach after the final relation
                # without a comma, so the separator (or a lone FROM's
                # dummy base) is patched in.
                nxt = _next_sig(consumed_to)
                is_last_relation = nxt is None or (
                    tokens[nxt].kind == "word"
                    and tokens[nxt].text.upper() in _FROM_TAIL_WORDS
                ) or tokens[nxt].text in (")", ";")
                prev_txt = tokens[p].text.upper()
                splice_ok = fn == "json_tree" and is_last_relation and prev_txt in (",", "FROM")
                if splice_ok and prev_txt == ",":
                    bi = len(out) - 1
                    while bi >= 0 and out[bi].strip() == "":
                        bi -= 1
                    if bi >= 0 and out[bi] == ",":
                        out[bi] = " "  # the relation-separator comma
                    else:
                        splice_ok = False
                if splice_ok:
                    if prev_txt == "FROM":
                        out.append(f"(SELECT 1 AS _jt{n_spliced}_one) _jt{n_spliced}_base ")
                    out.append(_json_tree_lateral_views(e, pfx, alias, n_spliced))
                    n_spliced += 1
                    i = consumed_to + 1
                    continue
                lateral = "" if prev_txt == "FROM" else "LATERAL "
                body_fn = _json_tree_subquery if fn == "json_tree" else _json_each_subquery
                out.append(f"{lateral}{body_fn(e, pfx)} AS {alias}")
                i = consumed_to + 1
                continue
        out.append(t.text)
        i += 1
    return "".join(out)


def _frame_start_slides(wdef: list[Token]) -> bool:
    """True iff a window definition's frame START is anything other than
    UNBOUNDED PRECEDING (the implicit default has an unbounded start and
    returns False).  ``wdef`` is the significant-token list of the inline
    OVER (...) body."""
    for idx, tk in enumerate(wdef):
        if tk.kind == "word" and tk.text.upper() in ("ROWS", "RANGE", "GROUPS"):
            rest = wdef[idx + 1 :]
            if not rest:
                return False
            words = [x.text.upper() for x in rest]
            if words[0] == "BETWEEN":
                start = words[1:3]
            else:
                start = words[0:2]
            return start[:2] != ["UNBOUNDED", "PRECEDING"]
    return False


def _rewrite_window_filter(sql: str) -> str:
    """``agg(x) FILTER (WHERE cond) OVER ...`` → ``agg(CASE WHEN cond THEN
    x END) OVER ...``.

    Spark executes FILTER on *grouped* aggregates natively (those pass
    through untouched) but rejects it on window functions ("Window
    aggregate function with filter predicate is not supported yet"); the
    CASE form is exactly equivalent because every aggregate ignores NULL
    inputs.  Special cases: ``count(*)`` counts a literal 1 instead (no
    column to NULL out), ``group_concat(x, sep)`` wraps only the value
    argument, and a leading DISTINCT stays outside the CASE (NULL joins
    the distinct set but is then ignored, so the result is unchanged).
    A FILTER not followed by OVER is left for Spark's native grouped
    path, EXCEPT on total / group_concat / string_agg, whose function
    rewrites wrap the aggregate call (coalesce(sum(..)) / concat_ws(..,
    collect_list(..))) and would strand the FILTER on a non-aggregate
    expression — those fold into the CASE form here too (ADVICE r8).
    Probed against live SQLite in tests/test_sqlite_differential.py.

    BUG-COMPATIBILITY (probed live on SQLite 3.40.1, the reference's
    engine): MIN/MAX window aggregates apply the FILTER clause ONLY when
    the frame start is UNBOUNDED PRECEDING (explicit or the implicit
    default); for any sliding start (N PRECEDING, CURRENT ROW,
    N FOLLOWING — ROWS, RANGE, or GROUPS alike) SQLite SILENTLY IGNORES
    the filter (probe: max(b) FILTER (WHERE s='x') OVER (ORDER BY a ROWS
    BETWEEN 1 PRECEDING AND CURRENT ROW) returns the unfiltered running
    max; the same query with UNBOUNDED PRECEDING start returns the
    filtered one).  SQLite's sliding min/max path re-scans the frame
    without consulting the filter.  The shim reproduces this: for MIN/MAX
    over a sliding-start inline frame the FILTER clause is DROPPED, house
    probed-semantics style.  A MIN/MAX FILTER over a NAMED window (OVER w)
    is rejected loudly — the frame is not visible at rewrite time, so
    fidelity cannot be decided.
    """
    tokens = tokenize(sql)
    sig = _significant(tokens)

    def _next_sig(idx: int) -> int | None:
        for s in sig:
            if s > idx:
                return s
        return None

    out: list[str] = []
    i = 0
    n = len(tokens)
    while i < n:
        t = tokens[i]
        if t.kind == "word" and t.text.upper() in _AGG_WORDS:
            j = _next_sig(i)
            if j is not None and tokens[j].kind == "op" and tokens[j].text == "(":
                try:
                    args, close_idx = _find_call_args(tokens, j)
                except QueryRejected:
                    out.append(t.text)
                    i += 1
                    continue
                k = _next_sig(close_idx)
                if t.text.upper() in ("TOTAL", "GROUP_CONCAT", "STRING_AGG"):
                    # These aggregates as WINDOW functions need wholesale
                    # handling: their scalar mappings WRAP the call
                    # (coalesce(sum(..), 0.0) / concat_ws(.., collect_list))
                    # and would strand the OVER clause on the wrapper.
                    # total(x) [FILTER (WHERE c)] OVER w →
                    #   coalesce(sum(CAST([CASE] AS DOUBLE)) OVER w, 0e0);
                    # group_concat(x[, sep]) [FILTER (WHERE c)] OVER w →
                    #   CASE WHEN count([CASE]) OVER w = 0 THEN NULL
                    #        ELSE concat_ws(sep, collect_list([CASE]) OVER w)
                    #   END — the count guard reproduces SQLite's NULL over
                    # a frame with no non-NULL value (probed: the first row
                    # of an ORDER BY frame whose value is NULL gets NULL,
                    # not '').  Both respect their filter at every frame
                    # start (probed; only min/max have the sliding-start
                    # ignore).
                    inner = render(args[0]).strip() if args else "NULL"
                    after = k
                    if (
                        after is not None
                        and tokens[after].kind == "word"
                        and tokens[after].text.upper() == "FILTER"
                    ):
                        fop = _next_sig(after)
                        if fop is not None and tokens[fop].text == "(":
                            fargs, fclose2 = _find_call_args(tokens, fop)
                            cond_txt = render(fargs[0]).strip() if fargs else ""
                            if cond_txt.upper().startswith("WHERE"):
                                inner = (
                                    f"CASE WHEN {cond_txt[5:].strip()} "
                                    f"THEN {inner} END"
                                )
                                after = _next_sig(fclose2)
                    if (
                        after is not None
                        and tokens[after].kind == "word"
                        and tokens[after].text.upper() == "OVER"
                    ):
                        wtok = _next_sig(after)
                        if wtok is not None and tokens[wtok].text == "(":
                            _wargs, wclose = _find_call_args(tokens, wtok)
                            wdef = render(tokens[wtok : wclose + 1])
                        elif wtok is not None and tokens[wtok].kind == "word":
                            wdef = tokens[wtok].text
                            wclose = wtok
                        else:
                            out.append(t.text)
                            i += 1
                            continue
                        if t.text.upper() == "TOTAL":
                            # 0e0, not 0.0d: this pass's output is
                            # re-tokenized by the later passes and the
                            # d-suffix literal does not survive the
                            # round-trip
                            out.append(
                                f"coalesce(sum(CAST({inner} AS DOUBLE)) "
                                f"OVER {wdef}, 0e0)"
                            )
                        else:
                            sep = (
                                render(args[1]).strip()
                                if len(args) > 1
                                else "','"
                            )
                            out.append(
                                f"CASE WHEN count({inner}) OVER {wdef} = 0 "
                                f"THEN NULL ELSE concat_ws({sep}, "
                                f"collect_list({inner}) OVER {wdef}) END"
                            )
                        i = wclose + 1
                        continue
                if (
                    k is not None
                    and tokens[k].kind == "word"
                    and tokens[k].text.upper() == "FILTER"
                ):
                    op = _next_sig(k)
                    if op is not None and tokens[op].kind == "op" and tokens[op].text == "(":
                        fargs, fclose = _find_call_args(tokens, op)
                        over = _next_sig(fclose)
                        cond_toks = fargs[0] if fargs else []
                        cs = [x for x in cond_toks if x.kind not in ("space", "comment")]
                        has_where = bool(
                            cs and cs[0].kind == "word" and cs[0].text.upper() == "WHERE"
                        )
                        has_over = (
                            over is not None
                            and tokens[over].kind == "word"
                            and tokens[over].text.upper() == "OVER"
                        )
                        if (
                            has_where
                            and not has_over
                            and t.text.upper() in ("TOTAL", "GROUP_CONCAT", "STRING_AGG")
                        ):
                            # GROUPED (non-window) FILTER on an aggregate
                            # whose _FN_REWRITES mapping WRAPS the call
                            # (total → coalesce(sum(..), 0e0), group_concat
                            # / string_agg → concat_ws(.., collect_list(..)))
                            # must fold into the CASE form here: left for
                            # Spark's native grouped-FILTER path, the later
                            # function rewrite would strand FILTER on a
                            # non-aggregate expression — an analysis error
                            # on SQL SQLite accepts (ADVICE r8).  Equivalent
                            # because sum/collect_list ignore NULLs; the
                            # empty-match total() still coalesces to 0.0.
                            cond = render(cond_toks).strip()[5:].strip()
                            raw = [
                                _rewrite_window_filter(render(a).strip())
                                for a in args
                            ]
                            first = raw[0] if raw else "NULL"
                            prefix = ""
                            m_d = re.match(r"(?is)^\s*DISTINCT\s+(.*)$", first)
                            if m_d:
                                prefix, first = "DISTINCT ", m_d.group(1)
                            body = f"{prefix}CASE WHEN {cond} THEN {first} END"
                            if len(raw) > 1:
                                body += ", " + ", ".join(raw[1:])
                            out.append(f"{t.text}({body})")
                            i = fclose + 1  # drop the folded FILTER clause
                            continue
                        if has_over and has_where:
                            if t.text.upper() in ("MIN", "MAX"):
                                wopen = _next_sig(over)
                                if not (
                                    wopen is not None
                                    and tokens[wopen].kind == "op"
                                    and tokens[wopen].text == "("
                                ):
                                    raise QueryRejected(
                                        "MIN/MAX FILTER over a named window is "
                                        "not supported (frame start decides "
                                        "whether SQLite honors the filter)"
                                    )
                                wargs, _wclose = _find_call_args(tokens, wopen)
                                wdef = [
                                    x
                                    for a in wargs
                                    for x in a
                                    if x.kind not in ("space", "comment")
                                ]
                                if _frame_start_slides(wdef):
                                    # SQLite silently ignores the filter on
                                    # sliding-start min/max — reproduce it
                                    raw = [render(a).strip() for a in args]
                                    out.append(f"{t.text}({', '.join(raw)})")
                                    i = fclose + 1
                                    continue
                            cond = render(cond_toks).strip()[5:].strip()  # drop WHERE
                            # recurse for a window-filtered agg nested in
                            # the arguments (not valid SQLite, but cheap)
                            raw = [
                                _rewrite_window_filter(render(a).strip()) for a in args
                            ]
                            fn = t.text
                            if len(raw) == 1 and raw[0] == "*":
                                body = f"CASE WHEN {cond} THEN 1 END"
                            else:
                                first = raw[0]
                                prefix = ""
                                m_d = re.match(r"(?is)^\s*DISTINCT\s+(.*)$", first)
                                if m_d:
                                    prefix, first = "DISTINCT ", m_d.group(1)
                                body = f"{prefix}CASE WHEN {cond} THEN {first} END"
                                if len(raw) > 1:
                                    body += ", " + ", ".join(raw[1:])
                            out.append(f"{fn}({body})")
                            i = fclose + 1  # drop the FILTER clause, keep OVER
                            continue
        out.append(t.text)
        i += 1
    return "".join(out)


def sqlite_to_spark(sql: str) -> str:
    """Translate one SQLite SELECT (or expression-bearing statement) into
    Spark SQL."""
    return _rewrite_functions(
        _rewrite_operators(
            _rewrite_bare_extreme_columns(
                _rewrite_window_filter(
                    _rewrite_json_each(_escape_string_literals(sql))
                )
            )
        )
    )


# ---------------------------------------------------------------------------
# A10/A11: literal encoding + printf templating (reference client.py:110-131)
# ---------------------------------------------------------------------------


def sql_value(x) -> str:
    if x is None:
        return "null"
    if isinstance(x, bool):  # before int: bool is an int subclass
        return "1" if x else "0"
    if isinstance(x, _dt.datetime):
        return f"timestamp'{x.isoformat(sep=' ')}'"
    if isinstance(x, _dt.date):
        return f"date'{x.isoformat()}'"
    if isinstance(x, (int, float)):
        return str(x)
    if isinstance(x, bytes):
        return f"X'{x.hex()}'"
    if isinstance(x, str):
        return "'%s'" % x.replace("'", "''")
    raise ValueError(f"don't know how to make an sql value from {x!r} ({type(x)})")


def interpolate(sql_tmpl: str, values=()) -> str:
    """printf-style parameter binding, reference client.py:239,261."""
    if not values:
        return sql_tmpl
    return sql_tmpl % tuple(sql_value(v) for v in values)
