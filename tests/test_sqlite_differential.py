"""Differential dialect fidelity: the same SQLite SELECTs executed by real
SQLite (stdlib, the reference's actual engine — trough/read.py:63-66) and by
the engine's dialect-shimmed read path, over identical data.

This is the reference-parity harness SURVEY §5 prescribes: if SQLite and
trough_spark disagree on a query's result, the dialect shim is wrong.
"""

from __future__ import annotations

import math
import re
import sqlite3

import pytest

import os

from trough_spark.sources.sqlite import import_sqlite_segment
from trough_spark.store import SegmentStore

# The five heaviest differential singles (44-101 s each: long multi-
# statement trigger/constraint scripts through the store) run in the wide
# sweep only — their features keep 2-case CI coverage in the dialect fuzz
# families (round 11, VERDICT item 7).
_wide_only = pytest.mark.skipif(
    os.environ.get("TROUGH_SUITE_WIDE") != "1",
    reason="set TROUGH_SUITE_WIDE=1 for the wide differential sweep",
)


ROWS = [
    (1, "Apple", 3.5, 10, "2024-01-15 10:30:00"),
    (2, "banana", 1.25, None, "2024-02-20 08:00:00"),
    (3, "Cherry pie", 7.0, 4, "2024-03-05 23:59:59"),
    (4, "apple tart", 2.5, 10, "2024-01-15 11:00:00"),
    (5, None, 0.0, 2, None),
    (6, "date", 4.75, 7, "2024-06-30 12:00:00"),
    # quote-bearing text so %q/%Q/%w/quote() doubling is non-trivial (r10)
    (7, "it's \"rum\" o'clock", 9.99, 3, "2024-07-04 00:00:00"),
]

# every query must be a single SELECT both engines accept (after the shim)
QUERIES = [
    "SELECT id, name FROM items WHERE name LIKE 'apple%' ORDER BY id",
    "SELECT id FROM items WHERE name GLOB 'a*' ORDER BY id",
    "SELECT id FROM items WHERE name LIKE '%PIE%' ORDER BY id",
    "SELECT count(*) AS n, total(qty) AS t FROM items",
    "SELECT coalesce(name, 'unknown') AS nm FROM items ORDER BY id",
    "SELECT id, CASE WHEN price > 3 THEN 'pricey' ELSE 'cheap' END AS band "
    "FROM items ORDER BY id",
    "SELECT upper(name) AS u, lower(name) AS l, length(name) AS ln "
    "FROM items WHERE id = 3",
    "SELECT substr(name, 1, 3) AS pre, replace(name, 'a', '@') AS rep "
    "FROM items WHERE id = 1",
    "SELECT id FROM items WHERE qty IS NULL",
    "SELECT id FROM items WHERE qty NOTNULL AND price < 3 ORDER BY id",
    "SELECT qty, count(*) AS n FROM items WHERE qty IS NOT NULL "
    "GROUP BY qty HAVING count(*) > 1 ORDER BY qty",
    "SELECT group_concat(name) AS names FROM "
    "(SELECT name FROM items WHERE name LIKE 'a%' ORDER BY name)",
    "SELECT min(price, 3.0) AS m1, max(price, 3.0) AS m2 FROM items WHERE id = 1",
    "SELECT ifnull(qty, -1) AS q FROM items ORDER BY id",
    "SELECT id FROM items WHERE id IN (SELECT id FROM items WHERE price > 3) ORDER BY id",
    "SELECT id FROM items i WHERE EXISTS "
    "(SELECT 1 FROM items j WHERE j.qty = i.qty AND j.id != i.id) ORDER BY id",
    "SELECT id FROM items WHERE price BETWEEN 1 AND 5 ORDER BY id",
    "SELECT nullif(qty, 10) AS q FROM items ORDER BY id",
    "SELECT abs(-price) AS p, round(price, 0) AS r FROM items WHERE id = 3",
    "SELECT strftime('%Y-%m', ts) AS ym FROM items WHERE id = 1",
    "SELECT id, row_number() OVER (ORDER BY price DESC, id) AS rn "
    "FROM items ORDER BY id",
    "SELECT id, sum(price) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING "
    "AND CURRENT ROW) AS running FROM items ORDER BY id",
    "SELECT name FROM items WHERE name REGEXP '^[ab]' ORDER BY id",
    # round-4 parity additions: function-form like/glob, date modifiers,
    # SQLite numeric-prefix CAST, typeof
    "SELECT like('apple%', name) AS v FROM items ORDER BY id",
    "SELECT glob('[Aa]*', name) AS v FROM items ORDER BY id",
    "SELECT date(ts, '+1 day') AS v FROM items WHERE id = 1",
    "SELECT date(ts, 'start of month') AS v FROM items WHERE id = 3",
    "SELECT date(ts, '+2 months', 'start of month') AS v FROM items WHERE id = 1",
    "SELECT CAST(name AS INTEGER) AS v FROM items ORDER BY id",
    "SELECT CAST(price AS INTEGER) AS v FROM items ORDER BY id",
    "SELECT CAST(ts AS INTEGER) AS v FROM items ORDER BY id",
    "SELECT typeof(price) AS v FROM items WHERE id = 1",
    "SELECT typeof(name) AS v FROM items WHERE id = 1",
    "SELECT format('%s/%d', name, id) AS v FROM items WHERE id = 1",
    "SELECT name FROM items ORDER BY name COLLATE NOCASE, id",
    "SELECT id FROM items WHERE name = 'APPLE' COLLATE NOCASE",
    "SELECT 7 / 2 AS a, 7.0 / 2 AS b, 0.1 + 0.2 AS c",
    "SELECT json('[1, 2]') AS v",
    "SELECT json_valid(name) AS v FROM items ORDER BY id",
    "SELECT json_type('[7]') AS a, json_type('1.5') AS b, json_type('9') AS c",
    "SELECT json_object('n', id) AS v FROM items WHERE id = 2",
    "SELECT json_array(id, qty) AS v FROM items WHERE id = 1",
    "SELECT id FROM items WHERE id > 4 UNION SELECT id FROM items WHERE id < 2 ",
    "SELECT id FROM items WHERE qty = 10 INTERSECT SELECT id FROM items WHERE price > 3",
    "SELECT id FROM items EXCEPT SELECT id FROM items WHERE price > 2 ",
    "WITH pricey AS (SELECT * FROM items WHERE price >= 2.5) "
    "SELECT count(*) AS n, min(id) AS first_id FROM pricey",
    "SELECT CAST(price AS INTEGER) AS ip, CAST(id AS TEXT) AS sid "
    "FROM items WHERE id <= 3 ORDER BY id",
    "SELECT datetime(ts, '+1 day') AS d FROM items WHERE id = 1",
    "SELECT datetime(ts, 'start of month') AS som FROM items WHERE id = 3",
    "SELECT CAST(julianday(ts) AS INTEGER) AS jd FROM items WHERE id = 1",
    "SELECT printf('%d-%s', id, ifnull(name, 'x')) AS lbl FROM items ORDER BY id",
    "SELECT round(log(100.0), 6) AS lg, round(log(2, 8.0), 6) AS lg2 FROM items WHERE id = 1",
    "SELECT trunc(price) AS tp, round(sqrt(qty), 6) AS sq, pow(2, id) AS p "
    "FROM items WHERE id = 1",
    # LIKE case folding agrees across engines throughout the ASCII range
    "SELECT id FROM items WHERE name LIKE 'APPLE%' ORDER BY id",
    "SELECT id FROM items WHERE name LIKE '%Pie' ORDER BY id",
    "SELECT id FROM items WHERE name LIKE 'cHeRrY%' ORDER BY id",
    # SQLite 3.32+ iif
    "SELECT id, iif(price > 3, 'pricey', 'cheap') AS band FROM items ORDER BY id",
    "SELECT iif(qty IS NULL, -1, qty) AS q FROM items ORDER BY id",
    "SELECT instr(name, 'pp') AS pos FROM items WHERE id = 1",
    "SELECT hex(substr(name, 1, 2)) AS h FROM items WHERE id = 2",
    # round-6 scalar parity sweep: quote() typed rendering (NULL -> 'NULL',
    # numbers bare, text quoted), sign/mod/atan2 passthroughs, char/unicode,
    # zeroblob
    "SELECT quote(name) AS q1, quote(price) AS q2, quote(qty) AS q3 "
    "FROM items ORDER BY id",
    "SELECT sign(-price) AS s, mod(id, 3) AS m FROM items ORDER BY id",
    "SELECT round(atan2(id, 2), 9) AS a, round(degrees(pi()), 6) AS d "
    "FROM items WHERE id = 1",
    "SELECT unicode(name) AS u, char(66, 67) AS c FROM items WHERE id = 1",
    "SELECT hex(zeroblob(3)) AS z, length(CAST(name AS BLOB)) AS ol FROM items WHERE id = 1",
    # round-6 session-2: null-safe IS / IS NOT, LIMIT offset-comma form,
    # index hints as no-ops
    "SELECT id FROM items WHERE qty IS 10 ORDER BY id",
    "SELECT id FROM items WHERE qty IS NOT 10 ORDER BY id",
    "SELECT id FROM items WHERE name IS NOT 'banana' AND qty IS qty ORDER BY id",
    "SELECT id FROM items ORDER BY id LIMIT 1, 2",
    "SELECT id FROM items ORDER BY id DESC LIMIT 2, 3",
    "SELECT id FROM items NOT INDEXED WHERE price > 2 ORDER BY id",
    # SQLite bare-column quirk: with exactly one min()/max(), bare columns
    # take values from the extreme row (per group) — rewritten to
    # max_by/min_by (SURVEY B6); prices are distinct so no tie ambiguity
    "SELECT max(price), name FROM items",
    "SELECT min(price), id, name FROM items",
    "SELECT qty, max(price), name FROM items WHERE qty IS NOT NULL GROUP BY qty ORDER BY qty",
    "SELECT max(price) AS top, name AS who, count(*) AS n FROM items",
    # round-4 session-2 parity additions: arithmetic edge semantics, window
    # defaults, FILTER aggregates, text/number coercion in ||
    "SELECT -7 % 3 AS a, 7 % -3 AS b, -7 / 2 AS c",
    "SELECT substr(name, -3) AS v FROM items WHERE id = 1",
    "SELECT price || name AS v FROM items WHERE id = 2",
    "SELECT sum(qty) FILTER (WHERE price > 2) AS s, "
    "count(*) FILTER (WHERE name IS NULL) AS n FROM items",
    "SELECT id FROM items ORDER BY qty, id",
    "SELECT max(name) AS mx, min(name) AS mn FROM items",
    "SELECT id, lag(price, 1, 0.0) OVER (ORDER BY id) AS lp FROM items ORDER BY id",
    "SELECT id, ntile(3) OVER (ORDER BY id) AS b FROM items ORDER BY id",
    "SELECT id, last_value(price) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED "
    "PRECEDING AND UNBOUNDED FOLLOWING) AS lv FROM items ORDER BY id",
    "SELECT group_concat(name, '; ') AS v FROM "
    "(SELECT name FROM items WHERE name IS NOT NULL ORDER BY name)",
    "SELECT id FROM items ORDER BY price DESC LIMIT -1",
    "SELECT id FROM items ORDER BY id LIMIT 3 OFFSET 2",
    "SELECT time(ts) AS t, date(ts) AS d FROM items WHERE id = 1",
    "SELECT strftime('%H:%M', ts) AS hm FROM items WHERE id = 3",
    "SELECT count(DISTINCT qty) AS n, count(qty) AS c FROM items",
    # three-valued logic, positional ORDER BY, ESCAPE, CASE-operand form,
    # and round-half-away-from-zero
    "SELECT id FROM items WHERE id NOT IN (SELECT qty FROM items)",
    "SELECT id FROM items WHERE id IN (SELECT qty FROM items) ORDER BY id",
    "SELECT id, name FROM items WHERE name IS NOT NULL ORDER BY 2, 1",
    "SELECT id FROM items WHERE name LIKE 'a!%%' ESCAPE '!' ORDER BY id",
    "SELECT id, CASE name WHEN 'date' THEN 'd' WHEN 'Apple' THEN 'a' "
    "ELSE '?' END AS tag FROM items ORDER BY id",
    "SELECT round(2.5) AS a, round(3.5) AS b, round(-2.5) AS c",
    "SELECT round(price * 2) AS v FROM items ORDER BY id",
    "SELECT a.id, b.id AS other FROM items a JOIN items b ON b.id = a.id + 1 "
    "WHERE a.id <= 2 ORDER BY a.id",
    "SELECT i.id FROM items i LEFT JOIN items j ON j.qty = i.qty AND j.id < i.id "
    "WHERE j.id IS NULL ORDER BY i.id",
    # arithmetic edge semantics: division/modulo by zero are NULL, substr
    # position 0 consumes one length unit
    "SELECT id / 0 AS a, id % 0 AS b, 1.5 / 0 AS c FROM items WHERE id = 1",
    "SELECT substr(name, 0, 3) AS v FROM items ORDER BY id",
    "SELECT substr(name, 0) AS v FROM items WHERE id = 1",
    "SELECT min(qty) AS mn, max(qty) AS mx, count(*) AS n FROM items WHERE id > 99",
    # strftime: %s/%w embedded in larger formats, classic directives
    "SELECT strftime('%Y-%m-%d@%s', ts) AS v FROM items WHERE id = 1",
    "SELECT strftime('day %w of %Y', ts) AS v FROM items WHERE id = 3",
    "SELECT strftime('%s', ts) AS v FROM items WHERE id = 6",
    "SELECT strftime('%w%w', ts) AS v FROM items WHERE id = 1",
    "SELECT strftime('%j/%Y %H:%M:%S', ts) AS v FROM items WHERE id = 3",
    # month/year arithmetic NORMALIZES day overflow (Jan 31 +1 month is
    # Mar 2/3, never a clamped Feb 28/29)
    "SELECT datetime('2024-01-31 10:00:00', '+1 month') AS v",
    "SELECT datetime('2024-02-29 10:00:00', '+1 year') AS v",
    "SELECT date('2023-01-30', '+1 month') AS v",
    "SELECT date('2024-03-31', '-1 month') AS v",
    "SELECT datetime(ts, '+1 month', 'start of day') AS v FROM items WHERE id = 1",
    # scalar min/max are NULL-strict in SQLite (found by the fuzz harness)
    "SELECT min(qty, 5) AS a, max(qty, 5) AS b FROM items ORDER BY id",
    # remaining SQLite core functions the shim maps
    "SELECT quote(name) AS v FROM items WHERE id = 3",
    "SELECT unicode(name) AS v FROM items WHERE id = 1",
    "SELECT char(72, 105) AS v",
    "SELECT sign(price - 3) AS v FROM items ORDER BY id",
    "SELECT likelihood(price > 2, 0.5) AS v FROM items ORDER BY id",
    "SELECT likely(qty IS NULL) AS a, unlikely(qty IS NULL) AS b "
    "FROM items ORDER BY id",
    # round-8: aggregate FILTER clause — grouped (native Spark path) and
    # windowed (shim rewrites to the CASE form; Spark rejects window FILTER)
    "SELECT sum(price) FILTER (WHERE qty = 10) AS s, "
    "count(*) FILTER (WHERE name IS NOT NULL) AS c FROM items",
    "SELECT id, sum(qty) FILTER (WHERE price > 2) OVER (ORDER BY id) AS s "
    "FROM items ORDER BY id",
    "SELECT id, count(*) FILTER (WHERE qty IS NULL) OVER (ORDER BY id) AS c "
    "FROM items ORDER BY id",
    "SELECT id, count(qty) FILTER (WHERE price < 4) "
    "OVER (PARTITION BY qty IS NULL ORDER BY id) AS c FROM items ORDER BY id",
    # probed quirk: min/max over a SLIDING frame start silently IGNORE the
    # filter in SQLite (the shim drops it to match); an UNBOUNDED
    # PRECEDING start honors it
    "SELECT id, max(price) FILTER (WHERE name LIKE 'a%') "
    "OVER (ORDER BY id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m "
    "FROM items ORDER BY id",
    "SELECT id, max(price) FILTER (WHERE name LIKE 'a%') "
    "OVER (ORDER BY id) AS m FROM items ORDER BY id",
    "SELECT id, min(price) FILTER (WHERE qty = 10) "
    "OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS m FROM items ORDER BY id",
    "SELECT id, min(qty) FILTER (WHERE price > 2) "
    "OVER (ORDER BY id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS m "
    "FROM items ORDER BY id",
    "SELECT id, avg(qty) FILTER (WHERE qty > 2) OVER (ORDER BY id) AS a "
    "FROM items ORDER BY id",
    "SELECT count(DISTINCT qty) FILTER (WHERE price >= 1) AS c FROM items",
    # round-8: SQLite math functions (enabled in this stdlib build) — log()
    # one-arg is BASE-10 (the shim must NOT pass it to Spark's natural
    # log), mod() always returns REAL, trunc() is numeric (date-only in
    # Spark), pow/pi/degrees/sqrt agree natively
    "SELECT sqrt(price) AS a, pow(2, qty) AS b FROM items WHERE id = 3",
    "SELECT log(100.0) AS a, log(2, 8) AS b, log10(price) AS c, ln(price) AS d "
    "FROM items WHERE id = 3",
    "SELECT mod(qty, 3) AS a, mod(-7, 3) AS b FROM items WHERE id = 1",
    "SELECT trunc(price) AS a, trunc(-price) AS b FROM items WHERE id = 1",
    # floor/ceil VALUES agree; the return storage class is a documented
    # dynamic-typing divergence (SQLite preserves REAL, Spark yields
    # BIGINT — dialect.py header), so the pin casts to INTEGER
    "SELECT CAST(floor(price) AS INTEGER) AS a, CAST(ceil(price) AS INTEGER) AS b, "
    "CAST(ceiling(price) AS INTEGER) AS c FROM items WHERE id = 2",
    "SELECT degrees(pi()) AS a, radians(180.0) AS b, sin(0.0) AS c, "
    "atan2(1.0, 1.0) AS d FROM items WHERE id = 1",
    "SELECT exp(0.0) AS a, log2(8.0) AS b, sinh(0.0) AS c, asinh(0.0) AS d "
    "FROM items WHERE id = 1",
    "SELECT iif(qty > 5, 'big', 'small') AS v FROM items ORDER BY id",
    # round-8: json_each table-valued function (variant_explode rewrite).
    # key/value/atom are CAST to TEXT: SQLite returns them dynamically
    # typed, the engine as TEXT (the documented json-family divergence) —
    # the VALUES must agree
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, type, "
    "CAST(atom AS TEXT) AS a, fullkey, path "
    "FROM json_each('[3, \"x\", null, 4.5, true, {\"a\": 1, \"z\": 2}, [7]]') "
    "ORDER BY fullkey",
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, type "
    "FROM json_each('{\"b\": 1, \"a\": \"t\"}') ORDER BY k",
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, type, fullkey, path "
    "FROM json_each('{\"a\": [5, 6]}', '$.a') ORDER BY fullkey",
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, type, fullkey "
    "FROM json_each('42')",
    "SELECT i.id, CAST(je.key AS TEXT) AS k, CAST(je.value AS TEXT) AS v, je.type "
    "FROM items i, json_each('[' || i.id || ', \"tag\"]') je "
    "ORDER BY i.id, je.fullkey",
    "SELECT count(*) AS n FROM items i, json_each('[1, 2, 3]')",
    # total() as a window function (wholesale rewrite — the scalar mapping
    # would strand the OVER clause), with and without FILTER
    "SELECT id, total(qty) OVER (ORDER BY id) AS t FROM items ORDER BY id",
    "SELECT id, total(qty) FILTER (WHERE price > 2) OVER "
    "(ORDER BY id ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS t "
    "FROM items ORDER BY id",
    # round-8: RIGHT / FULL OUTER JOIN (SQLite 3.39+, present in this
    # stdlib build; Spark native) — self-joins with non-matching sides
    "SELECT x.id AS xi, y.id AS yi FROM "
    "(SELECT id FROM items WHERE id <= 4) x RIGHT JOIN "
    "(SELECT id FROM items WHERE id >= 3) y ON x.id = y.id ORDER BY y.id",
    "SELECT x.id AS xi, y.id AS yi, x.nm AS xn FROM "
    "(SELECT id, name AS nm FROM items WHERE id <= 3) x FULL OUTER JOIN "
    "(SELECT id FROM items WHERE id >= 5) y ON x.id = y.id",
    "SELECT count(*) AS n, count(x.id) AS nx FROM "
    "(SELECT id FROM items WHERE qty = 10) x "
    "FULL JOIN items y ON x.id = y.id",
    # round-9: string-literal respelling — SQLite literals have NO escape
    # character (backslash is an ordinary byte), Spark's parser processes
    # C-style escapes; _escape_string_literals doubles them so the VALUES
    # agree
    r"SELECT 'a\b' AS v, length('a\b') AS n",
    r"SELECT replace('a\b\c', '\', '/') AS v",
    r"SELECT count(*) AS n FROM items WHERE 'a\b' LIKE 'a\b'",
    r"SELECT count(*) AS n FROM items WHERE 'ab' LIKE 'a\b'",
    r"SELECT count(*) AS n FROM items WHERE 'a\b' GLOB 'a\b'",
    r"SELECT count(*) AS n FROM items WHERE name REGEXP '\w+'",
    # round-9: LIKE ... ESCAPE — SQLite's escape char may precede ANY
    # character; the shim re-encodes literal patterns into Spark's
    # narrower backslash-escape spelling and drops the clause
    r"SELECT count(*) AS n FROM items WHERE 'ab' LIKE 'a\b' ESCAPE '\'",
    "SELECT count(*) AS n FROM items WHERE 'a%b' LIKE 'aX%b' ESCAPE 'X'",
    "SELECT count(*) AS n FROM items WHERE 'azb' LIKE 'aX%b' ESCAPE 'X'",
    "SELECT count(*) AS n FROM items WHERE 'aXb' LIKE 'aXXb' ESCAPE 'X'",
    "SELECT count(*) AS n FROM items WHERE 'a%b' LIKE 'aXb' ESCAPE 'X'",
    # round-9: the FUNCTION forms get the same literal treatment — note
    # like(PATTERN, ITEM [, ESCAPE]) reverses the infix operand order
    r"SELECT like('a\b', 'a\b') AS v, like('a\b', 'ab') AS v2",
    r"SELECT like('aX%b', 'a%b', 'X') AS v, like('aX%b', 'azb', 'X') AS v2",
    r"SELECT like('aXXb', 'aXb', 'X') AS v, like('%', NULL) AS v2",
    r"SELECT glob('a\b*', 'a\bc') AS v, glob('a\b*', 'abc') AS v2",
    # round-9 (ADVICE r8 medium): 2-arg json_each whose children are
    # containers — value must be the subtree text, re-extracted relative
    # to the iteration root, not the full document
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, type, "
    "CAST(atom AS TEXT) AS a, fullkey, path "
    "FROM json_each('{\"a\": [[1,2],{\"b\":[3]},\"s\"]}', '$.a') "
    "ORDER BY fullkey",
    # round-9 (ADVICE r8 low): non-identifier object keys — fullkey gets
    # SQLite's quoted-segment rendering and container values still extract
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, fullkey "
    "FROM json_each('{\"a b\": {\"c d\":[1,2]}, \"x.y\": [5], "
    "\"Cap9\": 1, \"_u\": 2, \"\": 9}') ORDER BY k",
    "SELECT CAST(value AS TEXT) AS v, fullkey "
    "FROM json_each('{\"q\\\"t\": [1]}') ORDER BY fullkey",
    # round-9: 2-arg path corners — a QUOTED path key (SQLite's $.\"a b\"
    # translates to Spark's bracket subscript), a path addressing a bare
    # scalar (one row, key NULL, fullkey = path — probed), a nested-index
    # path, and a missing path (zero rows)
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, fullkey, path "
    "FROM json_each('{\"a b\": [1,2]}', '$.\"a b\"') ORDER BY fullkey",
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, type, fullkey, "
    "path FROM json_each('{\"a\": 5}', '$.a')",
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, fullkey "
    "FROM json_each('{\"a\":[[7,8],9]}', '$.a[0]') ORDER BY fullkey",
    "SELECT CAST(key AS TEXT) AS k FROM json_each('{\"a\": [1]}', '$.missing')",
    # round-9 (ADVICE r8 low): grouped (non-window) FILTER on aggregates
    # whose rewrites wrap the call — total / group_concat fold to CASE;
    # zero-match group_concat is NULL, zero-match total is 0.0
    "SELECT total(price) FILTER (WHERE qty = 10) AS t, "
    "group_concat(id, '|') FILTER (WHERE price < 3) AS gc FROM items",
    "SELECT total(price) FILTER (WHERE qty = 99) AS t, "
    "group_concat(id) FILTER (WHERE qty = 99) AS gc FROM items",
    "SELECT qty, group_concat(name, '/') FILTER (WHERE price > 2) AS gc "
    "FROM items GROUP BY qty ORDER BY qty NULLS FIRST",
    # round-9: group_concat over zero non-NULL values is NULL, not ''
    "SELECT group_concat(name) AS gc FROM items WHERE name IS NULL",
    # round-9: group_concat as a WINDOW function (wholesale rewrite — the
    # scalar mapping would strand OVER on concat_ws), incl. a frame whose
    # prefix holds no non-NULL value (→ NULL) and a windowed FILTER
    "SELECT id, group_concat(name, '|') OVER (ORDER BY id) AS gc "
    "FROM items ORDER BY id",
    "SELECT id, group_concat(name, '+') OVER "
    "(ORDER BY (name IS NOT NULL), id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gc "
    "FROM items ORDER BY id",
    "SELECT id, group_concat(name, '+') FILTER (WHERE price > 2) OVER "
    "(ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gc "
    "FROM items ORDER BY id",
    # round-10: printf %q/%Q/%w implemented natively (VERDICT r9 item 2) —
    # quote-doubling, quoted-or-bare-NULL, double-quote doubling, NULL and
    # non-string corners, %% escapes no longer false-positive the scan,
    # * width in a neighbouring conversion, missing-argument NULL
    "SELECT printf('%q', name) AS v FROM items ORDER BY id",
    "SELECT printf('%Q', name) AS v FROM items ORDER BY id",
    "SELECT printf('%w', name) AS v FROM items ORDER BY id",
    "SELECT printf('%q', qty) AS v FROM items ORDER BY id",
    "SELECT printf('%Q', qty) AS v FROM items ORDER BY id",
    "SELECT printf('INSERT INTO t VALUES(%Q, %d)', name, id) AS v "
    "FROM items ORDER BY id",
    "SELECT printf('100%%quality: %d', qty) AS v FROM items WHERE id = 1",
    "SELECT printf('%d=%q;%s', id, name, name) AS v FROM items WHERE id = 3",
    "SELECT printf('%!q', name) AS v FROM items WHERE id = 1",
    "SELECT format('[%w]', name) AS v FROM items ORDER BY id",
    "SELECT printf('%q') AS v",
    "SELECT printf('%Q') AS v",
    "SELECT printf('a%%b%qc%%d', name) AS v FROM items WHERE id = 4",
    # round-10: non-literal GLOB patterns via the row-time TROUGH_GLOB_REGEX
    # fallback (VERDICT r9 item 5) — column patterns, derived patterns,
    # NULL threading, NOT GLOB, function form
    "SELECT id FROM items WHERE name GLOB name ORDER BY id",
    "SELECT id FROM items WHERE name GLOB substr(name, 1, 2) || '*' ORDER BY id",
    "SELECT id FROM items WHERE name NOT GLOB substr(name, 1, 1) || '*' ORDER BY id",
    "SELECT glob(substr(name, 1, 1) || '*', name) AS v FROM items ORDER BY id",
    "SELECT glob(name, NULL) AS v FROM items WHERE id = 1",
    "SELECT glob(NULL, name) AS v FROM items WHERE id = 1",
    "SELECT id FROM items WHERE name GLOB upper(substr(name, 1, 1)) || '*' "
    "ORDER BY id",
    # round-10: json_tree (VERDICT r9 item 3) — recursive walk incl. the
    # root row, nested containers, quoted keys, 2-arg container/scalar
    # roots, parent/child threading via fullkey (ids are opaque in BOTH
    # engines and not compared)
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, type, "
    "CAST(atom AS TEXT) AS a, fullkey, path "
    "FROM json_tree('{\"a\":[1,{\"b\":2}],\"c\":\"x\",\"z w\":true}') "
    "ORDER BY fullkey",
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, fullkey, path "
    "FROM json_tree('{\"a\":[1,{\"b\":2}]}', '$.a') ORDER BY fullkey",
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, type, fullkey, "
    "path FROM json_tree('{\"c\":\"x\"}', '$.c')",
    "SELECT CAST(key AS TEXT) AS k, type, fullkey FROM "
    "json_tree('[[[[[\"deep\"]]]]]') ORDER BY fullkey",
    "SELECT count(*) AS n FROM json_tree(NULL)",
    "SELECT count(*) AS n FROM json_tree('{\"c\":1}', '$.nope')",
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, fullkey "
    "FROM json_tree('{\"e\":[],\"o\":{}}') ORDER BY fullkey",
    "SELECT CAST(jt.value AS TEXT) AS v, jt.fullkey FROM items, "
    "json_tree(json_object('n', items.id, 'nm', items.name)) jt "
    "WHERE items.id <= 2 ORDER BY items.id, jt.fullkey",
    # round-10: json_each 2-arg scalar corners fixed by the variant_get
    # re-encoding — plain string target (was a crash), container-looking
    # string (was silently iterated), JSON null at path (was zero rows)
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, type, fullkey "
    "FROM json_each('{\"c\":\"x\"}', '$.c')",
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, type, fullkey "
    "FROM json_each('{\"c\":\"[1]\"}', '$.c')",
    "SELECT CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, type, fullkey "
    "FROM json_each('{\"c\":null}', '$.c')",
    # round-10 (ADVICE r9 low): CONCATENATED LIKE patterns — the literal
    # half is value-corrected, the dynamic half keeps Spark's escape
    # reading; escape-free concatenations must agree exactly
    "SELECT id FROM items WHERE name LIKE substr(name, 1, 2) || '%' ORDER BY id",
    "SELECT id FROM items WHERE name LIKE 'it''s' || '%' ORDER BY id",
    "SELECT id FROM items WHERE name LIKE '%' || 'clock' ORDER BY id",
    # round-10: json_extract with QUOTED path segments now translated
    # (previously passed through verbatim and silently returned NULL)
    "SELECT CAST(json_extract('{\"z w\": 5}', '$.\"z w\"') AS TEXT) AS v",
    "SELECT CAST(json_extract('{\"a\":{\"b c\":[1,2]}}', '$.a.\"b c\"[1]') AS TEXT) AS v",
]

DDL = (
    "CREATE TABLE items (id INTEGER PRIMARY KEY, name TEXT, price REAL, "
    "qty INTEGER, ts DATETIME)"
)


def _regexp(pattern, item):
    import re

    if item is None:
        return False
    return re.search(pattern, item) is not None


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("diff")
    db_path = str(tmp / "seg.sqlite")
    conn = sqlite3.connect(db_path)
    conn.create_function("REGEXP", 2, _regexp)  # as the reference registers it
    conn.execute(DDL)
    conn.executemany("INSERT INTO items VALUES (?, ?, ?, ?, ?)", ROWS)
    conn.commit()

    store = SegmentStore(spark, str(tmp / "store"))
    store.set_schema("items_schema", DDL + ";")
    store.provision("diffseg", "items_schema")
    placeholders = []
    for r in ROWS:
        vals = ", ".join(
            "NULL"
            if v is None
            else (f"""'{v.replace("'", "''")}'""" if isinstance(v, str) else str(v))
            for v in r
        )
        placeholders.append(f"INSERT INTO items (id, name, price, qty, ts) VALUES ({vals})")
    store.write("diffseg", ";\n".join(placeholders))
    yield conn, store
    conn.close()


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, int) and not isinstance(v, bool):
        return v
    return str(v)


@pytest.mark.parametrize("sql", QUERIES)
def test_sqlite_vs_engine(engines, sql):
    conn, store = engines
    expected = [tuple(_canon(v) for v in row) for row in conn.execute(sql).fetchall()]
    got_rows = store.read("diffseg", sql)
    got = [tuple(_canon(v) for v in r.values()) for r in got_rows]
    # unordered queries: compare as multisets
    if "ORDER BY" in sql.upper().rsplit(")", 1)[-1]:
        assert got == expected, f"ordered mismatch for {sql!r}"
    else:
        assert sorted(map(repr, got)) == sorted(map(repr, expected)), (
            f"row-set mismatch for {sql!r}: {got} vs {expected}"
        )
    assert not (math.nan in got and math.nan not in expected)


def test_json_tree_empty_key_divergence_pinned(engines):
    """An object key "" in json_tree.  A scalar under it matches SQLite.
    A container under it is a KNOWN DIVERGENCE of
    ``_json_tree_lateral_views``: the text re-extraction at ``$.""``
    fails, so the container row's value is NULL and its children are
    missing.  Pinned against live SQLite, so a fix or a further drift
    shows here."""
    conn, store = engines
    cols = "CAST(key AS TEXT) AS k, CAST(value AS TEXT) AS v, type, fullkey"

    def both(doc):
        sql = f"SELECT {cols} FROM json_tree('{doc}') ORDER BY fullkey"
        got = [tuple(r.values()) for r in store.read("diffseg", sql)]
        return conn.execute(sql).fetchall(), got

    expected, got = both('{"":5,"b":2}')
    assert got == expected
    expected, got = both('{"":[1,2],"b":2}')
    assert expected == [
        (None, '{"":[1,2],"b":2}', "object", "$"),
        ("", "[1,2]", "array", '$.""'),
        ("0", "1", "integer", '$.""[0]'),
        ("1", "2", "integer", '$.""[1]'),
        ("b", "2", "integer", "$.b"),
    ]
    assert got == [
        expected[0],
        ("", None, "array", '$.""'),
        expected[4],
    ]


TREE_DDL = "CREATE TABLE nodes (id INTEGER PRIMARY KEY, name TEXT, parent INTEGER)"
TREE_ROWS = "(1, 'root', NULL), (2, 'a', 1), (3, 'b', 1), (4, 'a1', 2), (5, 'a1x', 4)"


@pytest.mark.parametrize(
    "sql",
    [
        # ancestors with their depth: two columns in base and step
        "WITH RECURSIVE up(id, depth) AS (SELECT id, 0 FROM nodes WHERE id = 5 "
        "UNION ALL SELECT n.parent, up.depth + 1 FROM nodes n JOIN up ON n.id = up.id "
        "WHERE n.parent IS NOT NULL) SELECT id, depth FROM up ORDER BY depth",
        # descendants with a path string, UNION (distinct) termination
        "WITH RECURSIVE down(id, path) AS (SELECT id, name FROM nodes WHERE id = 1 "
        "UNION SELECT n.id, down.path || '/' || n.name FROM nodes n "
        "JOIN down ON n.parent = down.id) SELECT id, path FROM down ORDER BY id",
        # a function call with arguments in the step's select list
        "WITH RECURSIVE c(x, y) AS (SELECT 1, 1 UNION ALL "
        "SELECT x + 1, max(y * 2, x) FROM c WHERE x < 5) SELECT x, y FROM c ORDER BY x",
        # three columns, a CASE in the step; no column list, a comma in a literal
        "WITH RECURSIVE f(n, a, b) AS (SELECT 0, 0, 1 UNION ALL SELECT n + 1, b, "
        "CASE WHEN n % 2 = 0 THEN a + b ELSE b + a END FROM f WHERE n < 10) "
        "SELECT n, a, b FROM f ORDER BY n",
        "WITH RECURSIVE w AS (SELECT id, parent, name || ', ' AS trail FROM nodes "
        "WHERE id = 5 UNION ALL SELECT n.id, n.parent, w.trail || n.name || ', ' "
        "FROM nodes n JOIN w ON n.id = w.parent) SELECT id, trail FROM w ORDER BY id",
        # a plain CTE after the recursive one, joined in the outer SELECT
        "WITH RECURSIVE c(x) AS (SELECT 1 UNION ALL SELECT x + 1 FROM c WHERE x < 3), "
        "d AS (SELECT 7 AS y) SELECT x, y FROM c, d",
    ],
)
def test_recursive_cte_multi_column_matches_sqlite(spark, tmp_path, sql):
    conn = sqlite3.connect(":memory:")
    conn.execute(TREE_DDL)
    conn.execute(f"INSERT INTO nodes VALUES {TREE_ROWS}")
    store = SegmentStore(spark, str(tmp_path / "store"))
    store.set_schema("tree", TREE_DDL + ";")
    store.provision("treeseg", "tree")
    store.write("treeseg", f"INSERT INTO nodes VALUES {TREE_ROWS}")
    expected = conn.execute(sql).fetchall()
    assert expected
    assert [tuple(r.values()) for r in store.read("treeseg", sql)] == expected


def test_like_case_sensitivity_modes(engines):
    """LIKE parity: default LIKE folds case identically for ASCII (above);
    PRAGMA case_sensitive_like = ON turns folding OFF in both engines.
    KNOWN DIVERGENCE (documented in dialect.py): default-mode folding is
    ASCII-only in SQLite but full-Unicode in Spark ILIKE — 'Éclair' LIKE
    'é%' differs; case-sensitive mode has no such caveat."""
    import trough_spark.dialect as dialect

    conn, store = engines
    q = "SELECT id FROM items WHERE name LIKE 'apple%' ORDER BY id"
    assert [r["id"] for r in store.read("diffseg", q)] == [1, 4]
    conn.execute("PRAGMA case_sensitive_like = ON")
    store.write("diffseg", "PRAGMA case_sensitive_like = ON")
    try:
        expected = [row[0] for row in conn.execute(q).fetchall()]
        assert expected == [4]  # 'Apple' no longer matches
        assert [r["id"] for r in store.read("diffseg", q)] == expected
    finally:
        conn.execute("PRAGMA case_sensitive_like = OFF")
        store.write("diffseg", "PRAGMA case_sensitive_like = OFF")
        assert dialect.case_sensitive_like is False


# ---------------------------------------------------------------------------
# Trigger execution (SURVEY §2.B14): the reference executescript()s writes
# inside SQLite wrapped in one BEGIN..COMMIT (trough/write.py:38-40), where
# recorded triggers FIRE on subsequent DML.  These tests run the identical
# script through live SQLite (same manual-transaction wrapper) and through
# SegmentStore.write, then diff the full table states.
# ---------------------------------------------------------------------------

TRIGGER_DDL = (
    "CREATE TABLE items (id INTEGER PRIMARY KEY, name TEXT, price REAL, qty INTEGER);\n"
    "CREATE TABLE audit (item_id INTEGER, action TEXT, old_price REAL, new_price REAL);\n"
)


def _sqlite_script(conn, script):
    """Run a write script the way the reference does: one manual txn
    (trough/write.py:38-40) — all-or-nothing, like SegmentStore.write."""
    script = script.rstrip().rstrip(";") + ";"
    conn.executescript("BEGIN TRANSACTION;\n" + script + "\nCOMMIT;\n")
    conn.commit()


def _table_state(conn, store, seg, table, order):
    sql = f"SELECT * FROM {table} ORDER BY {order}"
    expected = [tuple(_canon(v) for v in row) for row in conn.execute(sql).fetchall()]
    got = [tuple(_canon(v) for v in r.values()) for r in store.read(seg, sql)]
    return expected, got


@pytest.fixture()
def trig_engines(spark, tmp_path):
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None  # manual transactions, reference-style
    conn.executescript(TRIGGER_DDL)
    store = SegmentStore(spark, str(tmp_path / "store"))
    store.set_schema("trig_schema", TRIGGER_DDL)
    store.provision("trigseg", "trig_schema")
    yield conn, store
    conn.close()


def _both(conn, store, script):
    _sqlite_script(conn, script)
    store.write("trigseg", script)


def test_after_insert_trigger_matches_sqlite(trig_engines):
    conn, store = trig_engines
    _both(
        conn,
        store,
        "CREATE TRIGGER log_ins AFTER INSERT ON items "
        "WHEN NEW.price > 2 "
        "BEGIN INSERT INTO audit VALUES (NEW.id, 'ins:' || NEW.name, NULL, NEW.price); END",
    )
    _both(
        conn,
        store,
        "INSERT INTO items VALUES (1, 'apple', 3.5, 10);\n"
        "INSERT INTO items VALUES (2, 'banana', 1.25, 5);\n"  # WHEN false: no audit row
        "INSERT INTO items (id, name, price, qty) VALUES (3, 'cherry', 7.0, 4)",
    )
    for table, order in (("items", "id"), ("audit", "item_id")):
        expected, got = _table_state(conn, store, "trigseg", table, order)
        assert got == expected and expected, f"{table} diverged: {got} vs {expected}"


def test_update_delete_triggers_match_sqlite(trig_engines):
    conn, store = trig_engines
    _both(
        conn,
        store,
        "CREATE TRIGGER log_upd AFTER UPDATE OF price ON items "
        "BEGIN INSERT INTO audit VALUES (OLD.id, 'upd', OLD.price, NEW.price); END;\n"
        "CREATE TRIGGER log_del BEFORE DELETE ON items "
        "BEGIN INSERT INTO audit VALUES (OLD.id, 'del:' || OLD.name, OLD.price, NULL); END;\n"
        "INSERT INTO items VALUES (1, 'apple', 3.5, 10);\n"
        "INSERT INTO items VALUES (2, 'banana', 1.25, 5);\n"
        "INSERT INTO items VALUES (3, 'cherry', 7.0, 4)",
    )
    # UPDATE OF price: fires only when price is assigned
    _both(conn, store, "UPDATE items SET qty = 99 WHERE id = 1")  # no audit row
    _both(conn, store, "UPDATE items SET price = price * 2 WHERE qty >= 5")
    _both(conn, store, "DELETE FROM items WHERE id = 3")
    for table, order in (("items", "id"), ("audit", "item_id, action, old_price")):
        expected, got = _table_state(conn, store, "trigseg", table, order)
        assert got == expected and expected, f"{table} diverged: {got} vs {expected}"


def test_raise_abort_rolls_back_whole_script(trig_engines):
    conn, store = trig_engines
    _both(
        conn,
        store,
        "CREATE TRIGGER no_free BEFORE INSERT ON items "
        "WHEN NEW.price <= 0 "
        "BEGIN SELECT RAISE(ABORT, 'price must be positive'); END;\n"
        "INSERT INTO items VALUES (1, 'apple', 3.5, 10)",
    )
    bad = (
        "INSERT INTO items VALUES (2, 'ok', 9.0, 1);\n"
        "INSERT INTO items VALUES (3, 'freebie', 0.0, 1)"
    )
    with pytest.raises(sqlite3.IntegrityError):
        _sqlite_script(conn, bad)
    conn.execute("ROLLBACK")  # reference txn wrapper leaves the txn open on abort
    from trough_spark.store import TriggerAbort

    with pytest.raises(TriggerAbort, match="price must be positive"):
        store.write("trigseg", bad)
    # all-or-nothing: the 'ok' row must NOT have landed in either engine
    expected, got = _table_state(conn, store, "trigseg", "items", "id")
    assert got == expected == [(1, "apple", 3.5, 10)]


def test_drop_trigger_stops_firing(trig_engines):
    conn, store = trig_engines
    _both(
        conn,
        store,
        "CREATE TRIGGER log_ins AFTER INSERT ON items "
        "BEGIN INSERT INTO audit VALUES (NEW.id, 'ins', NULL, NEW.price); END;\n"
        "INSERT INTO items VALUES (1, 'apple', 3.5, 10);\n"
        "DROP TRIGGER log_ins;\n"
        "INSERT INTO items VALUES (2, 'banana', 1.25, 5)",
    )
    for table, order in (("items", "id"), ("audit", "item_id")):
        expected, got = _table_state(conn, store, "trigseg", table, order)
        assert got == expected, f"{table} diverged: {got} vs {expected}"
    expected, _ = _table_state(conn, store, "trigseg", "audit", "item_id")
    assert len(expected) == 1  # only the pre-DROP insert audited


def test_trigger_body_update_and_cascade_delete(trig_engines):
    conn, store = trig_engines
    _both(
        conn,
        store,
        "INSERT INTO items VALUES (1, 'apple', 3.5, 10);\n"
        "INSERT INTO items VALUES (2, 'banana', 1.25, 5);\n"
        "INSERT INTO audit VALUES (1, 'seed', NULL, NULL);\n"
        "INSERT INTO audit VALUES (2, 'seed', NULL, NULL);\n"
        # trigger body exercising UPDATE and DELETE (not just INSERT)
        "CREATE TRIGGER on_del AFTER DELETE ON items BEGIN "
        "DELETE FROM audit WHERE item_id = OLD.id; "
        "UPDATE items SET qty = qty + OLD.qty WHERE id = 1; "
        "END;\n"
        "DELETE FROM items WHERE id = 2",
    )
    for table, order in (("items", "id"), ("audit", "item_id")):
        expected, got = _table_state(conn, store, "trigseg", table, order)
        assert got == expected, f"{table} diverged: {got} vs {expected}"
    expected, _ = _table_state(conn, store, "trigseg", "items", "id")
    assert expected == [(1, "apple", 3.5, 15)]


def test_insert_select_fires_triggers(trig_engines):
    conn, store = trig_engines
    _both(
        conn,
        store,
        "CREATE TRIGGER log_ins AFTER INSERT ON items "
        "BEGIN INSERT INTO audit VALUES (NEW.id, 'ins:' || NEW.name, NULL, NEW.price); END;\n"
        "INSERT INTO items VALUES (1, 'apple', 3.5, 10);\n"
        "INSERT INTO items VALUES (2, 'banana', 1.25, 5);\n"
        # INSERT..SELECT on the triggered table: fires per produced row
        "INSERT INTO items (id, name, price, qty) "
        "SELECT id + 10, name || '-copy', price * 2, qty FROM items WHERE price > 2",
    )
    for table, order in (("items", "id"), ("audit", "item_id, action")):
        expected, got = _table_state(conn, store, "trigseg", table, order)
        assert got == expected and expected, f"{table} diverged: {got} vs {expected}"
    expected, _ = _table_state(conn, store, "trigseg", "audit", "item_id")
    assert len(expected) == 3  # 2 direct + 1 from the SELECT (price>2: apple)


def test_raise_ignore_skips_row_and_later_triggers(trig_engines):
    """RAISE(IGNORE) in a BEFORE INSERT trigger: abandons the rest of the
    body, all subsequent trigger programs for that row, and the row's
    insert — while body statements BEFORE the raise persist (probed against
    live sqlite3)."""
    conn, store = trig_engines
    _both(
        conn,
        store,
        # created first => fires LAST (reverse creation order)
        "CREATE TRIGGER keep_log BEFORE INSERT ON items "
        "BEGIN INSERT INTO audit VALUES (NEW.id, 'seen', NULL, NEW.price); END;\n"
        # created second => fires FIRST; IGNOREs free items
        "CREATE TRIGGER no_free BEFORE INSERT ON items WHEN NEW.price <= 0 "
        "BEGIN INSERT INTO audit VALUES (NEW.id, 'pre-ignore', NULL, NULL); "
        "SELECT RAISE(IGNORE); "
        "INSERT INTO audit VALUES (NEW.id, 'post-ignore', NULL, NULL); END;\n"
        "INSERT INTO items VALUES (1, 'apple', 3.5, 10);\n"
        "INSERT INTO items VALUES (2, 'freebie', 0.0, 1);\n"
        "INSERT INTO items VALUES (3, 'cherry', 7.0, 4)",
    )
    for table, order in (("items", "id"), ("audit", "item_id, action")):
        expected, got = _table_state(conn, store, "trigseg", table, order)
        assert got == expected, f"{table} diverged: {got} vs {expected}"
    items, _ = _table_state(conn, store, "trigseg", "items", "id")
    assert [r[0] for r in items] == [1, 3]  # freebie skipped
    audit, _ = _table_state(conn, store, "trigseg", "audit", "item_id, action")
    # row 2: 'pre-ignore' persisted, no 'post-ignore', no 'seen' (keep_log abandoned)
    assert (2, "pre-ignore", None, None) in audit
    assert not any(a == 2 and t in ("post-ignore", "seen") for a, t, *_ in audit)


def test_duplicate_pk_insert_raises_and_rolls_back(trig_engines):
    """SQLite raises 'UNIQUE constraint failed' on a duplicate PRIMARY KEY
    in a plain INSERT, aborting the reference's script transaction; the
    engine must do the same (found while fuzzing INSERT..SELECT — appending
    the dup silently was a B15 gap)."""
    conn, store = trig_engines
    _both(conn, store, "INSERT INTO items VALUES (1, 'apple', 3.5, 10)")
    bad = (
        "INSERT INTO items VALUES (2, 'ok', 1.0, 1);\n"
        "INSERT INTO items VALUES (1, 'dup', 9.9, 9)"
    )
    with pytest.raises(sqlite3.IntegrityError):
        _sqlite_script(conn, bad)
    conn.execute("ROLLBACK")
    from trough_spark.dialect import QueryRejected

    with pytest.raises(QueryRejected, match="UNIQUE constraint failed: items.id"):
        store.write("trigseg", bad)
    expected, got = _table_state(conn, store, "trigseg", "items", "id")
    assert got == expected == [(1, "apple", 3.5, 10)]  # all-or-nothing both sides

    # INSERT..SELECT duplicating keys fails identically
    bad2 = "INSERT INTO items (id, name, price, qty) SELECT id, name, price, qty FROM items"
    with pytest.raises(sqlite3.IntegrityError):
        _sqlite_script(conn, bad2)
    conn.execute("ROLLBACK")
    with pytest.raises(QueryRejected, match="UNIQUE constraint failed"):
        store.write("trigseg", bad2)

    # UPDATE landing two rows on one pk fails identically
    _both(conn, store, "INSERT INTO items VALUES (2, 'pear', 1.0, 1)")
    bad3 = "UPDATE items SET id = 1 WHERE id = 2"
    with pytest.raises(sqlite3.IntegrityError):
        _sqlite_script(conn, bad3)
    conn.execute("ROLLBACK")
    with pytest.raises(QueryRejected, match="UNIQUE constraint failed"):
        store.write("trigseg", bad3)
    expected, got = _table_state(conn, store, "trigseg", "items", "id")
    assert got == expected


CHECK_DDL = (
    "CREATE TABLE c (id INTEGER PRIMARY KEY, v INTEGER CHECK (v > 0), "
    "w TEXT NOT NULL, CONSTRAINT wlen CHECK (length(w) < 5), CHECK (v < 100));\n"
)


@pytest.fixture()
def check_engines(spark, tmp_path):
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(CHECK_DDL)
    store = SegmentStore(spark, str(tmp_path / "cstore"))
    store.set_schema("c_schema", CHECK_DDL)
    store.provision("cseg", "c_schema")
    yield conn, store
    conn.close()


def _expect_same_error(conn, store, script, match):
    from trough_spark.dialect import QueryRejected

    with pytest.raises(sqlite3.IntegrityError, match=match):
        _sqlite_script(conn, script)
    conn.execute("ROLLBACK")
    with pytest.raises(QueryRejected, match=match):
        store.write("cseg", script)


@_wide_only
def test_check_and_not_null_constraints_match_sqlite(check_engines):
    """CHECK / NOT NULL enforcement (probed semantics): violations raise
    SQLite's exact message (named constraint -> name, else expression
    text), NULL CHECK results pass, OR IGNORE skips violating rows, OR
    REPLACE and upserts still raise, UPDATE is enforced."""
    conn, store = check_engines
    _both_c = lambda script: (_sqlite_script(conn, script), store.write("cseg", script))  # noqa: E731

    _expect_same_error(conn, store, "INSERT INTO c VALUES (1, -1, 'a')", "CHECK constraint failed: v > 0")
    _expect_same_error(conn, store, "INSERT INTO c VALUES (1, 1, 'toolong')", "CHECK constraint failed: wlen")
    _expect_same_error(conn, store, "INSERT INTO c VALUES (1, 500, 'a')", "CHECK constraint failed: v < 100")
    _expect_same_error(conn, store, "INSERT INTO c (id, v) VALUES (1, 5)", "NOT NULL constraint failed: c.w")

    # NULL CHECK result passes (v IS NULL -> v > 0 is NULL -> pass)
    _both_c("INSERT INTO c VALUES (1, NULL, 'ok')")
    # OR IGNORE skips the violating rows, keeps the good one
    _both_c("INSERT OR IGNORE INTO c VALUES (2, -7, 'x'), (3, 3, 'y'), (4, 4, NULL)")
    # UPDATE enforcement
    _expect_same_error(conn, store, "UPDATE c SET v = -2 WHERE id = 3", "CHECK constraint failed: v > 0")
    _both_c("UPDATE c SET v = 9 WHERE id = 3")

    expected, got = _table_state(conn, store, "cseg", "c", "id")
    assert got == expected == [(1, None, "ok"), (3, 9, "y")]


def test_check_constraint_upsert_interplay(check_engines):
    """DO NOTHING and OR REPLACE still RAISE on CHECK violations (probed);
    DO UPDATE raises when the update lands on a violating value."""
    conn, store = check_engines
    _sqlite_script(conn, "INSERT INTO c VALUES (1, 5, 'a')")
    store.write("cseg", "INSERT INTO c VALUES (1, 5, 'a')")
    _expect_same_error(
        conn, store,
        "INSERT INTO c VALUES (2, -1, 'b') ON CONFLICT (id) DO NOTHING",
        "CHECK constraint failed: v > 0",
    )
    _expect_same_error(
        conn, store,
        "INSERT OR REPLACE INTO c VALUES (2, -1, 'b')",
        "CHECK constraint failed: v > 0",
    )
    _expect_same_error(
        conn, store,
        "INSERT INTO c VALUES (1, 6, 'z') ON CONFLICT (id) DO UPDATE SET v = -9",
        "CHECK constraint failed: v > 0",
    )
    expected, got = _table_state(conn, store, "cseg", "c", "id")
    assert got == expected == [(1, 5, "a")]


# ---------------------------------------------------------------------------
# Cascading triggers (round-6): live SQLite under the default
# PRAGMA recursive_triggers=OFF fires B's triggers when A's trigger body
# writes B — only re-entry of a trigger already on the firing stack is
# suppressed (probed).  These pin the chain-based suppression semantics.
# ---------------------------------------------------------------------------

CASCADE_DDL = (
    "CREATE TABLE t_a (x INTEGER);\n"
    "CREATE TABLE t_b (x INTEGER);\n"
    "CREATE TABLE t_c (x INTEGER);\n"
)


@pytest.fixture()
def cascade_engines(spark, tmp_path):
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(CASCADE_DDL)
    store = SegmentStore(spark, str(tmp_path / "cascstore"))
    store.set_schema("casc_schema", CASCADE_DDL)
    store.provision("cascseg", "casc_schema")
    yield conn, store
    conn.close()


def _both_casc(conn, store, script):
    _sqlite_script(conn, script)
    store.write("cascseg", script)


def _casc_state(conn, store, table):
    sql = f"SELECT x FROM {table} ORDER BY x"
    expected = [r[0] for r in conn.execute(sql).fetchall()]
    got = [r["x"] for r in store.read("cascseg", sql)]
    return expected, got


def test_trigger_cascade_chain_fires(cascade_engines):
    """A->B->C: inserting into A lands a row in C through two trigger hops
    (recursive_triggers=OFF does NOT suppress cross-table cascades)."""
    conn, store = cascade_engines
    _both_casc(
        conn,
        store,
        "CREATE TRIGGER casc_ab AFTER INSERT ON t_a "
        "BEGIN INSERT INTO t_b VALUES (NEW.x * 10); END;\n"
        "CREATE TRIGGER casc_bc AFTER INSERT ON t_b "
        "BEGIN INSERT INTO t_c VALUES (NEW.x * 10); END;\n"
        "INSERT INTO t_a VALUES (1);\n"
        "INSERT INTO t_a VALUES (2)",
    )
    for table in ("t_a", "t_b", "t_c"):
        expected, got = _casc_state(conn, store, table)
        assert got == expected, f"{table}: {got} vs {expected}"
    assert _casc_state(conn, store, "t_c")[0] == [100, 200]


def test_trigger_mutual_recursion_suppressed(cascade_engines):
    """A->B->A: the second hop back into A does NOT re-fire A's trigger
    (it is on the firing stack) — live-SQLite recursive_triggers=OFF."""
    conn, store = cascade_engines
    _both_casc(
        conn,
        store,
        "CREATE TRIGGER mut_ab AFTER INSERT ON t_a WHEN NEW.x < 5 "
        "BEGIN INSERT INTO t_b VALUES (NEW.x + 1); END;\n"
        "CREATE TRIGGER mut_ba AFTER INSERT ON t_b WHEN NEW.x < 5 "
        "BEGIN INSERT INTO t_a VALUES (NEW.x + 1); END;\n"
        "INSERT INTO t_a VALUES (1)",
    )
    ea, ga = _casc_state(conn, store, "t_a")
    eb, gb = _casc_state(conn, store, "t_b")
    assert ga == ea == [1, 3] and gb == eb == [2]


def test_trigger_self_recursion_suppressed(cascade_engines):
    """A trigger whose body inserts into its own table fires once and does
    not re-enter itself."""
    conn, store = cascade_engines
    _both_casc(
        conn,
        store,
        "CREATE TRIGGER selfins AFTER INSERT ON t_a WHEN NEW.x < 5 "
        "BEGIN INSERT INTO t_a VALUES (NEW.x + 1); END;\n"
        "INSERT INTO t_a VALUES (1)",
    )
    ea, ga = _casc_state(conn, store, "t_a")
    assert ga == ea == [1, 2]


def test_trigger_cascade_update_fires_update_triggers(cascade_engines):
    """A body UPDATE on another table fires that table's UPDATE triggers."""
    conn, store = cascade_engines
    _both_casc(
        conn,
        store,
        "INSERT INTO t_b VALUES (100);\n"
        "CREATE TRIGGER ins_a AFTER INSERT ON t_a "
        "BEGIN UPDATE t_b SET x = x + NEW.x; END;\n"
        "CREATE TRIGGER upd_b AFTER UPDATE ON t_b "
        "BEGIN INSERT INTO t_c VALUES (NEW.x); END;\n"
        "INSERT INTO t_a VALUES (7)",
    )
    for table in ("t_a", "t_b", "t_c"):
        expected, got = _casc_state(conn, store, table)
        assert got == expected, f"{table}: {got} vs {expected}"
    assert _casc_state(conn, store, "t_c")[0] == [107]


def test_multirow_insert_interleaves_per_row(cascade_engines):
    """SQLite processes a multi-row INSERT row at a time: an AFTER body's
    COUNT(*) over the target sees 1,2,3 and a BEFORE body's sees 0,1,2."""
    conn, store = cascade_engines
    _both_casc(
        conn,
        store,
        "CREATE TRIGGER cnt_after AFTER INSERT ON t_a "
        "BEGIN INSERT INTO t_b SELECT COUNT(*) FROM t_a; END;\n"
        "CREATE TRIGGER cnt_before BEFORE INSERT ON t_a "
        "BEGIN INSERT INTO t_c SELECT COUNT(*) FROM t_a; END;\n"
        "INSERT INTO t_a VALUES (10), (11), (12)",
    )
    eb, gb = _casc_state(conn, store, "t_b")
    ec, gc = _casc_state(conn, store, "t_c")
    assert gb == eb == [1, 2, 3]
    assert gc == ec == [0, 1, 2]


def test_insert_select_sees_pending_script_rows(cascade_engines):
    """INSERT..SELECT on a TRIGGERED table must see rows staged by earlier
    statements in the same script (the non-trigger path already flushed;
    round-6 fix makes the trigger path flush too)."""
    conn, store = cascade_engines
    _both_casc(
        conn,
        store,
        "CREATE TRIGGER log_ab AFTER INSERT ON t_a "
        "BEGIN INSERT INTO t_b VALUES (NEW.x); END",
    )
    _both_casc(
        conn,
        store,
        "INSERT INTO t_c VALUES (41);\n"
        "INSERT INTO t_c VALUES (42);\n"
        # the SELECT source rows were staged two statements ago in THIS script
        "INSERT INTO t_a SELECT x + 1 FROM t_c WHERE x >= 41",
    )
    ea, ga = _casc_state(conn, store, "t_a")
    eb, gb = _casc_state(conn, store, "t_b")
    assert ga == ea == [42, 43]
    assert gb == eb == [42, 43]


def test_multirow_update_with_target_reading_body_rejected(cascade_engines):
    """Multi-row UPDATE whose trigger body reads/writes the target table:
    SQLite interleaves per row, the partition-rewrite model can't — the
    engine must reject LOUDLY (round-6 documented divergence)."""
    conn, store = cascade_engines
    from trough_spark.dialect import QueryRejected

    _both_casc(
        conn,
        store,
        "INSERT INTO t_a VALUES (1);\n"
        "INSERT INTO t_a VALUES (2);\n"
        "CREATE TRIGGER upd_self AFTER UPDATE ON t_a "
        "BEGIN INSERT INTO t_b SELECT SUM(x) FROM t_a; END",
    )
    with pytest.raises(QueryRejected, match="multi-row UPDATE"):
        store.write("cascseg", "UPDATE t_a SET x = x + 10")
    # single-row UPDATE with the same trigger still runs and matches
    _both_casc(conn, store, "UPDATE t_a SET x = x + 10 WHERE x = 1")
    eb, gb = _casc_state(conn, store, "t_b")
    assert gb == eb == [13]


def test_not_null_words_inside_check_do_not_constrain_column(spark, tmp_path):
    """live SQLite accepts INSERT (NULL, 3) into
    a INTEGER CHECK(b IS NOT NULL OR a > 0) — the NOT NULL inside the CHECK
    body must not mark column a NOT NULL (round-6 parser fix)."""
    ddl = "CREATE TABLE t (a INTEGER CHECK(b IS NOT NULL OR a > 0), b INTEGER);\n"
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(ddl)
    store = SegmentStore(spark, str(tmp_path / "nnstore"))
    store.set_schema("nn_schema", ddl)
    store.provision("nnseg", "nn_schema")
    script = "INSERT INTO t VALUES (NULL, 3)"
    _sqlite_script(conn, script)
    store.write("nnseg", script)
    expected = conn.execute("SELECT a, b FROM t").fetchall()
    got = [(r["a"], r["b"]) for r in store.read("nnseg", "SELECT a, b FROM t")]
    assert got == [tuple(r) for r in expected] == [(None, 3)]
    # the CHECK itself still enforces: (0, NULL) violates in both engines
    # (false OR false; NULL-result CHECKs pass, so (NULL, NULL) would not)
    bad = "INSERT INTO t VALUES (0, NULL)"
    from trough_spark.dialect import QueryRejected

    with pytest.raises(sqlite3.IntegrityError):
        _sqlite_script(conn, bad)
    conn.execute("ROLLBACK")
    with pytest.raises(QueryRejected, match="CHECK constraint failed"):
        store.write("nnseg", bad)
    conn.close()


def test_unary_minus_string_literal_matches_sqlite(spark, tmp_path):
    """VALUES (-'abc') inserts 0 (SQLite numeric-prefix coercion), not the
    string 'abc' (round-6 _literal fix); -'12xy' -> -12, -'1.5e2' -> -150.0."""
    ddl = "CREATE TABLE u (id INTEGER, v REAL);\n"
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(ddl)
    store = SegmentStore(spark, str(tmp_path / "umstore"))
    store.set_schema("um_schema", ddl)
    store.provision("umseg", "um_schema")
    script = (
        "INSERT INTO u VALUES (1, -'abc');\n"
        "INSERT INTO u VALUES (2, -'12xy');\n"
        "INSERT INTO u VALUES (3, -'1.5e2');\n"
        "INSERT INTO u VALUES (4, +'5')"
    )
    _sqlite_script(conn, script)
    store.write("umseg", script)
    expected = [tuple(r) for r in conn.execute("SELECT id, v FROM u ORDER BY id").fetchall()]
    got = [
        (r["id"], r["v"]) for r in store.read("umseg", "SELECT id, v FROM u ORDER BY id")
    ]
    assert got == expected == [(1, 0.0), (2, -12.0), (3, -150.0), (4, 5.0)]
    conn.close()


# ---------------------------------------------------------------------------
# INSTEAD OF (view) triggers (round 6): view DML fires the bodies per row in
# place of the write — probed live-SQLite semantics incl. the exact
# "cannot modify ... because it is a view" error and registration errors.
# ---------------------------------------------------------------------------

IOF_DDL = (
    "CREATE TABLE base (a INTEGER, b TEXT);\n"
    "CREATE TABLE vlog (s TEXT);\n"
    "CREATE VIEW v AS SELECT a, b, a * 10 AS a10 FROM base;\n"
)


@pytest.fixture()
def iof_engines(spark, tmp_path):
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(IOF_DDL)
    store = SegmentStore(spark, str(tmp_path / "iofstore"))
    store.set_schema("iof_schema", IOF_DDL)
    store.provision("iofseg", "iof_schema")
    yield conn, store
    conn.close()


def _both_iof(conn, store, script):
    _sqlite_script(conn, script)
    store.write("iofseg", script)


def _iof_state(conn, store, table, order):
    sql = f"SELECT * FROM {table} ORDER BY {order}"
    expected = [tuple(_canon(v) for v in row) for row in conn.execute(sql).fetchall()]
    got = [tuple(_canon(v) for v in r.values()) for r in store.read("iofseg", sql)]
    return expected, got


def test_instead_of_insert_fires_per_row(iof_engines):
    """Two INSTEAD OF INSERT triggers fire per row in reverse creation
    order; NEW is the raw tuple mapped to the view's columns (a10 = the
    given value, NOT recomputed; unspecified columns NULL)."""
    conn, store = iof_engines
    _both_iof(
        conn,
        store,
        "INSERT INTO base VALUES (1, 'x');\n"
        "CREATE TRIGGER io1 INSTEAD OF INSERT ON v "
        "BEGIN INSERT INTO vlog VALUES ('io1:' || NEW.a || ':' || coalesce(NEW.a10, '-')); END;\n"
        "CREATE TRIGGER io2 INSTEAD OF INSERT ON v WHEN NEW.a < 10 "
        "BEGIN INSERT INTO base VALUES (NEW.a, NEW.b); INSERT INTO vlog VALUES ('io2:' || NEW.a); END;\n"
        "INSERT INTO v VALUES (3, 'z', 999), (20, 'w', 1);\n"
        "INSERT INTO v (a, b) VALUES (4, 'q')",
    )
    for table, order in (("base", "a"), ("vlog", "s")):
        expected, got = _iof_state(conn, store, table, order)
        assert got == expected and expected, f"{table}: {got} vs {expected}"


def test_instead_of_update_delete_old_new(iof_engines):
    """INSTEAD OF UPDATE OF / DELETE: OLD carries the computed view row
    (incl. a10), NEW applies the SET expressions over it."""
    conn, store = iof_engines
    _both_iof(
        conn,
        store,
        "INSERT INTO base VALUES (1, 'x');\n"
        "INSERT INTO base VALUES (2, 'y');\n"
        "CREATE TRIGGER iou INSTEAD OF UPDATE OF b ON v BEGIN "
        "UPDATE base SET b = NEW.b WHERE a = OLD.a; "
        "INSERT INTO vlog VALUES ('upd:' || OLD.b || '->' || NEW.b || '@' || OLD.a10); END;\n"
        "CREATE TRIGGER iod INSTEAD OF DELETE ON v BEGIN "
        "DELETE FROM base WHERE a = OLD.a; "
        "INSERT INTO vlog VALUES ('del:' || OLD.a10); END;\n"
        "UPDATE v SET b = b || '!' WHERE a <= 2;\n"
        "DELETE FROM v WHERE a = 1",
    )
    for table, order in (("base", "a"), ("vlog", "s")):
        expected, got = _iof_state(conn, store, table, order)
        assert got == expected and expected, f"{table}: {got} vs {expected}"


def test_view_write_without_trigger_matches_sqlite_error(iof_engines):
    """No matching INSTEAD OF trigger — including an UPDATE missing the
    OF-list — raises SQLite's exact 'cannot modify' error in both engines."""
    conn, store = iof_engines
    from trough_spark.dialect import QueryRejected

    _both_iof(conn, store, "INSERT INTO base VALUES (1, 'x')")
    for bad in (
        "INSERT INTO v VALUES (9, 'n', 90)",
        "UPDATE v SET b = 'q'",
        "DELETE FROM v",
    ):
        with pytest.raises(sqlite3.OperationalError, match="cannot modify v"):
            _sqlite_script(conn, bad)
        conn.execute("ROLLBACK")
        with pytest.raises(QueryRejected, match="cannot modify v"):
            store.write("iofseg", bad)
    # UPDATE OF a-list trigger does not authorize SET b
    _both_iof(
        conn,
        store,
        "CREATE TRIGGER ioa INSTEAD OF UPDATE OF a ON v "
        "BEGIN INSERT INTO vlog VALUES ('a:' || NEW.a); END",
    )
    with pytest.raises(sqlite3.OperationalError, match="cannot modify v"):
        _sqlite_script(conn, "UPDATE v SET b = 'q'")
    conn.execute("ROLLBACK")
    with pytest.raises(QueryRejected, match="cannot modify v"):
        store.write("iofseg", "UPDATE v SET b = 'q'")


def test_trigger_registration_view_table_cross_errors(iof_engines):
    """SQLite's registration errors reproduced byte-for-byte: INSTEAD OF
    only on views, BEFORE/AFTER only on tables."""
    conn, store = iof_engines
    from trough_spark.dialect import QueryRejected

    bad1 = "CREATE TRIGGER x1 BEFORE INSERT ON v BEGIN SELECT RAISE(IGNORE); END"
    with pytest.raises(sqlite3.OperationalError, match="cannot create BEFORE trigger on view"):
        _sqlite_script(conn, bad1)
    conn.execute("ROLLBACK")
    with pytest.raises(QueryRejected, match="cannot create BEFORE trigger on view: v"):
        store.write("iofseg", bad1)
    bad2 = "CREATE TRIGGER x2 INSTEAD OF INSERT ON base BEGIN SELECT RAISE(IGNORE); END"
    with pytest.raises(sqlite3.OperationalError, match="cannot create INSTEAD OF trigger on table"):
        _sqlite_script(conn, bad2)
    conn.execute("ROLLBACK")
    with pytest.raises(QueryRejected, match="cannot create INSTEAD OF trigger on table: base"):
        store.write("iofseg", bad2)


def test_instead_of_insert_select_fires(iof_engines):
    """INSERT..SELECT into a view fires INSTEAD OF per produced row."""
    conn, store = iof_engines
    _both_iof(
        conn,
        store,
        "INSERT INTO base VALUES (1, 'x');\n"
        "INSERT INTO base VALUES (2, 'y');\n"
        "CREATE TRIGGER io1 INSTEAD OF INSERT ON v "
        "BEGIN INSERT INTO vlog VALUES ('io1:' || NEW.a || ':' || coalesce(NEW.a10, '-')); END;\n"
        "INSERT INTO v (a, b, a10) SELECT a + 100, b, NULL FROM base WHERE a <= 2",
    )
    expected, got = _iof_state(conn, store, "vlog", "s")
    assert got == expected == [("io1:101:-",), ("io1:102:-",)]


def test_view_update_unknown_column_matches_sqlite(iof_engines):
    """UPDATE v SET nosuch: with a matching INSTEAD OF trigger SQLite raises
    'no such column'; without one 'cannot modify' wins (probed precedence)."""
    conn, store = iof_engines
    from trough_spark.dialect import QueryRejected

    _both_iof(
        conn,
        store,
        "INSERT INTO base VALUES (1, 'x');\n"
        "CREATE TRIGGER iou INSTEAD OF UPDATE ON v "
        "BEGIN INSERT INTO vlog VALUES ('u:' || OLD.a); END",
    )
    bad = "UPDATE v SET nosuch = 1"
    with pytest.raises(sqlite3.OperationalError, match="no such column: nosuch"):
        _sqlite_script(conn, bad)
    conn.execute("ROLLBACK")
    with pytest.raises(QueryRejected, match="no such column: nosuch"):
        store.write("iofseg", bad)
    # no side effects from the failed statement in either engine
    expected, got = _iof_state(conn, store, "vlog", "s")
    assert got == expected == []


def test_unary_minus_overflow_string_matches_sqlite(spark, tmp_path):
    """-'<20 digits>' coerces to REAL in SQLite (int64 overflow); the
    engine's numeric-prefix coercion must match instead of producing an
    unbounded Python int that overflows LongType."""
    ddl = "CREATE TABLE u (id INTEGER, v REAL);\n"
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(ddl)
    store = SegmentStore(spark, str(tmp_path / "ovstore"))
    store.set_schema("ov_schema", ddl)
    store.provision("ovseg", "ov_schema")
    script = (
        "INSERT INTO u VALUES (1, -'99999999999999999999');\n"
        "INSERT INTO u VALUES (2, -'9223372036854775808')"
    )
    _sqlite_script(conn, script)
    store.write("ovseg", script)
    expected = [tuple(r) for r in conn.execute("SELECT id, v FROM u ORDER BY id").fetchall()]
    got = [(r["id"], r["v"]) for r in store.read("ovseg", "SELECT id, v FROM u ORDER BY id")]
    assert got == expected
    conn.close()


# ---------------------------------------------------------------------------
# DEFAULT column values (round 6): previously unspecified columns landed as
# NULL and DEFAULT VALUES was rejected — both diverged from SQLite.
# ---------------------------------------------------------------------------

DEFAULTS_DDL = (
    "CREATE TABLE d (id INTEGER PRIMARY KEY AUTOINCREMENT, a INTEGER DEFAULT 7, "
    "b TEXT DEFAULT 'zz', c REAL DEFAULT -2.5, e TEXT DEFAULT NULL, "
    "f INTEGER DEFAULT (3 + 4));\n"
)


@pytest.fixture()
def def_engines(spark, tmp_path):
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(DEFAULTS_DDL)
    store = SegmentStore(spark, str(tmp_path / "defstore"))
    store.set_schema("def_schema", DEFAULTS_DDL)
    store.provision("defseg", "def_schema")
    yield conn, store
    conn.close()


def test_insert_applies_declared_defaults(def_engines):
    conn, store = def_engines
    script = (
        "INSERT INTO d (c) VALUES (1.5);\n"
        "INSERT INTO d (a, b) VALUES (1, 'x');\n"
        "INSERT INTO d DEFAULT VALUES"
    )
    _sqlite_script(conn, script)
    store.write("defseg", script)
    q = "SELECT id, a, b, c, e, f FROM d ORDER BY id"
    expected = [tuple(_canon(v) for v in r) for r in conn.execute(q).fetchall()]
    got = [tuple(_canon(v) for v in r.values()) for r in store.read("defseg", q)]
    assert got == expected and len(expected) == 3, f"{got} vs {expected}"


def test_insert_select_applies_defaults(def_engines):
    conn, store = def_engines
    script = (
        "INSERT INTO d (a, c) VALUES (10, 0.5);\n"
        "INSERT INTO d (c) SELECT c * 2 FROM d"
    )
    _sqlite_script(conn, script)
    store.write("defseg", script)
    q = "SELECT id, a, b, c, f FROM d ORDER BY id"
    expected = [tuple(_canon(v) for v in r) for r in conn.execute(q).fetchall()]
    got = [tuple(_canon(v) for v in r.values()) for r in store.read("defseg", q)]
    assert got == expected, f"{got} vs {expected}"


def test_alter_add_column_default_backfills(def_engines):
    """SQLite: ADD COLUMN .. DEFAULT gives EXISTING rows the default."""
    conn, store = def_engines
    script = (
        "INSERT INTO d (a) VALUES (1);\n"
        "INSERT INTO d (a) VALUES (2);\n"
        "ALTER TABLE d ADD COLUMN g INTEGER DEFAULT 42;\n"
        "INSERT INTO d (a) VALUES (3);\n"
        "INSERT INTO d (a, g) VALUES (4, 9)"
    )
    _sqlite_script(conn, script)
    store.write("defseg", script)
    q = "SELECT id, a, g FROM d ORDER BY id"
    expected = [tuple(_canon(v) for v in r) for r in conn.execute(q).fetchall()]
    got = [tuple(_canon(v) for v in r.values()) for r in store.read("defseg", q)]
    assert got == expected == [(1, 1, 42), (2, 2, 42), (3, 3, 42), (4, 4, 9)]


def test_current_timestamp_default_shape(def_engines):
    """CURRENT_TIMESTAMP defaults can't be value-compared across engines
    (clock drift); assert the engine's rendering SHAPE and rough time."""
    conn, store = def_engines
    ddl = "CREATE TABLE ts_t (k INTEGER, at DATETIME DEFAULT CURRENT_TIMESTAMP)"
    store.write("defseg", ddl + ";\nINSERT INTO ts_t (k) VALUES (1)")
    row = store.read("defseg", "SELECT k, at FROM ts_t")[0]
    import datetime

    assert row["k"] == 1 and row["at"] is not None
    got = row["at"]
    if isinstance(got, str):
        got = datetime.datetime.fromisoformat(got)
    assert abs((datetime.datetime.utcnow() - got).total_seconds()) < 300


def test_or_abort_fail_rollback_and_rowvalue_update(def_engines):
    """INSERT OR ABORT/FAIL/ROLLBACK converge to default behavior under the
    one-transaction-per-script model; SET (a, b) = (e1, e2) row-value
    assignment expands to per-column assignments — both vs live SQLite."""
    conn, store = def_engines
    script = (
        "INSERT OR ABORT INTO d (a, b) VALUES (1, 'p');\n"
        "INSERT OR FAIL INTO d (a, b) VALUES (2, 'q');\n"
        "INSERT OR ROLLBACK INTO d (a, b) VALUES (3, 'r');\n"
        "UPDATE d SET (a, b) = (a * 10, b || '!') WHERE a >= 2"
    )
    _sqlite_script(conn, script)
    store.write("defseg", script)
    q = "SELECT id, a, b, c FROM d ORDER BY id"
    expected = [tuple(_canon(v) for v in r) for r in conn.execute(q).fetchall()]
    got = [tuple(_canon(v) for v in r.values()) for r in store.read("defseg", q)]
    assert got == expected and len(expected) == 3, f"{got} vs {expected}"


@_wide_only
def test_or_ignore_on_triggered_table_matches_sqlite(spark, tmp_path):
    """Round-7 (VERDICT r6 item 6): OR IGNORE × triggers implemented with
    the probed firing — BEFORE fires for EVERY row; a pk-conflicting or
    constraint-violating row's insert AND its AFTER are skipped."""
    ddl = (
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT, "
        "n INTEGER CHECK (n IS NULL OR n > 0));\n"
        "CREATE TABLE log (ph TEXT, id INTEGER, c INTEGER)"
    )
    trigs = (
        "CREATE TRIGGER b0 BEFORE INSERT ON t FOR EACH ROW BEGIN "
        "INSERT INTO log VALUES ('B', NEW.id, (SELECT count(*) FROM t)); END;\n"
        "CREATE TRIGGER a0 AFTER INSERT ON t FOR EACH ROW BEGIN "
        "INSERT INTO log VALUES ('A', NEW.id, (SELECT count(*) FROM t)); END"
    )
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(ddl + ";\n" + trigs + ";")
    store = SegmentStore(spark, str(tmp_path / "oistore"))
    store.set_schema("oi_schema", ddl + ";")
    store.provision("oiseg", "oi_schema")
    store.write("oiseg", trigs)
    for script in (
        "INSERT INTO t VALUES (1, 'x', 5)",
        # dup pk ×2 (incl. intra-statement), CHECK violation, NULL CHECK pass
        "INSERT OR IGNORE INTO t VALUES (1, 'dup', 1), (2, 'new', 2), "
        "(1, 'dup2', 3), (3, 'bad', -4), (4, 'ok', NULL)",
        # OR IGNORE INSERT..SELECT: all source rows conflict
        "INSERT OR IGNORE INTO t SELECT id, v || '+', n FROM t WHERE id <= 2",
        # ON CONFLICT DO NOTHING: pk conflicts only
        "INSERT INTO t VALUES (1, 'dup', 1), (9, 'n9', 9) ON CONFLICT DO NOTHING",
        "INSERT INTO t VALUES (2, 'dup', 1) ON CONFLICT (id) DO NOTHING",
    ):
        conn.executescript("BEGIN;\n" + script + ";\nCOMMIT;")
        store.write("oiseg", script)
    for q in (
        "SELECT id, v, n FROM t ORDER BY id",
        "SELECT ph, id, c FROM log ORDER BY id, ph, c",
    ):
        expected = [tuple(r) for r in conn.execute(q).fetchall()]
        got = [tuple(r.values()) for r in store.read("oiseg", q)]
        assert got == expected, f"{q}\nsqlite: {expected}\nengine: {got}"
    # DO NOTHING does NOT absorb constraint violations (probed): both raise
    with pytest.raises(Exception):
        conn.executescript("BEGIN;\nINSERT INTO t VALUES (50, 'b', -1) ON CONFLICT DO NOTHING;\nCOMMIT;")
    conn.execute("ROLLBACK")
    with pytest.raises(Exception):
        store.write("oiseg", "INSERT INTO t VALUES (50, 'b', -1) ON CONFLICT DO NOTHING")
    conn.close()


@_wide_only
def test_or_replace_and_do_update_on_triggered_table_matches_sqlite(
    spark, tmp_path
):
    """Round-7 closure of the last conflict-form reject: OR REPLACE and
    ON CONFLICT DO UPDATE on triggered tables, with the probed firing —
    REPLACE fires bi/ai per row and deletes the conflicting row SILENTLY
    (delete triggers only fire under recursive_triggers=ON, the engine
    pins OFF); DO UPDATE fires bi with the INSERT's NEW row, then the
    UPDATE triggers (honoring UPDATE OF column lists) around the applied
    SET; a false upsert WHERE leaves the row untouched after bi alone."""
    ddl = (
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT, n INTEGER);\n"
        "CREATE TABLE log (ph TEXT, id INTEGER, val TEXT, c INTEGER)"
    )
    trigs = (
        "CREATE TRIGGER bi BEFORE INSERT ON t FOR EACH ROW BEGIN "
        "INSERT INTO log VALUES ('bi', NEW.id, NEW.v, (SELECT count(*) FROM t)); END;\n"
        "CREATE TRIGGER ai AFTER INSERT ON t FOR EACH ROW BEGIN "
        "INSERT INTO log VALUES ('ai', NEW.id, NEW.v, (SELECT count(*) FROM t)); END;\n"
        "CREATE TRIGGER bd BEFORE DELETE ON t FOR EACH ROW BEGIN "
        "INSERT INTO log VALUES ('bd', OLD.id, OLD.v, 0); END;\n"
        "CREATE TRIGGER ad AFTER DELETE ON t FOR EACH ROW BEGIN "
        "INSERT INTO log VALUES ('ad', OLD.id, OLD.v, 0); END;\n"
        "CREATE TRIGGER buv BEFORE UPDATE OF v ON t FOR EACH ROW BEGIN "
        "INSERT INTO log VALUES ('buv', NEW.id, OLD.v || '>' || NEW.v, "
        "(SELECT count(*) FROM t)); END;\n"
        "CREATE TRIGGER aun AFTER UPDATE OF n ON t FOR EACH ROW BEGIN "
        "INSERT INTO log VALUES ('aun', NEW.id, CAST(OLD.n AS TEXT) || '>' "
        "|| CAST(NEW.n AS TEXT), (SELECT count(*) FROM t)); END"
    )
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(ddl + ";\n" + trigs + ";")
    store = SegmentStore(spark, str(tmp_path / "orstore"))
    store.set_schema("or_schema", ddl + ";")
    store.provision("orseg", "or_schema")
    store.write("orseg", trigs)
    for script in (
        "INSERT INTO t VALUES (1, 'old1', 1), (2, 'old2', 2)",
        # OR REPLACE: one conflict (silent delete, bi/ai fire), one fresh
        "INSERT OR REPLACE INTO t VALUES (1, 'rep1', 10), (3, 'new3', 3)",
        # bare REPLACE INTO form
        "REPLACE INTO t VALUES (2, 'rep2', 20)",
        # DO UPDATE: conflict path (updates v AND n: both OF-triggers
        # fire), plus a fresh insert; SET references excluded., t., bare
        "INSERT INTO t VALUES (1, 'up1', 100), (4, 'n4', 4) "
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v, n = t.n + excluded.n",
        # upsert WHERE false: bi fires, row untouched
        "INSERT INTO t VALUES (3, 'gate', 1) "
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v WHERE excluded.n > n",
        # upsert WHERE true, SET touches only v: the OF n trigger is quiet
        "INSERT INTO t VALUES (4, 'gate2', 400) "
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v || '!' WHERE excluded.n > n",
    ):
        conn.executescript("BEGIN;\n" + script + ";\nCOMMIT;")
        store.write("orseg", script)
    for q in (
        "SELECT id, v, n FROM t ORDER BY id",
        "SELECT ph, id, val, c FROM log ORDER BY id, ph, val, c",
    ):
        expected = [tuple(r) for r in conn.execute(q).fetchall()]
        got = [tuple(r.values()) for r in store.read("orseg", q)]
        assert got == expected, f"{q}\nsqlite: {expected}\nengine: {got}"
    # REPLACE must have fired NO delete triggers on either engine
    assert not conn.execute(
        "SELECT * FROM log WHERE ph IN ('bd','ad')"
    ).fetchall()
    conn.close()


def test_or_replace_intra_statement_duplicate_pk_last_wins(def_engines):
    """Round-7 fuzzer catch: OR REPLACE with the SAME pk twice in one
    VALUES list applies rows sequentially in SQLite — the LAST occurrence
    wins — and must not land duplicate-pk rows (the batch path previously
    kept both).  Same for an upsert DO UPDATE colliding with a row the
    statement itself just inserted."""
    conn, store = def_engines
    scripts = (
        "INSERT INTO d (id, a, b) VALUES (10, 1, 'x')",
        # dup pk within one REPLACE: (10,...) twice, last wins; plus fresh
        "INSERT OR REPLACE INTO d (id, a, b) VALUES "
        "(10, 2, 'first'), (11, 3, 'n'), (10, 4, 'last')",
        "REPLACE INTO d (id, a, b) VALUES (12, 5, 'p'), (12, 6, 'q')",
    )
    for script in scripts:
        _sqlite_script(conn, script)
        store.write("defseg", script)
    q = "SELECT id, a, b FROM d WHERE id >= 10 ORDER BY id"
    expected = [tuple(_canon(v) for v in r) for r in conn.execute(q).fetchall()]
    got = [tuple(_canon(v) for v in r.values()) for r in store.read("defseg", q)]
    assert got == expected, f"{got} vs {expected}"
    ids = [r[0] for r in got]
    assert len(ids) == len(set(ids)), f"duplicate pk rows: {got}"


def test_instead_of_conflict_forms_match_sqlite(iof_engines):
    """Probed: a view has no constraints, so OR REPLACE / OR IGNORE /
    bare REPLACE INTO on an INSTEAD OF view fire the trigger per row
    exactly like a plain INSERT; the upsert clause is a hard SQLite error
    ("cannot UPSERT a view") on both engines."""
    conn, store = iof_engines
    _both_iof(
        conn,
        store,
        "CREATE TRIGGER ioc INSTEAD OF INSERT ON v "
        "BEGIN INSERT INTO base VALUES (NEW.a, NEW.b); "
        "INSERT INTO vlog VALUES ('ioc:' || NEW.a); END;\n"
        "INSERT OR REPLACE INTO v VALUES (1, 'r', 0), (2, 's', 0);\n"
        "REPLACE INTO v (a, b) VALUES (3, 't');\n"
        "INSERT OR IGNORE INTO v (a, b) VALUES (4, 'u')",
    )
    for table, order in (("base", "a"), ("vlog", "s")):
        expected, got = _iof_state(conn, store, table, order)
        assert got == expected and expected, f"{table}: {got} vs {expected}"
    # upsert clause on a view: both engines raise
    import sqlite3 as _sq

    with pytest.raises(_sq.Error, match="UPSERT"):
        _sqlite_script(
            conn, "INSERT INTO v (a, b) VALUES (9, 'x') ON CONFLICT DO NOTHING"
        )
    conn.execute("ROLLBACK")
    from trough_spark.dialect import QueryRejected

    with pytest.raises(QueryRejected, match="UPSERT"):
        store.write(
            "iofseg", "INSERT INTO v (a, b) VALUES (9, 'x') ON CONFLICT DO NOTHING"
        )


@_wide_only
def test_update_or_ignore_replace_matches_sqlite(spark, tmp_path):
    """Round-7: UPDATE OR IGNORE / OR REPLACE with SQLite's probed
    two-pass position-visit model — incl. the surprising dense-id chase
    ((1,2,3) SET id=id+1 OR REPLACE collapses to one row because each
    replaced position is re-visited), the no-op OR IGNORE bump, CHECK
    skipping under IGNORE, and OR ABORT/FAIL converging to plain."""
    ddl = "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)"
    cases = [
        ("UPDATE OR IGNORE t SET id = id + 1 WHERE id < 3", None),
        ("UPDATE OR REPLACE t SET id = 3 WHERE id = 1", None),
        ("UPDATE OR REPLACE t SET id = id + 1", None),
        ("UPDATE OR IGNORE t SET id = id + 1", None),
        ("UPDATE OR REPLACE t SET id = 4 - id", None),
        ("UPDATE OR IGNORE t SET id = id - 1", None),
        ("UPDATE OR REPLACE t SET id = 2 WHERE id <= 2", None),
        ("UPDATE OR ABORT t SET v = v || '!' WHERE id = 2", None),
        ("UPDATE OR FAIL t SET v = upper(v)", None),
    ]
    store = SegmentStore(spark, str(tmp_path / "uorstore"))
    store.set_schema("uor_schema", ddl + ";")
    for i, (stmt, _) in enumerate(cases):
        seg = f"uorseg{i}"
        store.provision(seg, "uor_schema")
        conn = sqlite3.connect(":memory:")
        conn.isolation_level = None
        conn.executescript(ddl + "; INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c');")
        store.write(seg, "INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c')")
        conn.executescript("BEGIN;\n" + stmt + ";\nCOMMIT;")
        store.write(seg, stmt)
        q = "SELECT id, v FROM t ORDER BY id"
        expected = [tuple(r) for r in conn.execute(q).fetchall()]
        got = [tuple(r.values()) for r in store.read(seg, q)]
        assert got == expected, f"{stmt}\nsqlite: {expected}\nengine: {got}"
        conn.close()
    # OR IGNORE skips CHECK-violating updates; OR REPLACE still raises
    chk = "CREATE TABLE c (id INTEGER PRIMARY KEY, n INTEGER CHECK (n > 0))"
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(chk + "; INSERT INTO c VALUES (1,5),(2,1),(3,7);")
    store.set_schema("uorc_schema", chk + ";")
    store.provision("uorcseg", "uorc_schema")
    store.write("uorcseg", "INSERT INTO c VALUES (1,5),(2,1),(3,7)")
    conn.executescript("BEGIN;\nUPDATE OR IGNORE c SET n = n - 3;\nCOMMIT;")
    store.write("uorcseg", "UPDATE OR IGNORE c SET n = n - 3")
    q = "SELECT id, n FROM c ORDER BY id"
    expected = [tuple(r) for r in conn.execute(q).fetchall()]
    got = [tuple(r.values()) for r in store.read("uorcseg", q)]
    assert got == expected == [(1, 2), (2, 1), (3, 4)]
    with pytest.raises(Exception):
        conn.execute("UPDATE OR REPLACE c SET n = n - 3")
    from trough_spark.dialect import QueryRejected

    with pytest.raises(QueryRejected):
        store.write("uorcseg", "UPDATE OR REPLACE c SET n = n - 3")
    conn.close()


def test_do_update_duplicate_keys_accumulate_like_sqlite(def_engines):
    """Round-7 divergence closed: when one upsert statement repeats a
    conflict key, SQLite applies the rows sequentially so a
    self-referencing SET accumulates per occurrence — previously the
    batch path collapsed duplicates to the last occurrence."""
    conn, store = def_engines
    scripts = (
        "INSERT INTO d (id, a, b) VALUES (20, 10, 'x')",
        # key 20 appears 3x: a accumulates 10+1+2+3 = 16; key 21 inserts
        # then self-accumulates once: 5+7 = 12
        "INSERT INTO d (id, a, b) VALUES (20, 1, 'p'), (21, 5, 'q'), "
        "(20, 2, 'r'), (21, 7, 's'), (20, 3, 't') "
        "ON CONFLICT (id) DO UPDATE SET a = a + excluded.a",
        # WHERE gate interacts per occurrence
        "INSERT INTO d (id, a, b) VALUES (20, 100, 'u'), (20, -5, 'v') "
        "ON CONFLICT (id) DO UPDATE SET a = a + excluded.a "
        "WHERE excluded.a > 0",
    )
    for script in scripts:
        _sqlite_script(conn, script)
        store.write("defseg", script)
    q = "SELECT id, a, b FROM d WHERE id >= 20 ORDER BY id"
    expected = [tuple(_canon(v) for v in r) for r in conn.execute(q).fetchall()]
    got = [tuple(_canon(v) for v in r.values()) for r in store.read("defseg", q)]
    assert got == expected, f"{got} vs {expected}"


# -- round-8 ADVICE fixes: NULL-pk identity, conflict-form edges --------------


def _diff_state(conn, store, seg, q):
    expected = [tuple(_canon(v) for v in r) for r in conn.execute(q).fetchall()]
    got = [tuple(_canon(v) for v in r.values()) for r in store.read(seg, q)]
    return expected, got


def test_null_pk_rows_survive_upsert_and_update_or_modes(spark, tmp_path):
    """Round-8 ADVICE: SQLite's NULL-pk quirk — a TEXT PRIMARY KEY admits
    any number of NULL-key rows (NULL bypasses uniqueness) — must survive
    every driver-side conflict dict: the sequential upsert path, UPDATE OR
    IGNORE/REPLACE, and the triggered conflict loop previously collapsed
    coexisting NULL-pk rows into one."""
    ddl = "CREATE TABLE t (k TEXT PRIMARY KEY, v INTEGER)"
    store = SegmentStore(spark, str(tmp_path / "nullpk"))
    store.set_schema("nullpk_schema", ddl + ";")
    seed = (
        "INSERT INTO t VALUES ('a', 1), (NULL, 2), ('b', 3), (NULL, 4)"
    )
    # 1. upsert DO UPDATE with a repeated conflict key: both NULL rows live
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(ddl + ";" + seed + ";")
    store.provision("np1", "nullpk_schema")
    store.write("np1", seed)
    up = (
        "INSERT INTO t (k, v) VALUES ('a', 10), ('a', 20), (NULL, 30) "
        "ON CONFLICT (k) DO UPDATE SET v = v + excluded.v"
    )
    _sqlite_script(conn, up)
    store.write("np1", up)
    q = "SELECT k, v FROM t ORDER BY k, v"
    expected, got = _diff_state(conn, store, "np1", q)
    assert got == expected and len(got) == 5, f"{got} vs {expected}"
    conn.close()
    # 2. UPDATE OR IGNORE touching non-pk columns: conflict-free, NULL rows
    # keep their own identities
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(ddl + ";" + seed + ";")
    store.provision("np2", "nullpk_schema")
    store.write("np2", seed)
    stmt = "UPDATE OR IGNORE t SET v = v * 10 WHERE v >= 2"
    _sqlite_script(conn, stmt)
    store.write("np2", stmt)
    expected, got = _diff_state(conn, store, "np2", q)
    assert got == expected and len(got) == 4, f"{got} vs {expected}"
    conn.close()
    # 3. UPDATE OR REPLACE with a conflict-free pk rewrite on a TEXT pk
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(ddl + ";" + seed + ";")
    store.provision("np3", "nullpk_schema")
    store.write("np3", seed)
    stmt = "UPDATE OR REPLACE t SET k = k || '_x' WHERE k = 'a'"
    _sqlite_script(conn, stmt)
    store.write("np3", stmt)
    expected, got = _diff_state(conn, store, "np3", q)
    assert got == expected and len(got) == 4, f"{got} vs {expected}"
    conn.close()


def test_update_or_mode_nonrowid_pk_conflict_rejected(spark, tmp_path):
    """Round-8 ADVICE: for a pk that is NOT an INTEGER rowid alias, SQLite
    resolves OR IGNORE/REPLACE pk conflicts in rowid (insertion) order,
    which this engine does not track — the order-dependent case must
    reject loudly instead of silently using pk order."""
    from trough_spark.dialect import QueryRejected

    ddl = "CREATE TABLE t (k TEXT PRIMARY KEY, v INTEGER)"
    store = SegmentStore(spark, str(tmp_path / "nonrowid"))
    store.set_schema("nr_schema", ddl + ";")
    store.provision("nr1", "nr_schema")
    store.write("nr1", "INSERT INTO t VALUES ('a', 1), ('b', 2), ('c', 3)")
    with pytest.raises(QueryRejected, match="rowid"):
        store.write("nr1", "UPDATE OR REPLACE t SET k = 'b' WHERE k = 'a'")
    with pytest.raises(QueryRejected, match="rowid"):
        store.write("nr1", "UPDATE OR IGNORE t SET k = 'c' WHERE k IN ('a','b')")
    # the integer-pk chase path is unaffected (dense-id collapse still works)
    ddl2 = "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)"
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(ddl2 + "; INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c');")
    store.set_schema("nr2_schema", ddl2 + ";")
    store.provision("nr2", "nr2_schema")
    store.write("nr2", "INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c')")
    stmt = "UPDATE OR REPLACE t SET id = id + 1"
    conn.executescript("BEGIN;\n" + stmt + ";\nCOMMIT;")
    store.write("nr2", stmt)
    expected, got = _diff_state(conn, store, "nr2", "SELECT id, v FROM t ORDER BY id")
    assert got == expected == [(4, "a")], f"{got} vs {expected}"
    conn.close()


def test_update_or_ignore_no_pk_check_table_matches_sqlite(spark, tmp_path):
    """Round-8 (VERDICT item 4): UPDATE OR IGNORE on a CHECK/NOT NULL table
    with NO PRIMARY KEY — previously rejected; now the per-row skip runs on
    positional identity (pk conflicts are impossible without a pk, so the
    outcome is order-independent)."""
    ddl = (
        "CREATE TABLE c (n INTEGER CHECK (n > 0), s TEXT NOT NULL)"
    )
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(
        ddl + "; INSERT INTO c VALUES (5,'a'),(1,'b'),(7,'c'),(2,'d');"
    )
    store = SegmentStore(spark, str(tmp_path / "nopk"))
    store.set_schema("nopk_schema", ddl + ";")
    store.provision("nopk1", "nopk_schema")
    store.write("nopk1", "INSERT INTO c VALUES (5,'a'),(1,'b'),(7,'c'),(2,'d')")
    # n-3 violates CHECK for rows with n<=3: those rows are skipped
    stmt = "UPDATE OR IGNORE c SET n = n - 3"
    conn.executescript("BEGIN;\n" + stmt + ";\nCOMMIT;")
    store.write("nopk1", stmt)
    q = "SELECT n, s FROM c ORDER BY n, s"
    expected, got = _diff_state(conn, store, "nopk1", q)
    assert got == expected == [(1, "b"), (2, "a"), (2, "d"), (4, "c")]
    # NOT NULL violations skip the same way
    stmt = "UPDATE OR IGNORE c SET s = CASE WHEN n = 2 THEN NULL ELSE s || '!' END"
    conn.executescript("BEGIN;\n" + stmt + ";\nCOMMIT;")
    store.write("nopk1", stmt)
    expected, got = _diff_state(conn, store, "nopk1", q)
    assert got == expected, f"{got} vs {expected}"
    conn.close()


def test_triggered_insert_or_ignore_null_pk_and_onc_reject(spark, tmp_path):
    """Round-8 ADVICE: (a) on a triggered table, an incoming NULL-pk row
    never conflicts — OR IGNORE must insert it and fire AFTER (previously
    it matched an existing NULL-pk dict entry and was skipped); (b)
    INSERT OR IGNORE combined with an ON CONFLICT clause silently skipped
    all trigger firing — now rejected loudly."""
    from trough_spark.dialect import QueryRejected

    ddl = (
        "CREATE TABLE t (k TEXT PRIMARY KEY, v INTEGER);\n"
        "CREATE TABLE log (msg TEXT);\n"
        "CREATE TRIGGER t_ai AFTER INSERT ON t "
        "BEGIN INSERT INTO log VALUES ('ins:' || coalesce(NEW.k, '<null>')); END;"
    )
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(ddl)
    store = SegmentStore(spark, str(tmp_path / "trignull"))
    store.set_schema("tn_schema", ddl)
    store.provision("tn1", "tn_schema")
    seed = "INSERT INTO t VALUES ('a', 1), (NULL, 2)"
    _sqlite_script(conn, seed)
    store.write("tn1", seed)
    stmt = "INSERT OR IGNORE INTO t VALUES (NULL, 3), ('a', 9), ('b', 4)"
    _sqlite_script(conn, stmt)
    store.write("tn1", stmt)
    for q in (
        "SELECT k, v FROM t ORDER BY k, v",
        "SELECT msg FROM log ORDER BY msg",
    ):
        expected, got = _diff_state(conn, store, "tn1", q)
        assert got == expected and expected, f"{q}: {got} vs {expected}"
    with pytest.raises(QueryRejected, match="ON CONFLICT"):
        store.write(
            "tn1",
            "INSERT OR IGNORE INTO t VALUES ('z', 1) "
            "ON CONFLICT (k) DO UPDATE SET v = 0",
        )
    conn.close()


def test_rowid_alias_null_semantics_match_sqlite(spark, tmp_path):
    """Round-8 probe: an INTEGER PRIMARY KEY is the rowid — an INSERT of
    an explicit NULL auto-assigns (exactly like omitting the column), and
    an UPDATE to NULL raises "datatype mismatch" even under OR
    IGNORE/REPLACE (it is a datatype error, not a skippable constraint).
    Previously the engine stored the NULL silently on both paths."""
    ddl = "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)"
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.execute(ddl)
    store = SegmentStore(spark, str(tmp_path / "rowidnull"))
    store.set_schema("rn_schema", ddl + ";")
    store.provision("rn1", "rn_schema")
    script = (
        "INSERT INTO t VALUES (NULL, 'a');\n"
        "INSERT INTO t VALUES (5, 'b');\n"
        "INSERT INTO t (id, v) VALUES (NULL, 'c'), (NULL, 'd')"
    )
    _sqlite_script(conn, script)
    store.write("rn1", script)
    q = "SELECT id, v FROM t ORDER BY id"
    expected, got = _diff_state(conn, store, "rn1", q)
    assert got == expected == [(1, "a"), (5, "b"), (6, "c"), (7, "d")]
    from trough_spark.dialect import QueryRejected

    for stmt in (
        "UPDATE t SET id = NULL WHERE v = 'b'",
        "UPDATE OR IGNORE t SET id = NULL",
        "UPDATE OR REPLACE t SET id = NULL WHERE v = 'a'",
    ):
        with pytest.raises(sqlite3.Error):
            conn.execute(stmt)
        with pytest.raises(QueryRejected, match="datatype mismatch"):
            store.write("rn1", stmt)
    expected, got = _diff_state(conn, store, "rn1", q)
    assert got == expected, f"{got} vs {expected}"
    conn.close()


def test_rowid_alias_is_lexical_not_type_affinity(spark, tmp_path):
    """Round-8 probe: SQLite's rowid-alias rule is LEXICAL — the declared
    type must be exactly the word INTEGER.  An INT / BIGINT pk is an
    ordinary unique column: NULL inserts store NULL, UPDATE to NULL is
    legal, and nothing auto-assigns.  The table-constraint form
    ``x INTEGER, PRIMARY KEY (x)`` DOES alias (auto-assigns), while the
    column-level ``INTEGER PRIMARY KEY DESC`` does NOT."""
    store = SegmentStore(spark, str(tmp_path / "lexalias"))
    cases = {
        # name -> (ddl, aliases?)
        "int_pk": ("CREATE TABLE t (id INT PRIMARY KEY, v TEXT)", False),
        "bigint_pk": ("CREATE TABLE t (id BIGINT PRIMARY KEY, v TEXT)", False),
        "desc_pk": ("CREATE TABLE t (id INTEGER PRIMARY KEY DESC, v TEXT)", False),
        "tc_pk": ("CREATE TABLE t (id INTEGER, v TEXT, PRIMARY KEY (id))", True),
        "tc_desc_pk": (
            "CREATE TABLE t (id INTEGER, v TEXT, PRIMARY KEY (id DESC))",
            True,
        ),
    }
    for name, (ddl, aliases) in cases.items():
        conn = sqlite3.connect(":memory:")
        conn.isolation_level = None
        conn.execute(ddl)
        store.set_schema(f"{name}_schema", ddl + ";")
        store.provision(name, f"{name}_schema")
        script = (
            "INSERT INTO t VALUES (NULL, 'a');\n"
            "INSERT INTO t (id, v) VALUES (7, 'b')"
        )
        _sqlite_script(conn, script)
        store.write(name, script)
        expected, got = _diff_state(
            conn, store, name, "SELECT id, v FROM t ORDER BY v"
        )
        assert got == expected, f"{name}: {got} vs {expected}"
        assert (expected[0][0] is not None) == aliases, (name, expected)
        if not aliases:
            # non-alias: UPDATE to NULL is legal on both engines
            stmt = "UPDATE t SET id = NULL WHERE v = 'b'"
            conn.execute(stmt)
            store.write(name, stmt)
            expected, got = _diff_state(
                conn, store, name, "SELECT id, v FROM t ORDER BY v"
            )
            assert got == expected, f"{name}: {got} vs {expected}"
        conn.close()


def test_rowid_alias_chase_applies_to_table_constraint_form(spark, tmp_path):
    """``x INTEGER, PRIMARY KEY (x)`` is a rowid alias, so the probed
    OR REPLACE position-visit chase applies: dense (1,2,3) ``SET id=id+1``
    collapses to the single row (4,'a') exactly as the column-level form
    does."""
    ddl = "CREATE TABLE t (id INTEGER, v TEXT, PRIMARY KEY (id))"
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.execute(ddl)
    store = SegmentStore(spark, str(tmp_path / "tcchase"))
    store.set_schema("tcc_schema", ddl + ";")
    store.provision("tcc", "tcc_schema")
    script = "INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')"
    _sqlite_script(conn, script)
    store.write("tcc", script)
    stmt = "UPDATE OR REPLACE t SET id = id + 1"
    conn.execute(stmt)
    store.write("tcc", stmt)
    expected, got = _diff_state(conn, store, "tcc", "SELECT id, v FROM t ORDER BY id")
    assert got == expected == [(4, "a")], (got, expected)
    conn.close()


def test_non_alias_int_pk_or_replace_conflict_rejected_loudly(spark, tmp_path):
    """An INT (non-alias) pk takes the order-independent path; an OR
    REPLACE whose updates pk-conflict is the one order-dependent case the
    engine rejects LOUDLY (SQLite resolves it in rowid order, which the
    engine does not track) — pinned so the reject never silently applies
    the rowid-alias chase to a non-alias table."""
    ddl = "CREATE TABLE t (id INT PRIMARY KEY, v TEXT)"
    store = SegmentStore(spark, str(tmp_path / "intrej"))
    store.set_schema("ir_schema", ddl + ";")
    store.provision("ir", "ir_schema")
    store.write("ir", "INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    from trough_spark.dialect import QueryRejected

    with pytest.raises(QueryRejected, match="rowid"):
        store.write("ir", "UPDATE OR REPLACE t SET id = id + 1")
    # non-conflicting OR-mode updates still work and match SQLite
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.execute(ddl)
    _sqlite_script(conn, "INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    stmt = "UPDATE OR IGNORE t SET id = id + 10"
    conn.execute(stmt)
    store.write("ir", stmt)
    expected, got = _diff_state(conn, store, "ir", "SELECT id, v FROM t ORDER BY id")
    assert got == expected == [(11, "a"), (12, "b"), (13, "c")], (got, expected)
    conn.close()


def test_autoincrement_requires_integer_primary_key(spark, tmp_path):
    """SQLite: AUTOINCREMENT on anything but an INTEGER PRIMARY KEY is a
    DDL error — the engine raises the same (verbatim) message at schema
    validation instead of silently treating the column as a sequence."""
    ddl = "CREATE TABLE t (id INT PRIMARY KEY AUTOINCREMENT, v TEXT)"
    conn = sqlite3.connect(":memory:")
    with pytest.raises(sqlite3.Error, match="AUTOINCREMENT"):
        conn.execute(ddl)
    conn.close()
    from trough_spark.dialect import QueryRejected

    store = SegmentStore(spark, str(tmp_path / "ai"))
    with pytest.raises(QueryRejected, match="AUTOINCREMENT"):
        store.set_schema("ai_schema", ddl + ";")


@_wide_only
def test_without_rowid_semantics_match_sqlite(spark, tmp_path):
    """Round-8 probes for WITHOUT ROWID tables: the pk is the btree key —
    every pk column is implicitly NOT NULL (explicit NULL and omission
    both raise SQLite's message), an INTEGER pk does NOT auto-assign, and
    the OR REPLACE position-visit chase applies to ANY pk shape (probed:
    a TEXT pk chases exactly like the integer rowid alias)."""
    from trough_spark.dialect import QueryRejected

    store = SegmentStore(spark, str(tmp_path / "worid"))

    # INTEGER pk: NULL insert raises NOT NULL on both engines
    ddl = "CREATE TABLE w (id INTEGER PRIMARY KEY, v TEXT) WITHOUT ROWID"
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.execute(ddl)
    store.set_schema("w_schema", ddl + ";")
    store.provision("w1", "w_schema")
    for stmt in (
        "INSERT INTO w VALUES (NULL, 'a')",
        "INSERT INTO w (v) VALUES ('a')",
    ):
        with pytest.raises(sqlite3.Error, match="NOT NULL"):
            conn.execute(stmt)
        with pytest.raises(QueryRejected, match="NOT NULL constraint failed: w.id"):
            store.write("w1", stmt)
    script = "INSERT INTO w VALUES (1, 'a'), (2, 'b'), (3, 'c')"
    _sqlite_script(conn, script)
    store.write("w1", script)
    # integer-pk chase applies (btree key order == pk order)
    stmt = "UPDATE OR REPLACE w SET id = id + 1"
    conn.execute(stmt)
    store.write("w1", stmt)
    expected, got = _diff_state(conn, store, "w1", "SELECT id, v FROM w ORDER BY id")
    assert got == expected == [(4, "a")], (got, expected)
    # UPDATE to NULL: NOT NULL (not "datatype mismatch" — no rowid here)
    with pytest.raises(sqlite3.Error, match="NOT NULL"):
        conn.execute("UPDATE w SET id = NULL")
    with pytest.raises(QueryRejected, match="NOT NULL constraint failed: w.id"):
        store.write("w1", "UPDATE w SET id = NULL")
    # OR IGNORE skips the NULL change; OR REPLACE raises NOT NULL
    for stmt, raises in (
        ("UPDATE OR IGNORE w SET id = NULL", False),
        ("UPDATE OR REPLACE w SET id = NULL", True),
    ):
        if raises:
            with pytest.raises(sqlite3.Error, match="NOT NULL"):
                conn.execute(stmt)
            with pytest.raises(QueryRejected, match="NOT NULL"):
                store.write("w1", stmt)
        else:
            conn.execute(stmt)
            store.write("w1", stmt)
        expected, got = _diff_state(
            conn, store, "w1", "SELECT id, v FROM w ORDER BY id"
        )
        assert got == expected, (stmt, got, expected)
    conn.close()

    # TEXT pk: the chase still applies under WITHOUT ROWID
    ddl2 = "CREATE TABLE wt (k TEXT PRIMARY KEY, v INTEGER) WITHOUT ROWID"
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.execute(ddl2)
    store.set_schema("wt_schema", ddl2 + ";")
    store.provision("w2", "wt_schema")
    script = "INSERT INTO wt VALUES ('a', 1), ('b', 2), ('c', 3)"
    _sqlite_script(conn, script)
    store.write("w2", script)
    stmt = "UPDATE OR REPLACE wt SET k = char(unicode(k) + 1)"
    conn.execute(stmt)
    store.write("w2", stmt)
    expected, got = _diff_state(conn, store, "w2", "SELECT k, v FROM wt ORDER BY k")
    assert got == expected == [("d", 1)], (got, expected)
    conn.close()


def test_without_rowid_ddl_errors_match_sqlite(spark, tmp_path):
    """WITHOUT ROWID DDL validation: AUTOINCREMENT is banned and a pk is
    mandatory — both raised with SQLite's verbatim messages."""
    from trough_spark.dialect import QueryRejected

    store = SegmentStore(spark, str(tmp_path / "woriddl"))
    conn = sqlite3.connect(":memory:")
    for ddl, msg in (
        (
            "CREATE TABLE x (id INTEGER PRIMARY KEY AUTOINCREMENT, v TEXT) "
            "WITHOUT ROWID",
            "AUTOINCREMENT not allowed on WITHOUT ROWID tables",
        ),
        ("CREATE TABLE x (id INTEGER, v TEXT) WITHOUT ROWID", "PRIMARY KEY missing"),
    ):
        with pytest.raises(sqlite3.Error):
            conn.execute(ddl)
        with pytest.raises(QueryRejected, match=re.escape(msg)):
            store.set_schema("bad", ddl + ";")
    conn.close()


def test_pragma_table_info_matches_sqlite(spark, tmp_path):
    """Round 8: the reference hands reads to SQLite, so clients introspect
    with PRAGMA table_info.  Pinned verbatim against live SQLite: declared
    type text as written (incl. 'VARCHAR (10)' spacing and '' for untyped),
    notnull incl. the WITHOUT ROWID implicit pk NOT NULL, dflt_value with
    the one-outer-paren strip, pk as 1-based PRIMARY KEY position, unknown
    table -> zero rows, and ALTER ADD COLUMN visible afterwards."""
    ddl = (
        "CREATE TABLE t (id INTEGER PRIMARY KEY, a INT NOT NULL DEFAULT 5, "
        "b TEXT DEFAULT ('x'), c DEFAULT (1+2), s VARCHAR (10), "
        "n REAL DEFAULT -3.5, z BLOB DEFAULT NULL);\n"
        "CREATE TABLE w (a TEXT, b INTEGER, v TEXT, PRIMARY KEY (b, a)) "
        "WITHOUT ROWID;"
    )
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(ddl)
    store = SegmentStore(spark, str(tmp_path / "ti"))
    store.set_schema("ti_schema", ddl)
    store.provision("ti1", "ti_schema")
    for tbl in ("t", "w", "missing_table"):
        expected = conn.execute(f"PRAGMA table_info({tbl})").fetchall()
        got = [
            tuple(r.values())
            for r in store.read("ti1", f"PRAGMA table_info({tbl})")
        ]
        assert got == expected, f"{tbl}:\nengine {got}\nsqlite {expected}"
    # quoted-name form
    assert [r["name"] for r in store.read("ti1", "PRAGMA table_info('w')")] == [
        "a",
        "b",
        "v",
    ]
    # DDL evolution: ALTER ADD COLUMN shows up with its declared text
    stmt = "ALTER TABLE t ADD COLUMN extra VARCHAR (5) DEFAULT ('e')"
    conn.execute(stmt)
    store.write("ti1", stmt)
    expected = conn.execute("PRAGMA table_info(t)").fetchall()
    got = [tuple(r.values()) for r in store.read("ti1", "PRAGMA table_info(t)")]
    assert got == expected, f"after ALTER:\nengine {got}\nsqlite {expected}"
    conn.close()


def test_pragma_foreign_key_list_matches_sqlite(spark, tmp_path):
    """Round 8: PRAGMA foreign_key_list pinned against live SQLite —
    column-level REFERENCES (with and without target columns), a composite
    table-level FOREIGN KEY, newest-declared-first fk ids, per-pair seq,
    action defaults, and zero rows for fk-less / unknown tables.
    Enforcement stays off (reference parity) — this is introspection."""
    ddl = (
        "CREATE TABLE p (x INTEGER PRIMARY KEY, y TEXT);\n"
        "CREATE TABLE ch (\n"
        "  a INTEGER REFERENCES p(x) ON DELETE CASCADE,\n"
        "  b TEXT CHECK (b IS NULL OR length(b) < 9),\n"
        "  c INTEGER REFERENCES p ON UPDATE SET NULL,\n"
        "  FOREIGN KEY (b, a) REFERENCES p (y, x) ON DELETE RESTRICT\n"
        ");"
    )
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(ddl)
    store = SegmentStore(spark, str(tmp_path / "fkl"))
    store.set_schema("fkl_schema", ddl)
    store.provision("fkl1", "fkl_schema")
    for tbl in ("ch", "p", "missing"):
        expected = conn.execute(f"PRAGMA foreign_key_list({tbl})").fetchall()
        got = [
            tuple(r.values())
            for r in store.read("fkl1", f"PRAGMA foreign_key_list({tbl})")
        ]
        assert got == expected, f"{tbl}:\nengine {got}\nsqlite {expected}"
    conn.close()


def test_constraint_kind_decided_by_leading_keyword(spark, tmp_path):
    """A table-level CHECK whose body mentions the words foreign/key/
    primary must still register as a CHECK (the round-8 fk parsing routes
    constraints by their LEADING keyword, not a whole-text scan)."""
    ddl = (
        "CREATE TABLE t (id INTEGER PRIMARY KEY, b TEXT, "
        "CONSTRAINT cc CHECK (b IN ('foreign', 'key', 'primary')));"
    )
    conn = sqlite3.connect(":memory:")
    conn.isolation_level = None
    conn.executescript(ddl)
    store = SegmentStore(spark, str(tmp_path / "leadkw"))
    store.set_schema("lk_schema", ddl)
    store.provision("lk1", "lk_schema")
    assert store.read("lk1", "PRAGMA foreign_key_list(t)") == []
    ok = "INSERT INTO t VALUES (1, 'key')"
    conn.execute(ok)
    store.write("lk1", ok)
    bad = "INSERT INTO t VALUES (2, 'nope')"
    with pytest.raises(sqlite3.Error, match="cc"):
        conn.execute(bad)
    from trough_spark.dialect import QueryRejected

    with pytest.raises(QueryRejected, match="cc"):
        store.write("lk1", bad)
    expected, got = _diff_state(conn, store, "lk1", "SELECT id, b FROM t")
    assert got == expected == [(1, "key")]
    conn.close()
