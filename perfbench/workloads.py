"""The three closed-loop workloads: seeded op streams, the calls each op
makes through the program's public surfaces, and result checking.

Every op goes through a public service surface: ``wsgi.read_app`` and
``wsgi.write_app`` called in-process with a WSGI environ (point_read and
write_mix), ``api.SegmentManagerAPI`` for schema and provisioning,
``client.TroughClient.read_many`` (fanout_scan), and ``dialect.interpolate``
for client-side parameter binding.  The program only receives the generated
SQL.

Op streams depend only on the seed and the op index (write_mix also on its
own model of the data, which the same ops built), so two runs with one seed
send identical ops for as long as both run.  Results are kept and checked
after the timed phase against an oracle: DuckDB over the same parquet for
the read workloads, an in-benchmark model of every segment for write_mix.
"""

from __future__ import annotations

import io
import json
import math
import random
import urllib.parse
from collections import Counter
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np

import data

ZIPF_S = 1.1


@dataclass
class Op:
    """One op of a workload's stream and, once run, its outcome."""

    kind: str
    args: dict
    index: int = -1
    traced: bool = False
    parts: list = field(default_factory=list)  # (part kind, ms) per call
    counts: dict = field(default_factory=dict)  # per part: jobs, tasks, files
    result: object = None
    error: str | None = None


def call_wsgi(app, segment: str, body: str) -> tuple[int, bytes]:
    """POST ``body`` to a WSGI app for ``segment``, in-process."""
    raw = body.encode("utf-8")
    environ = {
        "REQUEST_METHOD": "POST",
        "PATH_INFO": "/",
        "QUERY_STRING": urllib.parse.urlencode({"segment": segment}),
        "CONTENT_LENGTH": str(len(raw)),
        "wsgi.input": io.BytesIO(raw),
    }
    status: list[str] = []
    out = b"".join(app(environ, lambda s, headers: status.append(s)))
    return int(status[0].split()[0]), out


def _json_row(row: dict) -> tuple:
    """A row as the WSGI read surface serializes it, order-free."""
    return tuple(sorted(json.loads(json.dumps(row, default=str)).items()))


def _canon(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (Decimal, float)):
        return round(float(v), 6)
    if isinstance(v, int) or v is None:
        return v
    return str(v)


def _canon_row(row: dict) -> tuple:
    return tuple(sorted((k, _canon(v)) for k, v in row.items()))


class Workload:
    name = ""
    warmup_ops = 0
    traced_ops = 0
    trace_block = 1
    # The timed phase is a fixed number of ops: ``--seconds`` times this
    # rate (ops per second on 4 vCPUs), rounded up to whole cycles of the
    # workload's op mix.  It takes about ``--seconds`` there, and every run
    # of one seed times the same ops, however fast the host runs that day.
    nominal_ops_per_s = 1.0
    cycle = 1

    def timed_ops(self, seconds: float) -> int:
        cycles = math.ceil(seconds * self.nominal_ops_per_s / self.cycle)
        return max(cycles, 1) * self.cycle

    def __init__(self, ctx, seed: int):
        self.ctx = ctx
        self.seed = seed

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Op:
        """The ``i``-th op of the stream (warm-up ops come first)."""
        raise NotImplementedError

    def run(self, op: Op, timer) -> None:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> list[bool]:
        """Per op: True when it succeeded with the right result."""
        raise NotImplementedError

    def logical_bytes(self) -> int:
        """User bytes in the store (``space_amp``'s denominator): here the
        bulk-loaded tables."""
        return sum(self.ctx.tpch["user_bytes"][t] for t in self.ctx.loaded)


# ---------------------------------------------------------------------------
# point_read
# ---------------------------------------------------------------------------


class PointRead(Workload):
    """PK point SELECTs through ``read_app`` against 64 lineitem segments,
    segment chosen Zipf(1.1), order key uniform within the segment."""

    name = "point_read"
    warmup_ops = 40
    nominal_ops_per_s = 3.75
    traced_ops = 40
    trace_block = 5
    SQL = "SELECT * FROM lineitem WHERE l_orderkey = %s"
    STREAM = 50_000  # ops drawn up front; the stream repeats after them

    def setup(self) -> None:
        self.ctx.load_tpch(["lineitem"])
        self.plan()

    def plan(self) -> None:
        """The op stream, from the lineitem order keys of each segment."""
        segs = sorted(self.ctx.tpch["orderkeys"].items())
        names = [s for s, _ in segs]
        keys = [np.asarray(k, dtype=np.int64) for _, k in segs]
        rng = np.random.default_rng([self.seed, 1])
        ranks = rng.permutation(len(names))  # segment at each Zipf rank
        p = 1.0 / np.arange(1, len(names) + 1) ** ZIPF_S
        picks = ranks[rng.choice(len(names), size=self.STREAM, p=p / p.sum())]
        within = rng.random(self.STREAM)
        self._segs = [names[j] for j in picks]
        self._keys = [
            int(keys[j][int(u * len(keys[j]))]) for j, u in zip(picks, within)
        ]

    def op(self, i: int) -> Op:
        i %= self.STREAM
        return Op("read", {"segment": self._segs[i], "key": self._keys[i]})

    def run(self, op: Op, timer) -> None:
        from trough_spark import dialect

        sql = dialect.interpolate(self.SQL, (op.args["key"],))
        with timer("read"):
            status, body = call_wsgi(self.ctx.read_app, op.args["segment"], sql)
        if status != 200:
            raise RuntimeError(f"read returned {status}: {body[:200]!r}")
        op.result = Counter(_json_row(r) for r in json.loads(body))

    def check(self, ops: list[Op]) -> list[bool]:
        keys = sorted({op.args["key"] for op in ops})
        cur = self.ctx.duck.execute(
            "SELECT * EXCLUDE (seg) FROM lineitem_src "
            "WHERE l_orderkey IN (SELECT unnest(?::BIGINT[]))",
            [keys],
        )
        cols = [d[0] for d in cur.description]
        expect: dict[int, Counter] = {k: Counter() for k in keys}
        for row in cur.fetchall():
            d = dict(zip(cols, row))
            expect[d["l_orderkey"]][_json_row(d)] += 1
        return [op.error is None and op.result == expect[op.args["key"]] for op in ops]


# ---------------------------------------------------------------------------
# write_mix
# ---------------------------------------------------------------------------

ITEMS_SQL = (
    "CREATE TABLE items (id INTEGER PRIMARY KEY, name TEXT NOT NULL, "
    "qty INTEGER NOT NULL, price INTEGER NOT NULL)"
)
ITEM_COLS = ("id", "name", "qty", "price")


def _values(rows) -> str:
    return ", ".join(
        "(%d, '%s', %d, %d)" % (i, n.replace("'", "''"), q, p) for i, n, q, p in rows
    )


class WriteMix(Workload):
    """Small write scripts against 8 provisioned segments, each followed by
    a read-your-write point read checked against the benchmark's model."""

    name = "write_mix"
    warmup_ops = 3
    traced_ops = 12
    trace_block = 3
    SEGMENTS = 8
    # The kinds follow one fixed cycle, 5 inserts in 7, and a run times
    # whole cycles: its few timed steps then hold the same mix whatever the
    # seed (an update or delete takes a fifth of an insert's time and CPU,
    # so a varying mix moves both).  The three warm-up steps run one of
    # each kind, and the traced blocks (steps 6-11) hold all three.
    KINDS = ("insert", "update", "delete") + ("insert",) * 4
    cycle = len(KINDS)
    nominal_ops_per_s = 0.5
    SEED_ROWS = 500
    INSERT_ROWS = 5

    def setup(self) -> None:
        api = self.ctx.api
        status, body, _ = api.put_schema_sql("items", ITEMS_SQL)
        if status != 201:
            raise RuntimeError(f"schema registration returned {status}: {body}")
        seed_rows = self.plan_seed()
        for seg, rows in seed_rows.items():
            status, body, _ = api.provision(json.dumps({"segment": seg, "schema": "items"}))
            if status != 200:
                raise RuntimeError(f"provision {seg} returned {status}: {body}")
            self._write(seg, f"INSERT INTO items (id, name, qty, price) VALUES {_values(rows)}")
        for seg, script in self.plan_rejected():
            status, body = call_wsgi(self.ctx.write_app, seg, script)
            if status == 200:
                raise RuntimeError(f"script that must fail was acknowledged on {seg}")

    def plan_seed(self) -> dict[str, list[tuple]]:
        """The seed rows of every segment; the model starts from them."""
        self.segs = ["w%d" % i for i in range(self.SEGMENTS)]
        self.model: dict[str, dict[int, tuple]] = {s: {} for s in self.segs}
        self.next_id = {s: 1 for s in self.segs}
        self.rng = random.Random(self.seed)
        out = {}
        for seg in self.segs:
            out[seg] = [self._new_row(seg) for _ in range(self.SEED_ROWS)]
            self.model[seg] = {r[0]: r for r in out[seg]}
        return out

    def plan_rejected(self) -> list[tuple[str, str]]:
        """Two scripts that must fail as a whole.  ``self.rejected`` keeps,
        per segment, the id whose presence would show a partial commit."""
        seg0, seg1 = self.segs[0], self.segs[1]
        # a valid insert, then a duplicate primary key: nothing may land
        new0 = self._new_row(seg0)
        dup = next(iter(self.model[seg0].values()))
        script0 = (
            f"INSERT INTO items (id, name, qty, price) VALUES {_values([new0])};\n"
            f"INSERT INTO items (id, name, qty, price) VALUES {_values([dup])}"
        )
        # a partition-rewriting update, an insert, then a statement on a
        # table that does not exist: the update must be rolled back too
        victim = min(self.model[seg1])
        new1 = self._new_row(seg1)
        script1 = (
            f"UPDATE items SET qty = -1 WHERE id = {victim};\n"
            f"INSERT INTO items (id, name, qty, price) VALUES {_values([new1])};\n"
            "INSERT INTO no_such_table (x) VALUES (1)"
        )
        self.rejected = {seg0: new0[0], seg1: new1[0]}
        return [(seg0, script0), (seg1, script1)]

    def _new_row(self, seg: str) -> tuple:
        i = self.next_id[seg]
        self.next_id[seg] += 1
        r = self.rng
        return (i, "n%d-%06d" % (i, r.randrange(10**6)), r.randrange(1000), r.randrange(100_000))

    def _write(self, seg: str, script: str) -> None:
        status, body = call_wsgi(self.ctx.write_app, seg, script)
        if status != 200 or body != b"OK\n":
            raise RuntimeError(f"write to {seg} returned {status}: {body[:200]!r}")

    def op(self, i: int) -> Op:
        """Next step.  Steps are generated in order because each one reads
        the model the previous steps left."""
        r = self.rng
        seg = self.segs[r.randrange(self.SEGMENTS)]
        rows = self.model[seg]
        kind = self.KINDS[i % len(self.KINDS)]
        if not rows:
            kind = "insert"
        if kind == "insert":
            new = [self._new_row(seg) for _ in range(self.INSERT_ROWS)]
            script = f"INSERT INTO items (id, name, qty, price) VALUES {_values(new)}"
            ids = [n[0] for n in new]
            after = {n[0]: n for n in new}
            touched = new
        else:
            pk = r.choice(sorted(rows))
            ids = [pk]
            old = rows[pk]
            if kind == "update":
                name = "u%d-%06d" % (pk, r.randrange(10**6))
                script = (
                    f"UPDATE items SET qty = qty + 7, name = '{name}' WHERE id = {pk}"
                )
                after = {pk: (pk, name, old[2] + 7, old[3])}
                touched = [after[pk]]
            else:
                script = f"DELETE FROM items WHERE id = {pk}"
                after = {pk: None}
                touched = [old]
        return Op(
            kind,
            {
                "segment": seg,
                "script": script,
                "ids": ids,
                "after": after,
                "user_bytes": sum(data.row_text_bytes(t) for t in touched),
            },
        )

    def run(self, op: Op, timer) -> None:
        seg = op.args["segment"]
        with timer("write"):
            status, body = call_wsgi(self.ctx.write_app, seg, op.args["script"])
        if status != 200 or body != b"OK\n":
            raise RuntimeError(f"write returned {status}: {body[:200]!r}")
        self.apply(op)
        ids = ", ".join(str(i) for i in op.args["ids"])
        sql = f"SELECT id, name, qty, price FROM items WHERE id IN ({ids}) ORDER BY id"
        with timer("read"):
            status, body = call_wsgi(self.ctx.read_app, seg, sql)
        if status != 200:
            raise RuntimeError(f"read-your-write returned {status}: {body[:200]!r}")
        op.result = [tuple(d[c] for c in ITEM_COLS) for d in json.loads(body)]

    def apply(self, op: Op) -> None:
        """An acknowledged write: the model takes it."""
        rows = self.model[op.args["segment"]]
        for pk, row in op.args["after"].items():
            if row is None:
                rows.pop(pk, None)
            else:
                rows[pk] = row

    def check(self, ops: list[Op]) -> list[bool]:
        out = []
        for op in ops:
            want = sorted(r for r in op.args["after"].values() if r is not None)
            out.append(op.error is None and op.result == [tuple(r) for r in want])
        return out

    def expectation(self) -> dict:
        """What a fresh reader of the store must see: the model's rows per
        segment, and the ids the rejected scripts tried to add."""
        return {
            "segments": {s: sorted(list(r) for r in rows.values()) for s, rows in self.model.items()},
            "rejected_ids": self.rejected,
        }

    def logical_bytes(self) -> int:
        return sum(data.row_text_bytes(r) for rows in self.model.values() for r in rows.values())


# ---------------------------------------------------------------------------
# fanout_scan
# ---------------------------------------------------------------------------

_SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
_EPOCH = np.datetime64("1992-01-01")

TEMPLATES = {
    # GROUP BY aggregate
    "agg": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
        "sum(l_extendedprice) AS price, min(l_shipdate) AS first_ship "
        "FROM lineitem WHERE l_shipdate <= '{d1}' "
        "GROUP BY l_returnflag, l_linestatus"
    ),
    # ORDER BY ... LIMIT top-k (ties broken by the row key)
    "topk": (
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
        "WHERE l_shipmode = '{mode}' "
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {k}"
    ),
    # orders ⋈ lineitem
    "join": (
        "SELECT o.o_orderpriority AS priority, count(*) AS n, "
        "sum(l.l_extendedprice) AS revenue "
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "WHERE o.o_orderdate >= '{d1}' AND o.o_orderdate < '{d2}' "
        "GROUP BY o.o_orderpriority"
    ),
}


class FanoutScan(Workload):
    """Cross-segment SELECTs through ``TroughClient.read_many`` over 1/8,
    1/2 or all of the 64 lineitem and orders segments."""

    name = "fanout_scan"
    warmup_ops = 6
    traced_ops = 12
    trace_block = 3
    FRACTIONS = (8, 32, 64)

    def setup(self) -> None:
        self.ctx.load_tpch(["lineitem", "orders"])

    def op(self, i: int) -> Op:
        r = random.Random(f"{self.seed}/{i}")
        template = r.choice(sorted(TEMPLATES))
        n = r.choice(self.FRACTIONS)
        if n == data.SEGMENTS:
            segs = [data.seg_name(j) for j in range(data.SEGMENTS)]
            regex = r"^s\d\d$"
        else:
            segs = sorted(data.seg_name(j) for j in r.sample(range(data.SEGMENTS), n))
            regex = "^(%s)$" % "|".join(segs)
        d1 = str(_EPOCH + np.timedelta64(r.randrange(180, 2400), "D"))
        params = {
            "d1": d1,
            "d2": str(np.datetime64(d1) + np.timedelta64(90, "D")),
            "mode": r.choice(_SHIPMODES),
            "k": r.choice((10, 20, 50)),
        }
        return Op(
            template,
            {"regex": regex, "segs": segs, "sql": TEMPLATES[template].format(**params)},
        )

    def run(self, op: Op, timer) -> None:
        with timer("read"):
            rows = self.ctx.client.read_many(op.args["regex"], op.args["sql"])
        op.result = [_canon_row(r) for r in rows]

    def check(self, ops: list[Op]) -> list[bool]:
        out = []
        for op in ops:
            if op.error is not None:
                out.append(False)
                continue
            segs = op.args["segs"]
            cur = self.ctx.duck.execute(
                "WITH lineitem AS (SELECT * FROM lineitem_src WHERE seg IN (SELECT unnest(?::VARCHAR[]))), "
                "orders AS (SELECT * FROM orders_src WHERE seg IN (SELECT unnest(?::VARCHAR[]))) "
                + op.args["sql"],
                [segs, segs],
            )
            cols = [d[0] for d in cur.description]
            want = [_canon_row(dict(zip(cols, row))) for row in cur.fetchall()]
            if op.kind == "topk":
                out.append(op.result == want)
            else:
                out.append(Counter(op.result) == Counter(want))
        return out


WORKLOADS = {w.name: w for w in (PointRead, WriteMix, FanoutScan)}
