"""Per-layer metrics of the traced run.

``targets`` lists the public functions wrapped as spans, by layer:

=================  =====================================================
span name          wrapped
=================  =====================================================
api                ``wsgi.read_app``/``write_app`` callables,
                   ``TroughClient.read_many``
store.read         ``SegmentStore.read``
store.read_df      ``SegmentStore.read_df``, ``SegmentStore.read_many_df``
store.write        ``SegmentStore.write``, ``SegmentStore.bulk_load``
dialect            the ``trough_spark.dialect`` entry points
spark.action.*     pyspark ``DataFrame`` actions, ``DataFrameWriter`` saves
spark.view         ``DataFrame.createOrReplaceTempView``,
                   ``SparkSession.createDataFrame``
=================  =====================================================

``derive`` turns the spans of the traced ops, plus the per-op job and file
counts ``OpTimer`` collected, into the metrics listed in BENCHMARK.json's
``per_layer``.  Counts repeat exactly across runs with one seed; times do
not.
"""

from __future__ import annotations

import contextlib
import os
import time

import probes

DIALECT_FNS = (
    "interpolate",
    "assert_single_select",
    "assert_write_allowed",
    "statement_type",
    "split_statements",
    "sqlite_to_spark",
    "tokenize",
)
ACTIONS = ("collect", "count", "isEmpty", "first", "take", "head", "toPandas")


def targets(ctx) -> list[tuple[object, str, str]]:
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.session import SparkSession

    from trough_spark import dialect
    from trough_spark.client import TroughClient
    from trough_spark.store import SegmentStore

    out = [
        (ctx, "read_app", "api"),
        (ctx, "write_app", "api"),
        (TroughClient, "read_many", "api"),
        (SegmentStore, "read", "store.read"),
        (SegmentStore, "read_df", "store.read_df"),
        (SegmentStore, "read_many_df", "store.read_df"),
        (SegmentStore, "write", "store.write"),
        (SegmentStore, "bulk_load", "store.write"),
        (DataFrame, "createOrReplaceTempView", "spark.view"),
        (SparkSession, "createDataFrame", "spark.view"),
        (DataFrameWriter, "parquet", "spark.action.write"),
        (DataFrameWriter, "save", "spark.action.write"),
    ]
    out += [(dialect, fn, "dialect") for fn in DIALECT_FNS]
    out += [(DataFrame, fn, f"spark.action.{fn}") for fn in ACTIONS]
    return out


ACTION_SPANS = {f"spark.action.{a}" for a in ACTIONS} | {"spark.action.write"}


class OpTimer:
    """Times the parts of one op (a read, a write) into ``op.parts``.  In a
    traced op it also opens a span per part, runs the part under its own
    Spark job group, and for writes lists the store's files around it."""

    def __init__(self, op, tracer=None, jobs=None, tables_dir=None):
        self.op = op
        self.tracer = tracer
        self.jobs = jobs
        self.tables_dir = tables_dir

    @contextlib.contextmanager
    def __call__(self, part: str):
        traced = self.tracer is not None
        if traced:
            group = f"op{self.op.index}.{part}"
            before = probes.tree_files(self.tables_dir) if part == "write" else None
            self.jobs.begin(group)
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"part.{part}"):
                    yield
            else:
                yield
        finally:
            self.op.parts.append((part, (time.perf_counter() - t0) * 1000.0))
            if traced:
                njobs, ntasks = self.jobs.end(group)
                c = self.op.counts.setdefault(part, {"jobs": 0, "tasks": 0})
                c["jobs"] += njobs
                c["tasks"] += ntasks
                if before is not None:
                    c.update(file_delta(before, probes.tree_files(self.tables_dir)))


def file_delta(before: dict[str, int], after: dict[str, int]) -> dict:
    """Data files a write added and the bytes it wrote (new or resized
    files); checksum and marker files are left out."""
    def data_file(p):
        return not os.path.basename(p).startswith((".", "_"))

    added = [p for p in after if p not in before and data_file(p)]
    written = sum(
        size for p, size in after.items() if data_file(p) and before.get(p) != size
    )
    return {"files_added": len(added), "bytes_written": written}


def files_per_segment(tables_dir: str) -> float:
    """Mean data files per (table, segment) partition directory."""
    counts = []
    for table in sorted(os.listdir(tables_dir)):
        tdir = os.path.join(tables_dir, table)
        for part in sorted(os.listdir(tdir)):
            pdir = os.path.join(tdir, part)
            if part.startswith("segment_id=") and os.path.isdir(pdir):
                files = probes.tree_files(pdir)
                counts.append(sum(1 for p in files if not os.path.basename(p).startswith((".", "_"))))
    return sum(counts) / len(counts) if counts else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def derive(tracer, traced_ops: list, setup_writes: dict, extra: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics as {name: (value, unit)}.

    ``traced_ops`` are the ops run with tracing on (each with ``index``,
    ``kind`` and ``counts``).  Write metrics cover the traced ops' writes;
    a workload whose ops never write reports its set-up bulk loads there
    (``setup_writes``: spans and file counts of the load)."""
    kids = tracer.children()
    spans = tracer.spans
    ids = {op.index for op in traced_ops}
    n_ops = len(traced_ops)
    by_op: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        by_op.setdefault(s.op, []).append(i)

    def outermost(idxs, names):
        """Spans named in ``names`` with no ancestor of those names."""
        out = []
        for i in idxs:
            if spans[i].name not in names:
                continue
            p = spans[i].parent
            while p >= 0 and spans[p].name not in names:
                p = spans[p].parent
            if p < 0:
                out.append(i)
        return out

    op_spans = [i for op in ids for i in by_op.get(op, ())]
    api = [i for i in op_spans if spans[i].name == "api"]
    api_self = sum(
        spans[i].ms - tracer.covered_ms(i, {"store.read", "store.write", "store.read_df"} | ACTION_SPANS, kids)
        for i in api
    )
    dia = outermost(op_spans, {"dialect"})
    reads = [i for i in op_spans if spans[i].name == "store.read_df"]
    read_self = sum(spans[i].ms - tracer.covered_ms(i, {"dialect"}, kids) for i in reads)
    regs = [
        sum(1 for d in tracer.descendants(i, kids) if spans[d].name == "spark.view")
        for i in reads
    ]
    collect_ms = sum(
        spans[i].ms for i in outermost(op_spans, ACTION_SPANS) if spans[i].name == "spark.action.collect"
    )

    write_ops = [op for op in traced_ops if "write" in op.counts]
    if write_ops:
        writes = [i for i in op_spans if spans[i].name == "store.write"]
        files_added = sum(op.counts["write"]["files_added"] for op in write_ops)
        bytes_written = sum(op.counts["write"]["bytes_written"] for op in write_ops)
        user_bytes = sum(op.args["user_bytes"] for op in write_ops)
    else:
        writes = [i for i in by_op.get(-1, ()) if spans[i].name == "store.write"]
        files_added = setup_writes["files_added"]
        bytes_written = setup_writes["bytes_written"]
        user_bytes = setup_writes["user_bytes"]
    n_writes = len(writes)
    write_action = sum(tracer.covered_ms(i, ACTION_SPANS, kids) for i in writes)
    write_self = sum(spans[i].ms for i in writes) - write_action

    jobs = sum(c["jobs"] for op in traced_ops for c in op.counts.values())
    tasks = sum(c["tasks"] for op in traced_ops for c in op.counts.values())

    def jobs_per(kind):
        ops = [op for op in write_ops if op.kind == kind]
        return _ratio(sum(op.counts["write"]["jobs"] for op in ops), len(ops))

    m = {
        "api.self_ms": (_ratio(api_self, n_ops), "ms"),
        "dialect.ms_per_op": (_ratio(sum(spans[i].ms for i in dia), n_ops), "ms"),
        "dialect.calls_per_op": (_ratio(len(dia), n_ops), "count"),
        "store.read_df_ms": (_ratio(read_self, len(reads)), "ms"),
        "store.view_registrations_per_read": (_ratio(sum(regs), len(regs)), "count"),
        "store.view_cache_hit_ratio": (_ratio(sum(1 for r in regs if r == 0), len(regs)), "ratio"),
        "store.write_self_ms": (_ratio(write_self, n_writes), "ms"),
        "spark.action_ms_per_write": (_ratio(write_action, n_writes), "ms"),
        "spark.jobs_per_op": (_ratio(jobs, n_ops), "count"),
        "spark.jobs_per_insert": (jobs_per("insert"), "count"),
        "spark.jobs_per_update": (jobs_per("update"), "count"),
        "spark.jobs_per_delete": (jobs_per("delete"), "count"),
        "spark.tasks_per_op": (_ratio(tasks, n_ops), "count"),
        "spark.collect_ms": (_ratio(collect_ms, n_ops), "ms"),
        "store.files_added_per_write": (_ratio(files_added, n_writes), "count"),
        "store.bytes_written_per_user_byte": (_ratio(bytes_written, user_bytes), "ratio"),
    }
    m.update(extra)
    return m
