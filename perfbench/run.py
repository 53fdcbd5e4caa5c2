"""Serving benchmark for trough_spark: one closed-loop client, in-process.

    python3 perfbench/run.py --workload point_read --seed 1 --seconds 12 --trace 0

Workloads (see workloads.py and METRICS.md): ``point_read``, ``write_mix``,
``fanout_scan``.  One client drives the program from this process on
``local[<cpus>]``: ``wsgi.serve`` is single-threaded and the store's temp
views are session-global, so concurrent clients on one Spark application
would race.

A run sets up (Spark session, data load, warm-up sized by op count), then:

- ``--trace 0`` runs a fixed number of ops, about ``--seconds`` of them on
  4 vCPUs (``Workload.timed_ops``), and reports the end-to-end metrics;
- ``--trace 1`` runs a fixed number of ops in blocks, alternately with and
  without spans (untraced, traced, traced, untraced, ...), and reports the
  per-layer metrics plus the tracing overhead.  The fixed count makes the
  count metrics repeat exactly for one seed.

Every result is checked after the timed phase; failed or wrong ops count in
``failed`` and ``error_ratio``.  stdout ends with two JSON lines: every
metric with its unit plus steadiness diagnostics, then the result line
``{"correct", "attempted", "failed", "metrics"}`` with the metrics
BENCHMARK.json names for the mode.  All files go under ``perfbench/.work``
in the checkout.  Exits non-zero without a result when the program cannot
be imported or a run fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import data  # noqa: E402
import layers  # noqa: E402
import probes  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# The measured Spark JVM.  Its heap is 2g through the program's
# SPARK_GRAFT_DRIVER_MEM; the session default (48g) on a 15 GB host let the
# resident high-water mark range over 3.1-4.5 GB.  The heap is committed at
# that size up front (-Xms, pages untouched) and the young generation fixed
# at 256m: with G1 sizing both as it goes, the high-water mark followed its
# sizing decisions (1132-1423 MB over five runs of point_read); fixed, it
# repeats within 1% and moves with the old generation's working set and
# memory outside the heap.  Allocation rate shows in jvm.gc_ms_per_op and
# cpu_ms_per_op instead.  It runs C1 only: C2 keeps compiling for the first
# 300-600 point reads, a whole core through the timed phase, and moved CPU
# per op and latency by 20-40% between runs; C1 settles within the warm-up.
# Latencies are C1 latencies, about 25% above a C2-warmed server.
JVM_MEM = "2g"
JVM_OPTS = f"-Xms{JVM_MEM} -Xmn256m -XX:TieredStopAtLevel=1"


def spark_env(run_dir: str) -> dict[str, str]:
    """Environment that keeps Spark and Python temp files under run_dir."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    return {
        "TMPDIR": tmp,
        # the launcher JVM spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
    }


def start_spark(run_dir: str, mem: str, java_opts: str):
    env = spark_env(run_dir)
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    tempfile.tempdir = env["TMPDIR"]
    from trough_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": env["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData {java_opts}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Ctx:
    """The program's public surfaces over one store, plus the oracle."""

    def __init__(self, spark, run_dir: str):
        from trough_spark import wsgi
        from trough_spark.api import SegmentManagerAPI
        from trough_spark.client import TroughClient

        self.spark = spark
        self.root = os.path.join(run_dir, "store")
        self.tables_dir = os.path.join(self.root, "tables")
        self.client = TroughClient(spark, self.root)
        self.store = self.client.store
        self.api = SegmentManagerAPI(self.store)
        self.read_app = wsgi.read_app(self.api)
        self.write_app = wsgi.write_app(self.api)
        self.tpch: dict = {}
        self.loaded: list[str] = []
        self.setup_writes = {"files_added": 0, "bytes_written": 0, "user_bytes": 0}
        self._duck = None

    def load_tpch(self, tables: list[str]) -> None:
        self.tpch = data.tpch(os.path.join(WORK, "cache"))
        for t in tables:
            path = self.tpch["paths"][t]
            df = self.spark.read.schema(self.tpch["ddl"][t]).parquet(path)
            before = probes.tree_files(self.tables_dir)
            self.store.bulk_load(t, df, "seg")
            delta = layers.file_delta(before, probes.tree_files(self.tables_dir))
            for k, v in delta.items():
                self.setup_writes[k] += v
            self.loaded.append(t)

    @property
    def duck(self):
        """The oracle: DuckDB over the loaded tables' parquet, as
        ``<table>_src``.  Opened at the first check, after the peak RSS is
        read, so its memory stays out of that figure."""
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            for t in self.loaded:
                self._duck.execute(
                    f"CREATE VIEW {t}_src AS SELECT * FROM read_parquet('{self.tpch['paths'][t]}')"
                )
        return self._duck


def percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def run_op(wl, i: int, timer_factory) -> object:
    op = wl.op(i)
    op.index = i
    try:
        wl.run(op, timer_factory(op))
    except Exception as e:  # one failed op is counted, the run goes on
        op.error = f"{type(e).__name__}: {e}"
    return op


class Snapshot:
    """The counters read at each end of the op phase."""

    def __init__(self, jvm):
        self.t = time.perf_counter()
        self.cpu = probes.process_cpu_s(jvm)
        self.gc = jvm.gc_ms()
        self.jit = jvm.jit_ms()
        self.steal = probes.host_cpu_ticks()
        own = probes.cpu_seconds(jvm.pid)
        self.split = {
            "jvm": own,
            "python_workers": jvm.cpu_s() - own,
            "client": probes.cpu_seconds(os.getpid()),
        }
        self.threads = probes.thread_cpu_seconds(jvm.pid)


def op_ms(op) -> float:
    return sum(ms for _, ms in op.parts)


def run_timed(wl, first: int, seconds: float) -> list:
    """The closed loop: the workload's fixed number of timed ops back to
    back.  A program so slow that they take five times ``seconds`` is cut
    short, so the run still ends in time to report it."""
    ops = []
    deadline = time.perf_counter() + 5 * seconds
    for _ in range(wl.timed_ops(seconds)):
        if time.perf_counter() > deadline:
            break
        ops.append(run_op(wl, first + len(ops), layers.OpTimer))
    return ops


def run_traced(wl, first: int, ctx, tracer, spark) -> list:
    """A fixed number of ops in blocks, untraced, traced, traced,
    untraced, ...: the order cancels a linear drift (JIT, heap) out of the
    traced/untraced comparison."""
    jobs = probes.SparkJobs(spark)
    targets = layers.targets(ctx)

    def traced_timer(op):
        return layers.OpTimer(op, tracer, jobs, ctx.tables_dir)

    ops = []
    for b in range(wl.traced_ops // wl.trace_block):
        traced = b % 4 in (1, 2)
        if traced:
            tracer.install(targets)
        for _ in range(wl.trace_block):
            i = first + len(ops)
            if traced:
                tracer.op = i
                with tracer.span("op"):
                    op = run_op(wl, i, traced_timer)
            else:
                op = run_op(wl, i, layers.OpTimer)
            op.traced = traced
            ops.append(op)
        if traced:
            tracer.uninstall()
            tracer.op = -1
    return ops


def check_durability(run_dir: str, root: str, expectation: dict) -> dict:
    """Run ``durability.py`` over the store root in a fresh process."""
    work = os.path.join(run_dir, "checker")
    os.makedirs(work)
    expect, out = os.path.join(work, "expect.json"), os.path.join(work, "result.json")
    with open(expect, "w") as f:
        json.dump(expectation, f)
    with open(os.path.join(work, "log.txt"), "w+") as log:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "durability.py"),
             "--root", root, "--expect", expect, "--out", out, "--work", work],
            stdout=log, stderr=subprocess.STDOUT, cwd=CHECKOUT, timeout=120,
        )
        if p.returncode != 0 or not os.path.exists(out):
            log.seek(0)
            raise RuntimeError(f"durability check exited {p.returncode}:\n{log.read()[-2000:]}")
    with open(out) as f:
        return json.load(f)


def run(args, run_dir: str) -> tuple[dict, dict]:
    spark = None
    try:
        t_session0 = time.perf_counter()
        spark = start_spark(run_dir, JVM_MEM, JVM_OPTS)
        t_session1 = time.perf_counter()
        jvm = probes.JvmProbe(spark)
        tracer = Tracer() if args.trace else None
        ctx = Ctx(spark, run_dir)
        wl = workloads.WORKLOADS[args.workload](ctx, args.seed)
        if tracer:
            tracer.install(layers.targets(ctx))
        wl.setup()
        if tracer:
            tracer.uninstall()
        t_load = time.perf_counter()
        warm = [run_op(wl, i, layers.OpTimer) for i in range(wl.warmup_ops)]

        s0 = Snapshot(jvm)
        if args.trace:
            ops = run_traced(wl, len(warm), ctx, tracer, spark)
        else:
            ops = run_timed(wl, len(warm), args.seconds)
        s1 = Snapshot(jvm)
        rss = probes.peak_rss_mb(jvm)
        rss_split = {"jvm": probes.vm_hwm_kb(jvm.pid) / 1024.0,
                     "client": probes.vm_hwm_kb(os.getpid()) / 1024.0}
        stop_spark(spark)  # nothing below needs it
        spark = None
        durable = None
        if args.workload == "write_mix":
            durable = check_durability(run_dir, ctx.root, wl.expectation())
        space_amp = probes.tree_bytes(ctx.root) / wl.logical_bytes()

        all_ops = warm + ops
        failed = sum(1 for good in wl.check(all_ops) if not good)
        n = len(ops)
        done = [op for op in ops if op.error is None]
        part_ms = {
            kind: [ms for op in done for k, ms in op.parts if k == kind]
            for kind in ("read", "write")
        }
        setup = {
            "setup.session_s": (t_session1 - t_session0, "s"),
            "setup.load_s": (t_load - t_session1, "s"),
            "setup.warmup_s": (s0.t - t_load, "s"),
        }
        metrics = {
            "setup_s": (s0.t - T_START, "s"),
            "ops_per_s": (n / (s1.t - s0.t), "1/s"),
            "cpu_ms_per_op": ((s1.cpu - s0.cpu) * 1000.0 / n, "ms"),
            "op_p50_ms": (percentile([op_ms(op) for op in done], 50), "ms"),
            "op_p90_ms": (percentile([op_ms(op) for op in done], 90), "ms"),
            "read_p50_ms": (percentile(part_ms["read"], 50), "ms"),
            "peak_rss_mb": (rss, "MB"),
            "space_amp": (space_amp, "ratio"),
            "error_ratio": (failed / len(all_ops), "ratio"),
        }
        if part_ms["write"]:
            metrics["write_p50_ms"] = (percentile(part_ms["write"], 50), "ms")
            metrics["write_p90_ms"] = (percentile(part_ms["write"], 90), "ms")
        kinds = sorted({op.kind for op in ops})
        diagnostics = {
            "ops": n,
            "ops_sha256": op_digest(all_ops),
            "warmup_ops": len(warm),
            "ops_by_kind": {k: sum(1 for op in ops if op.kind == k) for k in kinds},
            "p50_ms_by_kind": {
                k: percentile([op_ms(op) for op in done if op.kind == k], 50) for k in kinds
            },
            "host_steal_pct": 100.0 * probes.steal_share(s0.steal, s1.steal),
            "jvm.jit_ms": s1.jit - s0.jit,
            "jvm.jit_ms_total": s1.jit,
            "jvm.gc_ms": s1.gc - s0.gc,
            "cpu_ms_per_op_split": {
                k: (s1.split[k] - s0.split[k]) * 1000.0 / n for k in s1.split
            },
            "jvm_thread_cpu_ms_per_op": {
                k: round((v - s0.threads.get(k, 0.0)) * 1000.0 / n, 1)
                for k, v in sorted(s1.threads.items())
                if v - s0.threads.get(k, 0.0) >= 0.001 * n
            },
            **{k: v for k, (v, _) in setup.items()},
            "peak_rss_mb_split": rss_split,
            "jvm_opts": f"-Xmx{JVM_MEM} {JVM_OPTS}",
            "errors": sorted({op.error for op in all_ops if op.error})[:5],
            "durability": durable,
        }
        if args.trace:
            extra = {
                "store.files_per_segment": (layers.files_per_segment(ctx.tables_dir), "count"),
                "jvm.gc_ms_per_op": ((s1.gc - s0.gc) / n, "ms"),
                "jvm.jit_ms": (float(s1.jit - s0.jit), "ms"),
                "trace.overhead_ratio": (trace_overhead(ops), "ratio"),
                **setup,
            }
            if ctx.loaded:
                ctx.setup_writes["user_bytes"] = wl.logical_bytes()
            traced_ops = [op for op in ops if op.traced]
            metrics.update(layers.derive(tracer, traced_ops, ctx.setup_writes, extra))
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        correct = failed == 0 and (durable is None or durable["ok"])
        return metrics, {"correct": correct, "attempted": len(all_ops), "failed": failed,
                         "diagnostics": diagnostics}
    finally:
        if spark is not None:
            stop_spark(spark)


def trace_overhead(ops) -> float:
    """Median latency of traced ops over that of untraced ops of the same
    kind, minus 1, averaged over the traced ops."""
    def med(kind, traced):
        return percentile([op_ms(op) for op in ops
                           if op.kind == kind and op.traced == traced and op.error is None], 50)

    ratios = [med(op.kind, True) / med(op.kind, False) for op in ops
              if op.traced and med(op.kind, False) > 0]
    return sum(ratios) / len(ratios) - 1.0 if ratios else 0.0


def op_digest(ops) -> str:
    """Hash of the op stream sent, to compare two runs' inputs."""
    h = hashlib.sha256()
    for op in ops:
        h.update(json.dumps([op.kind, op.args], sort_keys=True, default=str).encode())
    return h.hexdigest()


def benchmark_metrics(trace: bool) -> list[str]:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["point_read", "write_mix", "fanout_scan"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, CHECKOUT)
    try:
        import trough_spark.store  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {CHECKOUT}: {e}", file=sys.stderr)
        return 2
    names = benchmark_metrics(bool(args.trace))
    # a terminated run still stops its JVMs and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    try:
        metrics, status = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "diagnostics": status.pop("diagnostics"),
    }, default=str))
    missing = [k for k in names if k not in metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    status["metrics"] = {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in names}
    print(json.dumps(status))
    return 0

if __name__ == "__main__":
    sys.exit(main())
