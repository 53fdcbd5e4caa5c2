"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The stream tests need no Spark and take seconds.  The others start the
benchmark in a subprocess, each with its own Spark session, and take about
a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKOUT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)

import data  # noqa: E402
import workloads  # noqa: E402


def bench(args: list[str], prelude: str = "") -> tuple[int, list[dict], str]:
    """Run the benchmark (after ``prelude``, Python run in its process);
    return the exit code, the JSON lines it printed and its stderr."""
    code = (
        f"import sys; sys.path.insert(0, {PERFBENCH!r})\n{prelude}\n"
        f"import run; sys.argv = ['run.py'] + {args!r}; sys.exit(run.main())"
    )
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=CHECKOUT, capture_output=True, text=True, timeout=600
    )
    lines = [json.loads(x) for x in p.stdout.splitlines() if x.startswith("{")]
    return p.returncode, lines, p.stderr


class _DataCtx:
    def __init__(self):
        self.tpch = data.tpch(os.path.join(PERFBENCH, ".work", "cache"))


def _point_stream(ctx, seed: int, n: int = 200) -> list[tuple]:
    wl = workloads.PointRead(ctx, seed)
    wl.plan()
    return [tuple(sorted(wl.op(i).args.items())) for i in range(n)]


def _write_stream(seed: int, n: int = 200) -> list[str]:
    wl = workloads.WriteMix(None, seed)
    wl.plan_seed()
    out = [script for _, script in wl.plan_rejected()]
    for i in range(n):
        op = wl.op(i)
        wl.apply(op)
        out.append(op.args["script"])
    return out


def _fanout_stream(seed: int, n: int = 200) -> list[str]:
    wl = workloads.FanoutScan(None, seed)
    return [wl.op(i).args["regex"] + wl.op(i).args["sql"] for i in range(n)]


def test_op_streams_are_fixed_by_the_seed():
    ctx = _DataCtx()
    assert _point_stream(ctx, 3) == _point_stream(ctx, 3)
    assert _point_stream(ctx, 3) != _point_stream(ctx, 4)
    assert _write_stream(3) == _write_stream(3)
    assert _write_stream(3) != _write_stream(4)
    assert _fanout_stream(3) == _fanout_stream(3)
    assert _fanout_stream(3) != _fanout_stream(4)


def test_point_read_segments_follow_zipf():
    ops = _point_stream(_DataCtx(), 9, n=5000)
    counts = sorted((sum(1 for o in ops if dict(o)["segment"] == s) for s in {dict(o)["segment"] for o in ops}), reverse=True)
    # the hottest of 64 segments takes about 1/H(64, 1.1) = 25% of reads
    assert 0.20 < counts[0] / len(ops) < 0.30
    assert counts[0] > 1.8 * counts[1]


def test_write_mix_is_mostly_small_inserts():
    wl = workloads.WriteMix(None, 5)
    wl.plan_seed()
    wl.plan_rejected()
    kinds = []
    for i in range(400):
        op = wl.op(i)
        wl.apply(op)
        kinds.append(op.kind)
    assert kinds[:3] == ["insert", "update", "delete"]
    assert (kinds.count("insert"), kinds.count("update"), kinds.count("delete")) == (286, 57, 57)


def test_timed_phase_is_a_fixed_count_of_whole_cycles():
    import run

    class Fake(workloads.Workload):
        cycle = 7
        nominal_ops_per_s = 0.5

        def op(self, i):
            return workloads.Op("insert", {})

        def run(self, op, timer):
            with timer("write"):
                pass

    assert [len(run.run_timed(Fake(None, 1), 3, s)) for s in (0.01, 12, 15)] == [7, 7, 14]
    ops = run.run_timed(Fake(None, 1), 3, 12)
    assert [op.index for op in ops] == list(range(3, 10))
    assert workloads.PointRead(None, 1).timed_ops(12) == 45


COUNTS = (
    "spark.jobs_per_op",
    "spark.jobs_per_insert",
    "spark.jobs_per_update",
    "spark.jobs_per_delete",
    "spark.tasks_per_op",
    "store.files_added_per_write",
    "store.bytes_written_per_user_byte",
    "store.files_per_segment",
    "store.view_registrations_per_read",
    "dialect.calls_per_op",
    "space_amp",
)


def test_same_seed_gives_same_ops_and_counts():
    runs = [bench(["--workload", "write_mix", "--seed", "5", "--trace", "1"]) for _ in range(2)]
    details = []
    for rc, lines, err in runs:
        assert rc == 0, err[-3000:]
        assert lines[-1]["correct"] and lines[-1]["failed"] == 0
        details.append(lines[-2])
    a, b = details
    assert a["diagnostics"]["ops_sha256"] == b["diagnostics"]["ops_sha256"]
    for name in COUNTS:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name


def test_wrong_oracle_shows_in_error_ratio():
    # the oracle sees every row with a wrong l_quantity
    corrupt = (
        "import workloads\n"
        "_row = workloads._json_row\n"
        "_check = workloads.PointRead.check\n"
        "def check(self, ops):\n"
        "    workloads._json_row = lambda r: _row({**r, 'l_quantity': -1})\n"
        "    try:\n"
        "        return _check(self, ops)\n"
        "    finally:\n"
        "        workloads._json_row = _row\n"
        "workloads.PointRead.check = check\n"
    )
    rc, lines, err = bench(["--workload", "point_read", "--seed", "2", "--seconds", "2"], corrupt)
    assert rc == 0, err[-3000:]
    assert lines[-2]["metrics"]["error_ratio"]["value"] > 0
    assert lines[-1]["correct"] is False
    assert lines[-1]["failed"] == lines[-1]["attempted"]


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(PERFBENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "point_read", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout

