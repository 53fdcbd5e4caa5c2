"""Durability check for write_mix, run in a fresh process.

    python3 perfbench/durability.py --root STORE --expect FILE --out FILE --work DIR

``run.py`` starts it once the measured Spark session has stopped.  It
opens the store root with a new ``SegmentStore`` in a process that never
saw the writes, reads every segment back and writes its verdict to
``--out``.  It checks that each acknowledged write is visible, and that the
scripts the workload expected to fail left no trace.

Flush policy under test: a write is acknowledged when ``SegmentStore.write``
returns, after Spark's rename-based file commit; nothing calls fsync.  The
check reopens the store while the operating system's page cache is intact,
so it proves commit visibility across processes, not survival of a power
loss.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

JVM_MEM = "1g"
JVM_OPTS = "-XX:TieredStopAtLevel=1"  # a short-lived JVM: C1 starts fastest


def check(store, expect: dict) -> dict:
    """Compare every segment's rows, read in one fan-out query, with the
    expectation."""
    segments = expect["segments"]
    got: dict[str, set] = {seg: set() for seg in segments}
    rows = 0
    regex = "^(%s)$" % "|".join(sorted(segments))
    for r in store.read_many_df(regex, "SELECT segment_id, id, name, qty, price FROM items").collect():
        got[r["segment_id"]].add((r["id"], r["name"], r["qty"], r["price"]))
        rows += 1
    missing = unexpected = 0
    for seg, want in segments.items():
        need = {tuple(w) for w in want}
        missing += len(need - got[seg])
        unexpected += len(got[seg] - need)
    unexpected += rows - sum(len(v) for v in got.values())  # duplicates
    rejected_visible = sum(
        1
        for seg, pk in expect["rejected_ids"].items()
        for r in got[seg]
        if r[0] == pk
    )
    return {
        "ok": missing == 0 and unexpected == 0 and rejected_visible == 0,
        "segments": len(segments),
        "rows": rows,
        "missing": missing,
        "unexpected": unexpected,
        "rejected_visible": rejected_visible,
    }


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--root", required=True)
    p.add_argument("--expect", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--work", required=True)
    args = p.parse_args()
    with open(args.expect) as f:
        expect = json.load(f)

    from run import start_spark, stop_spark

    spark = start_spark(args.work, JVM_MEM, JVM_OPTS)
    try:
        from trough_spark.store import SegmentStore

        result = check(SegmentStore(spark, args.root), expect)
    finally:
        stop_spark(spark)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
