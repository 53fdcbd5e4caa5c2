"""Two-process write-lock integration: the reference's single-writer
guarantee (trough/write.py:55-57) is cross-process, so prove exclusion,
handoff, and stale-lock stealing against a REAL second interpreter running
the REAL ``SegmentStore._file_lock`` code path (no Spark needed — the lock
only touches the store root)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Child program: acquire the segment lock via the real code path, signal
# acquisition through a sentinel file, then either hold until told to
# release, or die abruptly (skipping the finally) to leave a stale lock.
CHILD = r"""
import os, sys, time
sys.path.insert(0, sys.argv[1])
from trough_spark.store import SegmentStore

root, mode = sys.argv[2], sys.argv[3]
lock_name = sys.argv[4] if len(sys.argv) > 4 else "seg1"
store = SegmentStore.__new__(SegmentStore)
store.root = root
store.lock_timeout = 5.0
with SegmentStore._file_lock(store, lock_name):
    open(os.path.join(root, "child_has_lock"), "w").close()
    if mode == "die":
        os._exit(0)  # abrupt death: the finally never runs -> stale lock
    deadline = time.monotonic() + 30
    while not os.path.exists(os.path.join(root, "release")) and time.monotonic() < deadline:
        time.sleep(0.02)
"""


def _mini_store(root: str, timeout: float):
    from trough_spark.store import SegmentStore

    store = SegmentStore.__new__(SegmentStore)
    store.root = root
    store.lock_timeout = timeout
    return store


def _spawn(root: str, mode: str, lock_name: str = "seg1") -> subprocess.Popen:
    return subprocess.Popen([sys.executable, "-c", CHILD, REPO, root, mode, lock_name])


def _wait_for(path: str, timeout: float = 15.0) -> None:
    deadline = time.monotonic() + timeout
    while not os.path.exists(path):
        assert time.monotonic() < deadline, f"timed out waiting for {path}"
        time.sleep(0.02)


def test_live_holder_excludes_second_process(tmp_path):
    from trough_spark.store import SegmentStore, WriteLockError

    root = str(tmp_path)
    child = _spawn(root, "hold")
    try:
        _wait_for(os.path.join(root, "child_has_lock"))
        store = _mini_store(root, timeout=0.5)
        with pytest.raises(WriteLockError):
            with SegmentStore._file_lock(store, "seg1"):
                pass
    finally:
        open(os.path.join(root, "release"), "w").close()
        assert child.wait(timeout=15) == 0
    # after the child releases, acquisition succeeds
    with SegmentStore._file_lock(_mini_store(root, 5.0), "seg1"):
        pass


def test_waiter_acquires_after_holder_releases(tmp_path):
    from trough_spark.store import SegmentStore

    root = str(tmp_path)
    child = _spawn(root, "hold")
    try:
        _wait_for(os.path.join(root, "child_has_lock"))
        # schedule the release while we are already blocked waiting
        open(os.path.join(root, "release"), "w").close()
        t0 = time.monotonic()
        with SegmentStore._file_lock(_mini_store(root, 10.0), "seg1"):
            took = time.monotonic() - t0
        assert took < 10.0
    finally:
        child.wait(timeout=15)


def test_stale_lock_from_dead_process_is_stolen(tmp_path):
    from trough_spark.store import SegmentStore

    root = str(tmp_path)
    child = _spawn(root, "die")
    _wait_for(os.path.join(root, "child_has_lock"))
    child.wait(timeout=15)  # child is now dead, lockfile still on disk
    lock_path = os.path.join(root, "_locks", "seg1.lock")
    assert os.path.exists(lock_path), "child must have left a stale lock"
    t0 = time.monotonic()
    with SegmentStore._file_lock(_mini_store(root, 5.0), "seg1"):
        pass
    assert time.monotonic() - t0 < 2.0, "stale lock must be stolen, not waited out"


def test_maintenance_races_writer_cross_process(spark, tmp_path):
    """Concurrent-writer integration (VERDICT r3 stretch): while a REAL
    second process holds a segment's write lock, every mutating path on
    that segment — write, compact, snapshot, restore — must refuse with
    WriteLockError and leave the data untouched; after the holder releases,
    all of them proceed.

    This is the plain-Parquet atomicity boundary: mutual exclusion comes
    from the O_EXCL lockfile (one writer OR one maintenance job per
    segment), and in-flight readers of a partition being rewritten see the
    old files until the staged-rename swap — the window that versioned
    segment commits (ROADMAP direction 3) are to close."""
    from trough_spark.store import SegmentStore, WriteLockError

    root = str(tmp_path / "store")
    store = SegmentStore(spark, root)
    store.lock_timeout = 0.5
    store.set_schema("s1", "CREATE TABLE kv (id INTEGER PRIMARY KEY AUTOINCREMENT, v TEXT);")
    store.provision("seg_race", "s1")
    store.write("seg_race", "INSERT INTO kv (v) VALUES ('before');")

    child = _spawn(root, "hold", "segment-seg_race")
    try:
        _wait_for(os.path.join(root, "child_has_lock"))
        with pytest.raises(WriteLockError):
            store.write("seg_race", "INSERT INTO kv (v) VALUES ('racing');")
        with pytest.raises(WriteLockError):
            store.compact("seg_race", "kv")
        with pytest.raises(WriteLockError):
            store.snapshot("seg_race")
        # blocked mutations left the data untouched
        rows = store.read("seg_race", "SELECT v FROM kv ORDER BY id")
        assert rows == [{"v": "before"}]
    finally:
        open(os.path.join(root, "release"), "w").close()
        assert child.wait(timeout=15) == 0

    # lock released: the same operations all proceed
    store.lock_timeout = 10.0
    store.write("seg_race", "INSERT INTO kv (v) VALUES ('after');")
    report = store.compact("seg_race", "kv")
    assert report["kv"]["rows"] == 2 and report["kv"]["files_after"] <= report["kv"]["files_before"]
    version = store.snapshot("seg_race")
    store.write("seg_race", "INSERT INTO kv (v) VALUES ('post-snap');")
    store.restore("seg_race", version)
    rows = store.read("seg_race", "SELECT v FROM kv ORDER BY id")
    assert rows == [{"v": "before"}, {"v": "after"}]


# Child program: plain INSERTs of one key each, through the real
# ``SegmentStore.write``, on a store with no Spark session at all (a plain
# VALUES insert runs no Spark); prints the keys it was allowed to insert.
INSERT_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
from trough_spark.dialect import QueryRejected
from trough_spark.store import SegmentStore

root, keys = sys.argv[2], json.loads(sys.argv[3])
store = SegmentStore.__new__(SegmentStore)
store.root, store.lock_timeout = root, 60.0
store._registry_path = os.path.join(root, "_meta.json")
store._meta = store._load_meta()
store._hwm, store._last_auto, store._active_txn, store._ret = {}, {}, None, None
while not os.path.exists(os.path.join(root, "go")):
    time.sleep(0.01)
accepted = []
for k in keys:
    try:
        store.write("seg", f"INSERT INTO t VALUES ({k}, {os.getpid()})")
        accepted.append(k)
    except QueryRejected as e:
        assert str(e) == "UNIQUE constraint failed: t.id", e
print(json.dumps(accepted))
"""


def test_two_processes_never_both_accept_a_key(spark, tmp_path):
    """Two interpreters insert the same keys into one segment, in opposite
    orders: each key is accepted exactly once, and a fresh reader sees
    every key once, written by the process that was told it landed."""
    from trough_spark.store import SegmentStore

    root = str(tmp_path / "store")
    store = SegmentStore(spark, root)
    store.set_schema("s", "CREATE TABLE t (id INTEGER PRIMARY KEY, pid INTEGER);")
    store.provision("seg", "s")
    keys = list(range(40))
    children = [
        subprocess.Popen(
            [sys.executable, "-c", INSERT_CHILD, REPO, root, json.dumps(order)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for order in (keys, keys[::-1])
    ]
    open(os.path.join(root, "go"), "w").close()
    outs = [c.communicate(timeout=120)[0] for c in children]
    assert [c.returncode for c in children] == [0, 0]
    accepted = [json.loads(o) for o in outs]
    assert not set(accepted[0]) & set(accepted[1])
    assert sorted(accepted[0] + accepted[1]) == keys
    rows = SegmentStore(spark, root).read("seg", "SELECT id, pid FROM t ORDER BY id")
    owner = {k: c.pid for c, got in zip(children, accepted) for k in got}
    assert [(r["id"], r["pid"]) for r in rows] == [(k, owner[k]) for k in keys]
