"""Process, host and JVM counters the benchmark reads around its phases.

Everything here reads state the kernel or the JVM already keeps; nothing is
sampled on a timer:

- CPU seconds (utime + stime) of a pid and its descendants, from
  ``/proc/<pid>/stat``.  Host CPU steal inflates wall-clock time but is not
  counted in these (contention for the host's shared caches still is).
- The resident-set high-water mark (``VmHWM``) of a pid, the exact peak.
- Host steal share, from the aggregate ``cpu`` line of ``/proc/stat``.
- JVM garbage-collection and JIT-compilation milliseconds, from the
  ``java.lang.management`` MXBeans through py4j.
- Spark jobs and tasks per job group, from ``SparkContext.statusTracker``.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # fields[0] is the state, field 3 of proc(5)
        return f.read().rsplit(")", 1)[1].split()


def cpu_seconds(pid: int) -> float:
    """utime + stime of ``pid`` in seconds."""
    fields = _stat(pid)
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                children.setdefault(int(_stat(int(entry))[1]), []).append(int(entry))
            except (FileNotFoundError, ProcessLookupError):
                pass  # exited while listing
    out, stack = [], list(children.get(pid, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def tree_cpu_seconds(pid: int) -> float:
    """CPU seconds of ``pid`` and every descendant, live or reaped: each
    live process's utime + stime plus the cutime + cstime it collected from
    children that exited."""
    total = 0.0
    for p in [pid] + descendants(pid):
        try:
            f = _stat(p)
        except FileNotFoundError:
            continue  # exited since listing; its parent's cutime has it
        total += sum(int(v) for v in f[11:15]) / _CLK_TCK
    return total


def thread_cpu_seconds(pid: int) -> dict[str, float]:
    """CPU seconds of ``pid``'s live threads, summed by thread name with
    trailing digits dropped ("C2 CompilerThre", "GC Thread#", ...)."""
    out: dict[str, float] = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except FileNotFoundError:
            continue  # thread exited while listing
        name = raw[raw.index("(") + 1 : raw.rindex(")")].rstrip("0123456789")
        fields = raw.rsplit(")", 1)[1].split()
        out[name] = out.get(name, 0.0) + (int(fields[11]) + int(fields[12])) / _CLK_TCK
    return out


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of ``pid`` in KiB; 0 for a process that has
    exited and awaits reaping (it has no memory left)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all host CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]; the
    # guest columns are already counted inside user/nice
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


class JvmProbe:
    """CPU, memory, GC and JIT counters of the Spark JVM."""

    def __init__(self, spark):
        jvm = spark._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        mf = jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._jit = mf.getCompilationMXBean()

    def cpu_s(self) -> float:
        """CPU seconds of the JVM and its Python workers."""
        return tree_cpu_seconds(self.pid)

    def hwm_kb(self) -> int:
        """Summed peak RSS of the JVM and its live Python workers."""
        total = 0
        for p in [self.pid] + descendants(self.pid):
            try:
                total += vm_hwm_kb(p)
            except FileNotFoundError:
                pass
        return total

    def gc_ms(self) -> int:
        return sum(max(int(b.getCollectionTime()), 0) for b in self._gcs)

    def jit_ms(self) -> int:
        return int(self._jit.getTotalCompilationTime())


def process_cpu_s(jvm: JvmProbe) -> float:
    """CPU seconds of the JVM and its Python workers plus this Python
    client."""
    return jvm.cpu_s() + cpu_seconds(os.getpid())


def peak_rss_mb(jvm: JvmProbe) -> float:
    return (jvm.hwm_kb() + vm_hwm_kb(os.getpid())) / 1024.0


class SparkJobs:
    """Jobs and tasks Spark ran under one job group (one op)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext

    def begin(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def end(self, group: str) -> tuple[int, int]:
        """(jobs, tasks) run under ``group``; clears the group."""
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)
        return len(jobs), tasks


def tree_files(path: str) -> dict[str, int]:
    """{relative file path: size} of every file under ``path``."""
    out: dict[str, int] = {}
    for base, _, files in os.walk(path):
        for name in files:
            full = os.path.join(base, name)
            try:
                out[os.path.relpath(full, path)] = os.path.getsize(full)
            except FileNotFoundError:
                pass  # removed between listing and stat (rollback, rename)
    return out


def tree_bytes(path: str) -> int:
    return sum(tree_files(path).values())
