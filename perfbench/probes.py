"""Outside-in probes: process-tree CPU and RSS from ``/proc``, host steal
from ``/proc/stat``, and per-job-group Spark counters from the status
store and ``CodegenMetrics`` over py4j. Nothing here touches the engine's
code; every number is one Spark or the kernel already keeps."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stats() -> dict[int, tuple]:
    """pid -> (comm, ppid, utime+stime, cutime+cstime, rss_bytes)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited between listdir and open
        head, _, rest = raw.rpartition(")")
        comm = head.partition("(")[2]
        f = rest.split()
        out[int(entry)] = (
            comm, int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14]),
            int(f[21]) * _PAGE,
        )
    return out


def _tree(stats: dict[int, tuple], root: int) -> dict[int, tuple]:
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    keep, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            keep[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return keep


def _roles(stats: dict[int, tuple], root: int) -> dict[int, str]:
    """pid -> role: the driver (``root``), the JVM, Python workers
    (Python children of the JVM and their forks), the workers' own
    children (pipe commands), and ``fork`` for a JVM child that has not yet
    exec'd its helper command."""
    def depth(pid: int) -> int:
        d = 0
        while pid != root and pid in stats and d < 64:
            pid, d = stats[pid][1], d + 1
        return d

    role: dict[int, str] = {}
    for pid in sorted(stats, key=depth):
        comm, ppid = stats[pid][:2]
        parent = role.get(ppid)
        if pid == root:
            role[pid] = "driver"
        elif comm == "java" and parent == "jvm":
            role[pid] = "fork"  # the JVM spawning a helper, not yet exec'd
        elif comm == "java":
            role[pid] = "jvm"
        elif parent in ("jvm", "pyworker") and comm.startswith("python"):
            role[pid] = "pyworker"
        elif parent in ("pyworker", "pyworker_child"):
            role[pid] = "pyworker_child"
        else:
            role[pid] = parent or "driver"
    return role


ROLES = ("driver", "jvm", "pyworker", "pyworker_child")


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds of the process tree under ``root`` by role.

    Each live process counts its own time plus the time of the children it
    has reaped, so finished pipe commands and recycled workers are not lost.
    """
    root = root or os.getpid()
    stats = _tree(_read_stats(), root)
    role = _roles(stats, root)
    cpu = dict.fromkeys(ROLES, 0.0)
    for pid, (_, ppid, own, reaped, _) in stats.items():
        r = "jvm" if role[pid] == "fork" else role[pid]
        cpu[r] += own / _TICK
        # a Python worker's reaped children are the pipe commands it ran;
        # the daemon's (a JVM child) are recycled workers
        if r == "pyworker" and role.get(ppid) == "pyworker":
            cpu["pyworker_child"] += reaped / _TICK
        elif r != "driver":
            cpu[r] += reaped / _TICK
    return cpu


def tree_rss(root: int | None = None) -> dict[str, int]:
    """Resident bytes of the process tree under ``root`` by role."""
    root = root or os.getpid()
    stats = _tree(_read_stats(), root)
    role = _roles(stats, root)
    rss = dict.fromkeys(ROLES, 0)
    for pid, st in stats.items():
        # a fork shares its parent's pages until it execs
        if role[pid] != "fork":
            rss[role[pid]] += st[4]
    return rss


class RssSampler:
    """Samples the tree's RSS on a background thread; ``peak`` is the
    highest total seen while running and ``at_peak`` its split by role."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss()
        if sum(rss.values()) > self.peak:
            self.peak, self.at_peak = sum(rss.values()), rss

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) summed over the host's CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return f[7], sum(f[:8])


class Steal:
    """Host steal share over a window."""

    def __init__(self):
        self.start = cpu_times()

    def frac(self) -> float:
        s1, t1 = cpu_times()
        dt = t1 - self.start[1]
        return (s1 - self.start[0]) / dt if dt > 0 else 0.0


class SparkCounters:
    """Per-job-group counters read from the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def codegen_state(self) -> tuple[int, float]:
        """(compiles so far, mean compile ms of the metric's reservoir)."""
        h = self.codegen.METRIC_COMPILATION_TIME()
        return int(h.getCount()), float(h.getSnapshot().getMean())

    def group(self, group: str) -> dict:
        self.bus.waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group) or []
        agg = dict(jobs=len(jobs), stages=0, tasks=0, failed_tasks=0,
                   executor_cpu_s=0.0, executor_run_s=0.0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0)
        seen = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                agg["stages"] += 1
                agg["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                agg["failed_tasks"] += st.numFailedTasks()
                agg["executor_cpu_s"] += st.executorCpuTime() / 1e9
                agg["executor_run_s"] += st.executorRunTime() / 1e3
                agg["shuffle_read_bytes"] += st.shuffleReadBytes()
                agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
                agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return agg

    def cached_bytes(self) -> int:
        return sum(
            int(i.memSize()) + int(i.diskSize())
            for i in self.sc._jsc.sc().getRDDStorageInfo()
        )
