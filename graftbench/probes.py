"""Process-tree CPU accounting and host-state stamps, read from /proc.

CPU is summed over this process and its descendants only (driver Python,
the Spark JVM, PySpark's Python workers), so a neighbour's CPU never counts.
Each process contributes utime + stime plus the cutime + cstime of children
it has already reaped, so work done by a worker that exited mid-region is
still billed to the tree. Host stamps describe the machine during a run;
they are reported beside the metrics and never used to rescale or drop one.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces or parens: split on the last ')'
    head, _, rest = raw.rpartition(")")
    comm = head.partition("(")[2]
    fields = rest.split()
    return int(fields[1]), comm, fields


def _all_stats() -> dict[int, tuple[int, str, list[str]]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def tree_pids(root: int | None = None) -> dict[int, tuple[int, str, list[str]]]:
    """Stats of ``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    stats = _all_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _c, _f) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


class TreeCpu:
    """Core-seconds used by the tree (this process and its descendants),
    split into ``driver`` (this Python process), ``jvm`` (java processes) and
    ``worker`` (every other descendant: PySpark's daemon and workers).

    PySpark's daemon ignores SIGCHLD, so a worker that exits is reaped by the
    kernel and its CPU reaches no parent's cutime. Each process therefore
    counts its own utime + stime only, and a process that has exited keeps
    the last figure sampled for it; call ``sample`` often (between units)."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self.seen: dict[tuple[int, str], tuple[str, int]] = {}

    def sample(self) -> dict[str, float]:
        for pid, (_ppid, comm, f) in tree_pids(self.root).items():
            # fields after ')': state=0 ppid=1 ... utime=11 stime=12 starttime=19
            key = "driver" if pid == self.root else ("jvm" if comm == "java" else "worker")
            self.seen[(pid, f[19])] = (key, int(f[11]) + int(f[12]))
        split = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
        for key, ticks in self.seen.values():
            split[key] += ticks / _TICK
        return split


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live tree of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def host_cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two reads."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total > 0 else 0.0


def jvm_gc_seconds(spark) -> float:
    """Cumulative GC time of the session's JVM, from its management beans."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in beans.getGarbageCollectorMXBeans()) / 1e3


def spark_floor_s(spark, reps: int = 3) -> list[float]:
    """Walls of a no-op Spark job (one task over one row)."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.sparkContext.parallelize([0], 1).count()
        walls.append(time.perf_counter() - t0)
    return walls


class Region:
    """CPU, GC and host counters over one timed region."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self) -> "Region":
        self.load_start = loadavg1()
        self.host0 = host_cpu_times()
        self.gc0 = jvm_gc_seconds(self.spark)
        self.meter = TreeCpu()
        self.cpu0 = self.meter.sample()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        cpu1 = self.meter.sample()
        self.gc = jvm_gc_seconds(self.spark) - self.gc0
        host1 = host_cpu_times()
        self.cpu = {k: cpu1[k] - self.cpu0[k] for k in cpu1}
        self.steal = steal_frac(self.host0, host1)
        self.load_end = loadavg1()

    def sample(self) -> None:
        """Record the tree's CPU between units (see ``TreeCpu``)."""
        self.meter.sample()

    @property
    def core_s(self) -> float:
        return sum(self.cpu.values())
