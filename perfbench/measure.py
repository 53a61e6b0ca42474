"""Host-side measurement: process-tree CPU and steal from /proc, the
retained-memory reading, and the median the report uses."""

from __future__ import annotations

import os
import resource
import statistics
import sys

_TICK = os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    """A progress line on stderr, stamped with the process's age."""
    print(f"perfbench [{process_age_s():7.2f} s] {msg}", file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime+stime+cutime+cstime in seconds) for every
    process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process ended between listdir and open
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[0] is state (stat field 3): ppid is field 4, utime..cstime 14..17
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), ticks / _TICK)
    return out


def descendants(root: int | None = None) -> list[int]:
    """Every live process below `root` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in _proc_stats().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU-seconds used so far by `root` (default: this process) and all
    its descendants: the driver Python, the JVM and the Python workers.
    Reaped children are included through their parent's cutime/cstime."""
    root = os.getpid() if root is None else root
    stats = _proc_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total


def cpu_times() -> tuple[int, int]:
    """(steal ticks, all ticks) of the aggregate `cpu` line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted inside user/nice
    return fields[7], sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def retained_mb(spark) -> float:
    """JVM heap still live after a forced full GC, plus the driver
    Python's peak RSS. Both read steady across identical runs, where a
    process's current RSS does not."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return heap / 2**20 + py_kb / 1024


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
