"""Percentiles, the tail rule, and the run's environment record."""

from __future__ import annotations

import math
import os
import platform

# percentiles the tail may be reported at, lowest first
LADDER = [50, 55, 60, 65, 70, 75, 80, 85, 90, 95, 99, 99.5, 99.9]
BEYOND = 10  # samples the tail percentile must leave above it


def rank(n: int, p: float) -> int:
    """1-based nearest-rank position of percentile ``p`` among ``n``."""
    return max(1, math.ceil(p / 100.0 * n))


def percentile(xs, p: float) -> float:
    xs = sorted(xs)
    return xs[rank(len(xs), p) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``BEYOND`` of ``n``
    samples above its rank, or None when ``n`` is too small."""
    ok = [p for p in LADDER if n - rank(n, p) >= BEYOND]
    return ok[-1] if ok else None


def median(xs) -> float:
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (this
    one by default) and every process below it: the Spark JVM and its
    Python workers. Children that already exited and were waited for
    count through their parent's cutime/cstime. Time the hypervisor
    stole from the guest is not in these counters."""
    root = os.getpid() if root is None else root
    stat = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                pass
    kids: dict[int, list[int]] = {}
    for pid, f in stat.items():
        kids.setdefault(int(f[1]), []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stat:
            ticks += sum(int(x) for x in stat[pid][11:15])  # utime stime cutime cstime
        todo.extend(kids.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU ticks between two readings that the hypervisor
    gave to other guests: how contended the host was."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def environment(spark, nproc: int) -> dict:
    import duckdb
    import pyspark

    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "nproc": nproc,
        "parallelism_is_nproc": sc.defaultParallelism == nproc,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "loadavg": os.getloadavg(),
    }
