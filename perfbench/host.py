"""Host-noise record: what the machine was doing while a run measured.

A slow window on a shared host and a slow change look alike in one wall
time. Each run therefore times a fixed pure-JVM control job in its own
process, reads the CPU steal share from ``/proc/stat`` and loadavg at
start and end, and writes them next to its metrics.
"""

from __future__ import annotations

import os
import resource
import time


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


def cpu_times() -> list[int]:
    """Aggregate jiffies from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples
    (field 8 of the cpu line)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def control_job(spark, cores: int, rows: int = 20_000_000) -> float:
    """Embarrassingly parallel pure-JVM job (sum of sines over a range);
    best of two. A drift here is the host, not the engine."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, rows, 1, cores * 2).select(
            F.sin(F.col("id").cast("double")).alias("s")
        ).agg(F.sum("s")).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of this Python driver plus the JVM it drives
    (sum of the two high-water marks; Python workers are not counted)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _hwm_kb(jvm_pid)) / 1024.0


def process_age() -> float:
    """Seconds since this process started (10 ms resolution, /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, exited children included) used so far
    by ``root`` and every live process below it: here the Python driver,
    the JVM and the Python workers. Time stolen by the hypervisor is not
    counted, so it tells a slow pass on a busy host from more work."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed /proc
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(v) for v in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")
