"""Host readings recorded with every run: load, CPU steal, process RSS."""

from __future__ import annotations

import os
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def snapshot() -> dict:
    total, steal = cpu_ticks()
    return {"t": time.time(), "loadavg": loadavg(), "ticks": total,
            "steal_ticks": steal}


def steal_share(start: dict, end: dict) -> float:
    """Share of all CPU time the hypervisor stole between two snapshots."""
    dt = end["ticks"] - start["ticks"]
    return (end["steal_ticks"] - start["steal_ticks"]) / dt if dt else 0.0


def process_start_time() -> float:
    """Wall-clock start of this process (from /proc/self/stat)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict:
    """pid -> parent pid for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    return out


def descendants(pid: int) -> list[int]:
    parents = _children()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found += kids
        frontier += kids
    return found


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(v) for v in fields[11:15])
    except OSError:
        return 0


def cpu_s(spark) -> float:
    """CPU seconds used so far by this driver process, the gateway JVM and
    every process below it (the pyspark daemon and its workers)."""
    jvm = spark.sparkContext._gateway.proc.pid
    ticks = sum(_cpu_ticks(p) for p in [jvm] + descendants(jvm))
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def jit_s(spark) -> float:
    """Time the gateway JVM has spent compiling so far (the JIT compilers'
    own counter, summed over compiler threads)."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getCompilationMXBean()
    return bean.getTotalCompilationTime() / 1000.0


def spark_rss_mb(spark) -> float:
    """JVM plus Python-worker high-water RSS: VmHWM summed over the
    gateway JVM and every process below it (the pyspark daemon and its
    forked workers), read before the session stops."""
    jvm = spark.sparkContext._gateway.proc.pid
    return sum(hwm_mb(p) for p in [jvm] + descendants(jvm))
