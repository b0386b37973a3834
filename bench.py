"""Host-load and block-manager helpers that perfbench imports (``from bench import ...``)."""

from __future__ import annotations

import os


def _cpu_ticks() -> tuple[int, int, int] | None:
    """(idle+iowait, steal, total) jiffies from the aggregate /proc/stat
    line. steal (field 8) is time the hypervisor ran OTHER tenants while
    this VM wanted the CPU — the direct noisy-neighbor signal that
    loadavg cannot show."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        # sum only the first 8 fields: guest/guest_nice (9th/10th) are
        # already counted inside user/nice and would deflate idle_frac
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
        steal = vals[7] if len(vals) > 7 else 0
        return idle, steal, sum(vals[:8])
    except (OSError, ValueError, IndexError):
        return None


def _host_load(t0_ticks: tuple[int, int, int] | None) -> dict:
    """Machine-readable host-pressure stamp: loadavg at the end of the
    measured window plus the CPU idle and steal fractions OVER that window
    (delta of /proc/stat since ``t0_ticks``), so a run skewed by noisy
    neighbors is visible in its own output. Phantom load shows as
    idle_frac far below what loadavg's own arithmetic implies."""
    info: dict = {}
    try:
        la1, la5, la15 = os.getloadavg()
        info["loadavg"] = [round(la1, 2), round(la5, 2), round(la15, 2)]
    except OSError:
        pass
    t1_ticks = _cpu_ticks()
    if t0_ticks and t1_ticks and t1_ticks[2] > t0_ticks[2]:
        d_total = t1_ticks[2] - t0_ticks[2]
        info["bench_window_cpu_idle_frac"] = round(
            (t1_ticks[0] - t0_ticks[0]) / d_total, 4
        )
        info["bench_window_cpu_steal_frac"] = round(
            (t1_ticks[1] - t0_ticks[1]) / d_total, 4
        )
    info["n_cpus"] = os.cpu_count()
    return info


def _release_blocks(spark) -> None:
    """Drop every persistent RDD left behind by the previous query.

    Builders that materialize an intermediate (localCheckpoint in the
    LSH-dedup and pagerank plans) leave blocks in the block manager until
    the Python GC + ContextCleaner get around to them; across a timed
    sweep that accumulation turns into GC pressure that bleeds into
    UNRELATED queries' timings (measured: q3 0.5 s → 12 s after three
    pagerank executions). Each query must be timed from a clean block
    manager."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    spark.sparkContext._jvm.System.gc()
