"""The three bench.py helpers the benchmark of record (perfbench/) imports:
a trim of bench.py that breaks them fails here, not only in a benchmark
run."""

from __future__ import annotations

import os
import time

from bench import _cpu_ticks, _host_load, _release_blocks


def test_host_load_reports_the_window_since_the_first_ticks():
    t0 = _cpu_ticks()
    assert t0 is not None
    end = time.monotonic() + 0.3
    while time.monotonic() < end:
        pass
    info = _host_load(t0)
    assert {
        "loadavg", "n_cpus", "bench_window_cpu_idle_frac", "bench_window_cpu_steal_frac",
    } <= set(info)
    assert len(info["loadavg"]) == 3
    assert info["n_cpus"] == os.cpu_count()
    assert 0.0 <= info["bench_window_cpu_idle_frac"] <= 1.0
    assert 0.0 <= info["bench_window_cpu_steal_frac"] <= 1.0


def test_release_blocks_drops_persisted_rdds(spark):
    df = spark.range(1000).persist()
    try:
        assert df.count() == 1000
        jsc = spark.sparkContext._jsc
        assert not jsc.getPersistentRDDs().isEmpty()
        _release_blocks(spark)
        assert jsc.getPersistentRDDs().isEmpty()
    finally:
        df.unpersist()
