"""Session factory: a live session is returned untouched, and the
driver-heap default fits the host."""

from __future__ import annotations

import os

from e_commerce_click_stream_spark.session import _driver_memory, get_spark


def test_get_spark_leaves_live_session_untouched(spark):
    """getOrCreate would re-apply the builder's defaults to the running
    session; get_spark must hand it back as its owner configured it."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    again = get_spark()
    assert again.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_driver_memory_default_fits_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = _driver_memory()
    assert mem.endswith("m")
    phys_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    assert 0 < int(mem[:-1]) <= min(16 << 10, phys_mib)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert _driver_memory() == "1g"
