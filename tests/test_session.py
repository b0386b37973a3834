"""Session factory: a live session is returned untouched, the driver-heap
default fits the host, and stream checkpoints go through the FileSystem
checkpoint manager without losing its checks."""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

from e_commerce_click_stream_spark.session import _driver_memory, get_spark

_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."


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


def test_get_spark_sets_filesystem_checkpoint_manager(spark):
    assert (
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
        == _CHECKPOINTING + "FileSystemBasedCheckpointFileManager"
    )


def test_checkpoint_manager_keeps_the_second_writer_guard(spark, tmp_path):
    """The manager every stream log and state store is built with resolves
    to the FileSystem one, and an atomic create over an existing file
    without overwrite still fails on close (HDFSMetadataLog relies on it
    to catch a second writer of the same batch) and leaves the file as it
    was."""
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = getattr(jvm, _CHECKPOINTING + "CheckpointFileManager").create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)), hconf
    )
    assert manager.getClass().getName() == _CHECKPOINTING + "FileSystemBasedCheckpointFileManager"

    existing = tmp_path / "0"
    existing.write_bytes(b"first writer")
    out = manager.createAtomic(jvm.org.apache.hadoop.fs.Path(str(existing)), False)
    out.write(b"second writer")
    with pytest.raises(Py4JJavaError, match="FileAlreadyExistsException"):
        out.close()
    assert existing.read_bytes() == b"first writer"
