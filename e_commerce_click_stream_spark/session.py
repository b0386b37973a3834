"""SparkSession factory.

Mirrors the session configuration surface of the reference processor
(/root/reference/processor/streaming_processor.py:66-88: AQE on, partition
coalescing on, Kryo serializer) and adds the settings that matter at scale:
UTC session timezone, Arrow transfer for the Python boundary, AQE skew-join
handling, and a shuffle-partition count sized to the local core count
instead of the 200 default (on a real cluster this would be tuned to
~2-3x total executor cores, or left to AQE coalescing).

Why the core count and not more: the streaming processor's stateful
queries (hourly windows, session windows, dashboard KPIs) open, commit
and reload one state store per shuffle partition on EVERY micro-batch,
and AQE cannot coalesce a stateful shuffle. Partitions beyond the cores
add store lifecycle to each trigger without adding parallelism, and that
fixed per-trigger cost is what sets the freshness of the live tables
(Structured Streaming, SIGMOD 2018). Batch plans are not affected: AQE
coalescing resizes their shuffles at runtime. A checkpoint keeps the
partition count it was created with, so a restart over an older
checkpoint runs at its original count.

Why stream checkpoints go through
``FileSystemBasedCheckpointFileManager``: the bundled Hadoop runs without
its native libhadoop, so on the local file system every link-status lookup
(``getFileLinkStatus``) forks a ``readlink`` process and every permission
set forks a ``chmod``. Spark's default
``FileContextBasedCheckpointFileManager`` renames through
``AbstractFileSystem.renameInternal``, which makes several link lookups
per rename, for the file and for its ``.crc`` sidecar. Every offset,
commit, source-log, sink-metadata and state-store write ends in such a
rename, so these forks dominated each trigger's checkpoint commits:
thousands of ``readlink`` forks per 16 s perfbench ingest_live run on a
4-vCPU host, against a handful with ``FileSystem.rename``, which looks up
no links. On the local file system the two managers are equivalent:
``LocalFileSystem`` is a ``ChecksumFileSystem``, so the ``.crc`` sidecars
and their verification stay; file permissions and Spark's own state-file
checksums stay; and the "destination exists" guard behaves the same,
because Hadoop's local ``renameInternal`` handles overwrite
non-atomically, so both managers check and then rename. A deployment that
keeps its checkpoints on HDFS, where FileContext renames with overwrite
atomically, sets the class back to the FileContext one through
``get_spark``'s ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "") or (os.cpu_count() or 8)))
    except ValueError:
        return os.cpu_count() or 8


def _driver_memory() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` when set, else 3/4 of
    physical memory capped at 16g, so the JVM never reserves more than the
    host has."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(16 << 10, phys * 3 // 4 >> 20)}m"


def get_spark(
    app_name: str = "e_commerce_click_stream_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the session, or return the live one untouched.

    In local mode the driver JVM is the whole cluster, so
    ``spark.driver.memory`` is the only memory knob; it must be set before
    the JVM starts, hence here rather than at runtime.

    ``getOrCreate`` would re-apply every builder setting below to an
    existing session, silently resetting runtime settings its owner chose
    (a test session's shuffle-partition count, say). A caller that runs
    inside a live session therefore gets it as it is; a stopped session is
    not active, so the next call builds a fresh one.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # -- parallelism ---------------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        # -- adaptive execution (reference X1/X2 + skew handling) ----------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- serialization / transfer --------------------------------------
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- determinism ----------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # Fixture parquet stores naive timestamp[us] (isAdjustedToUTC=false);
        # Spark >=3.4 would infer TIMESTAMP_NTZ, which unix_micros() and
        # withWatermark() reject. Force the classic TIMESTAMP (LTZ) read —
        # with the UTC session TZ above the wall-clock values are identical
        # to what DuckDB's oracle sees, so value hashes are unchanged.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # -- local-mode ergonomics -------------------------------------------
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # At 100 TB the scan parallelism is governed by this: 128 MB splits.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # -- streaming checkpoints (see the module docstring) ---------------
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
