"""Structured Streaming jobs — the streaming re-expression of the reference
pipeline (SURVEY.md §2.8 T-series).

The reference runs four concurrent streaming queries off one parsed Kafka
stream (/root/reference/processor/streaming_processor.py:396-430). Here the
same metric builders run over any streaming DataFrame; for tests and the
driver gate we replay the parquet fixtures through the file source with
``Trigger.AvailableNow`` so a finite replay yields a deterministic result
comparable to the batch oracle.

Kafka parity: ``read_kafka_stream`` builds the reader with the reference's
exact options (subscribe / startingOffsets=latest / failOnDataLoss=false,
streaming_processor.py:90-107). The connector JAR isn't in this container,
so it's constructed lazily and surfaces a clear error if the package is
missing — the file-source path covers all semantics tests.

Blocked-by-env note (verified 2026-08-13): fetching
spark-sql-kafka-0-10_2.13 from Maven Central fails — the container has no
network (DNS resolution error, curl rc=6) — and no broker is present, so
the Kafka path cannot be executed here. ``to_kafka_payload`` (payload
shaping) and the reader/writer option surfaces are covered by unit tests;
on a networked cluster, add
``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.0.0`` and the
same code runs unchanged.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e_commerce_click_stream_spark.io import ntz_to_ltz, table

_counter = itertools.count()

WATERMARK_DELAY = "10 minutes"  # T1 (streaming_processor.py:279)
HOURLY_WINDOW = "1 hour"  # T2 (streaming_processor.py:281)
SESSION_GAP = "30 minutes"  # idiomatic T3 alternative (session_window)


def stage_file_as_dir(path: str) -> str:
    """Stage a single file into a deterministic temp DIRECTORY (symlink,
    copy-fallback) — the file streaming source only accepts directories.
    Deterministic (path-keyed) so checkpoints, which bind to the source
    path, keep resolving the same directory across runs."""
    if os.path.isdir(path):
        # already a directory of part files (any Spark-written dataset) —
        # the file source consumes it natively; only a bare single-file
        # fixture needs staging
        return path
    tag = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12]
    stage_dir = os.path.join(tempfile.gettempdir(), f"events_stream_{tag}")
    os.makedirs(stage_dir, exist_ok=True)
    staged = os.path.join(stage_dir, os.path.basename(path))
    if not os.path.exists(staged):
        try:
            os.symlink(path, staged)
        except OSError:  # pragma: no cover - fs without symlinks
            import shutil

            shutil.copyfile(path, staged)
    return stage_dir


# Session-conf handoff from the replay readers to the runners: the readers
# know the replay's input size, the runners own the shuffle clamp.
_REPLAY_PARTS_KEY = "spark_graft.stream.replayStateParts"
_REPLAY_BYTES_PER_PART = 8 << 20  # ~8 MiB of replay input per state partition


def _note_replay_size(spark: SparkSession, nbytes: int) -> None:
    """Derive the stateful-shuffle partition count for a finite file
    replay from its input bytes and record it for the runners. One state
    store per shuffle partition is opened, checkpoint-committed and
    re-loaded PER MICRO-BATCH, so a small replay at a fixed count spends
    more time on store lifecycle than on aggregation (guide §2 —
    scale-adaptive partitioning; interleaved A/B at sf0.1:
    streaming_hourly_metrics 1.55 → 1.04 s at 2 MB input). Floor 4 keeps
    multi-core replay on tiny fixtures; the cap is the session's own
    configured shuffle parallelism, so a cluster-sized replay keeps
    cluster parallelism — nothing here is local[32]-specific."""
    import math

    cap = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
    derived = max(4, math.ceil(nbytes / _REPLAY_BYTES_PER_PART))
    spark.conf.set(_REPLAY_PARTS_KEY, str(min(derived, cap)))


def _replay_parts(spark: SparkSession) -> str:
    """Partition count the runners clamp to: the size-derived value when a
    replay reader recorded one, else the session's own configured shuffle
    parallelism (never more state stores than the session was sized for)."""
    return spark.conf.get(_REPLAY_PARTS_KEY, spark.conf.get("spark.sql.shuffle.partitions"))


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming read of the events fixture (finite replay).

    Uses the batch schema (incl. the nanos→µs timestamp normalization) so
    streaming and batch operate on identical typed input. The file source
    requires a directory, so the fixture file is staged (symlinked) into a
    temp dir — read-only on the fixture itself.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, "events.parquet")
    _note_replay_size(spark, os.path.getsize(src))
    stage_dir = stage_file_as_dir(src)
    # NTZ normalization (io.ntz_to_ltz): the staged fixture may store
    # naive timestamp[us], which would surface as TIMESTAMP_NTZ and be
    # rejected by withWatermark(); an explicit TIMESTAMP schema reads the
    # stored micros as UTC instants, independent of session time zone.
    raw_schema = ntz_to_ltz(spark.read.parquet(src).schema)
    stream = spark.readStream.schema(raw_schema).parquet(stage_dir)
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming read of the documents fixture (finite replay):
    the streaming corpus-ingest entry point. No event-time column — the
    documents stream feeds STATELESS hygiene stages (scrub, fingerprint,
    quality flags) that run in append mode without a watermark."""
    src = os.path.join(sf_dir, "documents.parquet")
    _note_replay_size(spark, os.path.getsize(src))
    stage_dir = stage_file_as_dir(src)
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(stage_dir)


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "clickstream.raw",
) -> DataFrame:
    """Kafka source with the reference's options
    (/root/reference/processor/streaming_processor.py:90-107). Requires the
    spark-sql-kafka package on the classpath."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .option("failOnDataLoss", "false")
        .load()
    )


def to_kafka_payload(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """S8: shape a DataFrame for the Kafka sink — key = partition key
    (user_id, matching producer/producer.py:171-175), value = the JSON
    event envelope (producer/models.py:55-65)."""
    value_cols = [c for c in events.columns if c != key_col]
    return events.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(F.col(key_col), *value_cols)).alias("value"),
    )


def decode_kafka_payload(frames: DataFrame) -> DataFrame:
    """Inverse of to_kafka_payload: decode raw Kafka frames (binary
    key/value + topic/partition/offset metadata) into typed event rows
    with an EXPLICIT schema (S2 — the engine never infers), mirroring the
    reference's from_json decode (streaming_processor.py:108-128). Rows
    whose payload fails the parse surface with null ts/user_id and are
    droppable by the caller (dead-letter discipline of
    events_json_deadletter)."""
    payload_schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
    parsed = frames.select(
        F.from_json(F.col("value").cast("string"), payload_schema).alias("e")
    )
    return parsed.select("e.ts", "e.user_id", "e.event_type", "e.value", "e.event_id")


def write_kafka_stream(
    payload: DataFrame,
    bootstrap_servers: str,
    topic: str = "clickstream.raw",
    checkpoint: str | None = None,
):
    """Kafka producer sink with the reference's delivery options
    (acks=all, producer/producer.py:48-64). Requires the Kafka connector
    JAR; build-only here."""
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("kafka.acks", "all")
        .option("topic", topic)
        .option("checkpointLocation", checkpoint or tempfile.mkdtemp(prefix="kafka_ckpt_"))
    )


def hourly_metrics_stream(events: DataFrame) -> DataFrame:
    """T1+T2: watermarked tumbling-window hourly metrics
    (streaming_processor.py:276-307), exact distinct users."""
    cond = lambda t: F.expr(  # noqa: E731
        f"sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
    )
    agg = (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", HOURLY_WINDOW).alias("hour_window"))
        .agg(
            F.expr("count(*) AS total_events"),
            # exact distinct is unsupported on streams; the reference uses
            # the HLL sketch here too (A5, streaming_processor.py:285)
            F.expr("approx_count_distinct(user_id) AS approx_unique_users"),
            cond("view").alias("page_views"),
            cond("click").alias("cart_additions"),
            cond("purchase").alias("purchases"),
            F.expr(
                "round(sum(CASE WHEN event_type = 'purchase' THEN value"
                " ELSE 0.0D END), 2) AS revenue"
            ),
        )
    )
    return agg.selectExpr(
        "hour_window.start AS hour_timestamp",  # P6 struct access
        "total_events",
        "approx_unique_users",
        "page_views",
        "cart_additions",
        "purchases",
        "round(CASE WHEN page_views > 0 THEN purchases * 100.0D / page_views"
        " ELSE 0.0D END, 2) AS conversion_rate",
        "revenue",
    )


def session_window_metrics_stream(events: DataFrame) -> DataFrame:
    """Idiomatic T3: gap-based session windows with bounded state
    (``session_window`` + watermark) instead of the reference's
    unbounded-state keyed agg (streaming_processor.py:172-195, no
    watermark). Same 30-minute gap rule as operators/sessionize.py, so the
    finalized result equals the batch gap-sessionization aggregate."""
    is_ = lambda t: F.col("event_type") == t  # noqa: E731
    cond = lambda t: F.sum(F.when(is_(t), 1).otherwise(0))  # noqa: E731
    agg = (
        # same contract as the batch sessionizer: a session needs an owner
        # and a position, so NULL user/ts rows are dropped (session_window
        # would otherwise keep a NULL-user group the batch twin excludes)
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), F.col("user_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("total_events"),
            cond("view").alias("page_views"),
            cond("click").alias("cart_additions"),
            cond("purchase").alias("purchases"),
            F.round(
                F.sum(F.when(is_("purchase"), F.col("value")).otherwise(F.lit(0.0))), 2
            ).alias("purchase_amount"),
        )
    )
    dur_us = F.unix_micros(F.col("session_end")) - F.unix_micros(F.col("session_start"))
    return agg.select(
        "user_id",
        "session_start",
        "session_end",
        "total_events",
        "page_views",
        "cart_additions",
        "purchases",
        "purchase_amount",
        F.round(dur_us / 60_000_000.0, 4).alias("session_duration_minutes"),
        (F.col("purchases") > 0).alias("converted"),
    )


def dashboard_metrics_stream(events: DataFrame) -> DataFrame:
    """Global KPI aggregate (A6/A7) as a streaming complete-mode query."""
    is_purchase = F.col("event_type") == "purchase"
    return events.agg(
        F.count("*").alias("total_events"),
        F.round(
            F.avg(F.when(is_purchase, F.lit(1.0)).otherwise(F.lit(0.0))) * 100.0, 4
        ).alias("conversion_rate"),
        F.round(F.sum(F.when(is_purchase, F.col("value")).otherwise(F.lit(0.0))), 2).alias(
            "total_revenue"
        ),
    )


def run_with_processing_time(
    result: DataFrame,
    output_mode: str = "complete",
    interval: str = "500 milliseconds",
    idle_batches: int = 2,
    timeout_s: int = 120,
) -> DataFrame:
    """T5's other trigger: ``processingTime`` fires micro-batches on a
    wall-clock cadence (the reference's continuous mode of operation) rather
    than draining-and-stopping like AvailableNow. A finite replay has no
    natural end under this trigger, so we stop after ``idle_batches``
    consecutive empty micro-batches and return the final memory-sink table —
    the result must equal the AvailableNow run over the same input."""
    import time

    spark = result.sparkSession
    name = f"stream_pt_{os.getpid()}_{next(_counter)}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _replay_parts(spark))
    try:
        query = (
            result.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=interval)
            .start()
        )
        try:
            idle, last_batch, drained = 0, -1, 0
            deadline = time.time() + timeout_s
            while time.time() < deadline and idle < idle_batches:
                time.sleep(0.25)
                p = query.lastProgress
                if p is not None and p["batchId"] != last_batch:
                    last_batch = p["batchId"]
                    idle = idle + 1 if p["numInputRows"] == 0 else 0
                    drained = 0
                    continue
                # A finite replay stops producing batches entirely once
                # the source drains (no-data micro-batches fire at most
                # once), so "idle_batches consecutive empty batches" may
                # never arrive and the old loop sat out the FULL timeout
                # (~120 s per run). The engine's own drain signal — no
                # unprocessed data AND no trigger in flight, after at
                # least one committed batch — is the safe early exit:
                # everything read is committed, nothing is pending.
                st = query.status
                if (
                    last_batch >= 0
                    and not st["isDataAvailable"]
                    and not st["isTriggerActive"]
                ):
                    drained += 1
                    if drained >= 4:  # a full second of confirmed quiescence
                        break
                else:
                    drained = 0
        finally:
            query.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


def run_to_completion(
    result: DataFrame,
    output_mode: str = "complete",
    timeout_s: int = 300,
    sink: str | None = None,
) -> DataFrame:
    """Execute a (finite) streaming DataFrame with Trigger.AvailableNow and
    return the final result as a batch DataFrame (T4/T5/T6: output mode,
    trigger, checkpoint).

    Sink selection: append-mode queries land in a parquet file sink and are
    read back, so the result is never driver-memory-bound (session-level
    streaming outputs grow with the corpus). Complete/update modes are only
    supported by the memory sink — fine there, since they're bounded
    aggregate states (hourly windows, global KPIs) by construction. Pass
    ``sink`` explicitly to override.
    """
    spark = result.sparkSession
    name = f"stream_result_{os.getpid()}_{next(_counter)}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    if sink is None:
        sink = "parquet" if output_mode == "append" else "memory"
    # stateful operators allocate one state store per shuffle partition; at
    # the 200 default a small replay spends more time opening stores than
    # aggregating — clamp for the run, restore after
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _replay_parts(spark))
    try:
        writer = (
            result.writeStream.outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        if sink == "parquet":
            out_dir = tempfile.mkdtemp(prefix=f"out_{name}_")
            query = writer.format("parquet").option("path", out_dir).start()
        else:
            query = writer.format("memory").queryName(name).start()
        try:
            query.awaitTermination(timeout_s)
        finally:
            if query.isActive:  # pragma: no cover - watchdog path
                query.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if sink == "parquet":
        # explicit schema: an empty replay leaves no files to infer from
        return spark.read.schema(result.schema).parquet(out_dir)
    return spark.table(name)


ATTRIBUTION_WINDOW = "30 minutes"


def click_purchase_join_stream(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the same
    user's clicks in the preceding 30 minutes. Both sides carry a
    watermark, so the join state is bounded — a click can be evicted once
    the purchase-side watermark passes click_ts + 30 minutes (Spark derives
    the state TTL from the interval condition). The equi-key (user_id)
    keeps it a hash-partitioned join; the time bound is applied post-probe.
    This is the streaming form of the batch purchase_attribution_window
    range join."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK_DELAY)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK_DELAY)
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}"))
    )
    lag_us = F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("click_ts"))
    return clicks.join(purchases, cond, "inner").select(
        "user_id",
        "purchase_id",
        "click_id",
        "purchase_ts",
        "click_ts",
        F.round(F.col("purchase_value"), 2).alias("purchase_value"),
        F.round(lag_us / 60_000_000.0, 4).alias("lag_minutes"),
    )


def dedup_events_stream(events: DataFrame) -> DataFrame:
    """Exactly-once restoration over an at-least-once source: the input
    stream is unioned with itself (every event delivered twice — the
    redelivery pattern a Kafka consumer sees after a rebalance, reference
    processor/streaming_processor.py:90-107 runs at-least-once) and
    ``dropDuplicatesWithinWatermark`` on the event key restores
    exactly-once delivery with BOUNDED state: a key is held only until
    the watermark passes its event time, unlike an unbounded
    ``dropDuplicates`` whose state grows with the key space forever."""
    doubled = events.unionAll(events)
    return (
        doubled.withWatermark("ts", WATERMARK_DELAY)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def sliding_metrics_stream(events: DataFrame) -> DataFrame:
    """Hopping-window variant of hourly_metrics_stream: 1-hour windows
    sliding every 15 minutes (each event in 4 windows). Watermarked so
    window state is evicted 4 closed slides after the watermark passes."""
    agg = (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "purchases"
            ),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                        F.lit(0.0)
                    )
                ),
                2,
            ).alias("revenue"),
        )
    )
    return agg.select(
        F.col("w.start").alias("window_start"), "n_events", "purchases", "revenue"
    )


def segment_metrics_stream(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static dimension enrichment: join the event stream against
    the static customer dim and aggregate per market segment. The static
    side is re-planned per micro-batch (so a dim refresh is picked up
    between batches) and broadcast — the stream side never shuffles for
    the join; the only stateful operator is the bounded per-segment
    aggregate (complete mode, |segments| rows of state). Left join +
    coalesce('UNKNOWN') keeps events whose user has no dim row — the
    standard late-dimension guard."""
    dim = customers.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        events.join(F.broadcast(dim), "user_id", "left")
        .withColumn("segment", F.coalesce("c_mktsegment", F.lit("UNKNOWN")))
        .groupBy("segment")
        .agg(
            F.count("*").alias("total_events"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)),
                2,
            ).alias("revenue"),
        )
    )


def top_users_stream(events: DataFrame, k: int = 10) -> DataFrame:
    """Streaming top-k: the k highest-revenue users, maintained as the
    stream progresses. Sorting a streaming aggregate is only legal in
    complete mode (the sort re-runs over the full re-emitted state each
    batch — fine here because the state is one row per user, not per
    event); the deterministic user_id tiebreak keeps the cut stable when
    revenues tie. The O-series top-k surface on streams, next to the
    batch TakeOrderedAndProject paths."""
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("revenue"),
            F.count("*").alias("purchases"),
        )
        .orderBy(F.desc("revenue"), F.asc("user_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# incremental sketch maintenance: a KMV distinct sketch merged into a
# parquet store per micro-batch (A5's approximate distinct × S4's keyed
# merge — the pattern that replaces count-distinct state on unbounded
# streams)

KMV_STREAM_CHUNKS = 4


def _chunked_replay(spark: SparkSession, df: DataFrame, chunks: int):
    """Stage ``df`` as ``chunks`` part files and return (stream, paths):
    a file-source stream with maxFilesPerTrigger=1 — a genuine
    multi-micro-batch replay (the chunks are round-robin splits, NOT
    time-ordered, so merge logic downstream must be order-insensitive —
    which is exactly what mergeable-state formulations guarantee) — plus
    the scratch paths the caller removes when done."""
    stage = tempfile.mkdtemp(prefix="replay_chunks_")
    df.repartition(chunks).write.mode("overwrite").parquet(stage)
    _note_replay_size(
        spark,
        sum(
            os.path.getsize(os.path.join(stage, f))
            for f in os.listdir(stage)
            if f.endswith(".parquet")
        ),
    )
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return stream, stage


def _run_foreach_batch(stream: DataFrame, merge, timeout_s: int = 300) -> str:
    """Run a foreachBatch merge loop to completion with the same
    stop-on-timeout watchdog and shuffle clamp as run_to_completion;
    returns the checkpoint dir for caller cleanup. Raises on timeout —
    a partially merged store must never flow into results as if it
    drained."""
    import shutil

    spark = stream.sparkSession
    ckpt = tempfile.mkdtemp(prefix="ckpt_merge_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    q = None
    finished = False
    ok = False
    try:
        # clamp inside the try: a start-time failure must not leave the
        # session's shuffle parallelism stuck at the clamp
        spark.conf.set("spark.sql.shuffle.partitions", _replay_parts(spark))
        q = (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(timeout_s)
        ok = finished
    finally:
        if q is not None and q.isActive:
            # timed out: stop before the caller reads the store, or the
            # read races the still-running stream's next overwrite
            q.stop()
            q.awaitTermination(30)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if not ok:
            # the caller only learns ckpt from the success return — on any
            # failure it must be removed HERE or it leaks
            shutil.rmtree(ckpt, ignore_errors=True)
    if not finished:
        raise RuntimeError(
            f"foreachBatch merge did not drain within {timeout_s}s — "
            "refusing to read a partially merged store"
        )
    return ckpt


def kmv_sketch_merge_stream(
    spark: SparkSession, sf_dir: str, k: int = 64
) -> DataFrame:
    """Replay the events fixture as a MULTI-batch stream (the staged copy
    is split into KMV_STREAM_CHUNKS part files, maxFilesPerTrigger=1) and
    maintain a per-event-type k-minimum-values sketch in a parquet store
    via foreachBatch: each batch's distinct hash fractions are pruned to
    k per type, unioned with the stored sketch, deduped, re-pruned, and
    swapped in. KMV is closed under this merge, so the final store equals
    the sketch a single batch pass would build — the parity the
    registered oracle gates. Returns the final estimates.

    Scale shape: per batch the store holds ≤ types × k rows; the merge
    shuffles batch-distinct rows once (WindowGroupLimit prunes to k per
    partition pre-shuffle) and never re-reads the raw history — the
    unbounded-stream replacement for exact distinct state."""
    import shutil

    from e_commerce_click_stream_spark.operators.sketches import kmv_frac, kmv_prune

    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    stream, stage = _chunked_replay(spark, ev, KMV_STREAM_CHUNKS)
    store_root = tempfile.mkdtemp(prefix="kmv_store_")
    store = os.path.join(store_root, "sketch")
    ckpt = None

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        batch_mins = kmv_prune(
            batch_df.filter(F.col("user_id").isNotNull())
            .select("event_type", kmv_frac(F.col("user_id")).alias("frac"))
            .distinct(),
            k,
        )
        if os.path.exists(store):
            # same-frac rows across batches are the same user: distinct on
            # (type, frac) is the KMV union; materialize before the swap
            # (can't overwrite a path that's still being read)
            merged = kmv_prune(
                sp.read.parquet(store).unionByName(batch_mins).distinct(), k
            ).localCheckpoint(eager=True)
        else:
            merged = batch_mins
        merged.write.mode("overwrite").parquet(store)

    try:
        ckpt = _run_foreach_batch(stream, merge)
        sk = spark.read.parquet(store)
        # kth = the largest retained frac; it is the k-th minimum exactly
        # when the sketch is full (the estimate branches on that)
        sk2 = sk.groupBy("event_type").agg(
            F.count("*").alias("n_in_sketch"), F.max("frac").alias("kth")
        )
        est = F.when(F.col("n_in_sketch") < k, F.col("n_in_sketch")).otherwise(
            F.floor((k - 1) / F.col("kth") + 0.5).cast("bigint")
        )
        # result is materialized (≤ types rows), so the scratch trees can go
        return sk2.select(
            "event_type", "n_in_sketch", est.alias("kmv_estimate")
        ).localCheckpoint(eager=True)
    finally:
        # success or failure — an exception must not leak /tmp trees either
        for path in (stage, store_root, ckpt):
            if path:
                shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# incremental EWMA state: the bounded decay tail is a per-user
# top-16-by-recency — mergeable exactly like a top-k sketch, so the state
# survives out-of-order micro-batches without replaying history



def ewma_tail_merge_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain per-user EWMA state across a multi-batch replay: the
    state is each user's EWMA_FRAME most-recent (ts, event_id, value)
    rows plus an additive event count — the last-k-by-recency tail is
    closed under union (keep the k most recent of old ∪ batch), so the
    merge is order-insensitive and the replay's round-robin (NOT
    time-ordered) batches still converge to the exact batch answer. The
    final fold applies the same bounded-frame adjust=True EWMA as the
    batch ``user_value_ewma``, whose oracle this stream shares.

    Scale shape: state is users × (k rows + 1 counter) regardless of
    history length; each batch shuffles only its own rows once
    (WindowGroupLimit prunes to k per partition pre-shuffle) — the
    recurrence y_i = a·x_i + (1-a)·y_{i-1} never needs the full
    history replayed."""
    import shutil

    from pyspark.sql import Window

    # shared with the batch twin: the frame length AND the fold expressions
    # come from plans/behavior.py so the two can never drift apart
    from e_commerce_click_stream_spark.plans.behavior import (
        EWMA_FRAME,
        ewma_fold_exprs,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    stream, stage = _chunked_replay(
        spark, ev.filter(F.col("ts").isNotNull()), KMV_STREAM_CHUNKS
    )
    store_root = tempfile.mkdtemp(prefix="ewma_store_")
    tail_store = os.path.join(store_root, "tail")
    count_store = os.path.join(store_root, "counts")
    ckpt = None

    recency = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def keep_tail(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("__rn", F.row_number().over(recency))
            .filter(F.col("__rn") <= EWMA_FRAME)
            .drop("__rn")
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        batch_tail = keep_tail(batch_df)
        batch_counts = batch_df.groupBy("user_id").agg(F.count("*").alias("n_events"))
        if os.path.exists(tail_store):
            merged_tail = keep_tail(
                sp.read.parquet(tail_store).unionByName(batch_tail)
            ).localCheckpoint(eager=True)
            old = sp.read.parquet(count_store).select(
                F.col("user_id").alias("ouser"), F.col("n_events").alias("n_old")
            )
            # NULL-safe merge key: NULL-user events scattered across
            # batches must accumulate into ONE count row, not one partial
            # row per batch (a plain equi-join never matches NULL==NULL)
            merged_counts = (
                old.join(
                    batch_counts,
                    old["ouser"].eqNullSafe(batch_counts["user_id"]),
                    "full_outer",
                )
                .select(
                    F.coalesce(batch_counts["user_id"], old["ouser"]).alias("user_id"),
                    (
                        F.coalesce("n_old", F.lit(0)) + F.coalesce("n_events", F.lit(0))
                    ).alias("n_events"),
                )
                .localCheckpoint(eager=True)
            )
        else:
            merged_tail, merged_counts = batch_tail, batch_counts
        merged_tail.write.mode("overwrite").parquet(tail_store)
        merged_counts.write.mode("overwrite").parquet(count_store)

    try:
        ckpt = _run_foreach_batch(stream, merge)

        # final fold over the stored tail: the batch twin's expressions
        tail = spark.read.parquet(tail_store)
        ordered = Window.partitionBy("user_id").orderBy("ts", "event_id")
        frame = ordered.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        rows = (
            tail.withColumn(
                "vals", F.collect_list(F.coalesce("value", F.lit(0.0))).over(frame)
            )
            .withColumn("rn", F.row_number().over(recency))
            .filter("rn = 1")
        )
        weighted, norm = ewma_fold_exprs("vals")
        counts = spark.read.parquet(count_store)
        # null-safe: the NULL-user group is a real group in the batch twin
        # (window partition, no join) and must survive the count attach
        return (
            rows.join(
                F.broadcast(counts.withColumnRenamed("user_id", "cuser")),
                rows["user_id"].eqNullSafe(F.col("cuser")),
            )
            .select(
                rows["user_id"].alias("user_id"),
                "n_events",
                F.round(weighted / norm, 6).alias("ewma_value"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        # success or failure, the scratch trees go — an exception must not
        # leak fixture-sized /tmp directories either
        for path in (stage, store_root, ckpt):
            if path:
                shutil.rmtree(path, ignore_errors=True)


def arrival_order_replay(spark: SparkSession, df: DataFrame, batch_col: str):
    """Stage ``df`` as ONE parquet file per ``batch_col`` value and return
    (stream, stage_root): a file-source stream with maxFilesPerTrigger=1
    whose micro-batches replay the batch values IN ORDER — the ordered
    counterpart of _chunked_replay for watermark-sensitive audits.

    Ordering contract (ADVICE r10 — the assumptions, made loud):

    - FileStreamSource with the DEFAULT ``latestFirst=false`` processes
      files oldest-modification-time-first (Spark
      ``FileStreamOptions.latestFirst`` / ``FileStreamSource.fetchMaxFiles``);
      this helper builds the reader itself and never sets ``latestFirst``,
      so the default is part of the staged contract, not a caller option.
    - Batch k's file gets mtime ``base + 2k`` via os.utime; after staging,
      the mtimes are read BACK from the filesystem and asserted strictly
      increasing in batch order — a filesystem that truncates timestamps
      coarser than the 2 s spacing (or ignores utime) fails here loudly
      instead of silently permuting the replay.
    - ``repartition(batch_col)`` hash-routes every batch to exactly one
      task, so partitionBy writes exactly one part file per batch; a
      session that sets ``spark.sql.files.maxRecordsPerFile`` would split
      batches into multiple files and trips the len(parts)==1 assert.

    The caller removes stage_root when the stream has drained."""
    stage_root = tempfile.mkdtemp(prefix="arrival_replay_")
    by_batch = os.path.join(stage_root, "by_batch")
    df.repartition(F.col(batch_col)).write.partitionBy(batch_col).mode(
        "overwrite"
    ).parquet(by_batch)
    flat = os.path.join(stage_root, "arrival")
    os.makedirs(flat)
    dirs = []
    for d in os.listdir(by_batch):
        if d.startswith(f"{batch_col}="):
            dirs.append((int(d.split("=", 1)[1]), d))
    base = time.time() - 86_400
    staged = []
    for k, d in sorted(dirs):
        parts = [
            f for f in os.listdir(os.path.join(by_batch, d))
            if f.endswith(".parquet")
        ]
        if len(parts) != 1:
            # runtime staging contract, not a debug check (python -O):
            # renaming parts[0] alone would silently drop the rest of
            # the batch's rows from the replay
            raise RuntimeError(f"batch {k}: {len(parts)} part files")
        dst = os.path.join(flat, f"b{k:08d}.parquet")
        os.rename(os.path.join(by_batch, d, parts[0]), dst)
        os.utime(dst, (base + 2 * k, base + 2 * k))
        staged.append(dst)
    # verify the order the source will SEE: stored mtimes (post any fs
    # truncation) must be strictly increasing in batch order
    stored = [os.stat(p).st_mtime for p in staged]
    if not all(a < b for a, b in zip(stored, stored[1:])):
        # runtime ordering contract, not a debug check: must stay loud
        # under python -O (ADVICE r11)
        raise RuntimeError(
            "staged mtimes not strictly increasing — filesystem timestamp "
            f"granularity broke the replay order contract: {stored[:8]}..."
        )
    # Record the input size like every other replay entry point, so the
    # runners clamp to the size-derived count instead of the session's
    # full shuffle parallelism — at one state-store open/commit/reload per
    # partition PER MICRO-BATCH, the ordered replays (50+ triggers at
    # sf0.1) would otherwise pay for stores the input does not need. Same
    # derivation as _chunked_replay; partition count never changes any
    # aggregate's values.
    _note_replay_size(spark, sum(os.path.getsize(p) for p in staged))
    schema = df.drop(batch_col).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    return stream, stage_root
