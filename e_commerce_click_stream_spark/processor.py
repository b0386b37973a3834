"""Processor entry point — the engine's counterpart of the reference's
``spark-submit processor/streaming_processor.py``
(/root/reference/processor/streaming_processor.py:396-458).

Tails an event source as a stream and maintains the reference's three
analytics outputs (db/init.sql): hourly_metrics (watermarked tumbling
windows, append), session_metrics (gap session windows, append), and
dashboard_metrics (global KPIs, per-batch snapshot overwrite). Sinks are
parquet directories standing in for the reference's Postgres tables; a
Kafka source engages instead of the file tail when CLICKSTREAM_SOURCE
starts with ``kafka://`` (connector JAR required — absent here, so
file-replay is the executable path).

Accepts BOTH event schemas and normalizes to the engine's:
  - producer schema (datagen / reference producer): timestamp,
    purchase_amount, page_view / add_to_cart / purchase
  - warehouse fixture schema: ts, value, view / click / purchase

Run: python -m e_commerce_click_stream_spark.processor
Env:
  CLICKSTREAM_SOURCE      event dir to tail, or kafka://<servers>/<topic>
                          (default: $SPARK_GRAFT_SF_DIR/events.parquet replay)
  CLICKSTREAM_OUTPUT      output root (default ./analytics_out)
  CLICKSTREAM_CHECKPOINT  checkpoint root (default <output>/_checkpoints)
  CLICKSTREAM_TRIGGER     "available-now" (drain & exit, default) or
                          "processing-time:<interval>" (continuous)
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e_commerce_click_stream_spark.io import ntz_to_ltz
from e_commerce_click_stream_spark.session import get_spark
from e_commerce_click_stream_spark.sinks.writers import overwrite_snapshot
from e_commerce_click_stream_spark.streaming.jobs import (
    dashboard_metrics_stream,
    decode_kafka_payload,
    hourly_metrics_stream,
    read_kafka_stream,
    session_window_metrics_stream,
    stage_file_as_dir,
)


def _normalized_stream(spark: SparkSession, source: str) -> DataFrame:
    """File-tail the source with an explicit schema, normalized to the
    engine schema (ts TIMESTAMP, user_id, event_type view/click/purchase,
    value DOUBLE) regardless of which producer wrote it.

    The file streaming source requires a DIRECTORY; a single-file source
    (the fixture-replay default) is staged into a temp dir via symlink —
    the same trick as streaming/jobs.read_events_stream. The legacy nanos
    flag must be set before the batch schema probe: the r1-r3 fixture
    encoding stores TIMESTAMP(NANOS), which the reader otherwise rejects."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream_path = stage_file_as_dir(source) if os.path.isfile(source) else source
    batch = spark.read.parquet(source)
    stream = spark.readStream.schema(ntz_to_ltz(batch.schema)).parquet(stream_path)
    cols = set(stream.columns)
    if "timestamp" in cols:  # producer schema
        stream = stream.select(
            F.col("timestamp").alias("ts"),
            F.col("user_id"),
            F.when(F.col("event_type") == "page_view", "view")
            .when(F.col("event_type") == "add_to_cart", "click")
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            F.coalesce(F.col("purchase_amount"), F.lit(0.0)).alias("value"),
        )
    else:  # fixture schema
        stream = stream.select("ts", "user_id", "event_type", "value")
    if dict(stream.dtypes)["ts"] == "bigint":  # nanos encoding
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def main() -> None:
    source = os.environ.get(
        "CLICKSTREAM_SOURCE",
        os.path.join(
            os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), "events.parquet"
        ),
    )
    out = os.environ.get("CLICKSTREAM_OUTPUT", "./analytics_out")
    ckpt = os.environ.get("CLICKSTREAM_CHECKPOINT", os.path.join(out, "_checkpoints"))
    trigger = os.environ.get("CLICKSTREAM_TRIGGER", "available-now")

    spark = get_spark(app_name="clickstream-processor")
    if source.startswith("kafka://"):  # JAR-gated; config parity with reference
        servers, _, topic = source.removeprefix("kafka://").partition("/")
        # raw frames -> typed events via the explicit-schema JSON decode
        # (inverse of to_kafka_payload), then drop unparseable payloads
        events = decode_kafka_payload(read_kafka_stream(spark, servers, topic)).filter(
            F.col("ts").isNotNull()
        )
    else:
        events = _normalized_stream(spark, source)

    def writer(df: DataFrame, mode: str, name: str):
        w = (
            df.writeStream.outputMode(mode)
            .option("checkpointLocation", os.path.join(ckpt, name))
        )
        if trigger == "available-now":
            w = w.trigger(availableNow=True)
        else:
            w = w.trigger(processingTime=trigger.removeprefix("processing-time:"))
        return w

    # T8 multi-query fan-out off the shared source, reference's three
    # tables. Every started query is stopped on the way out, so a failure
    # in one (or in a later start) never leaves the others running.
    queries = []
    try:
        queries.append(
            writer(hourly_metrics_stream(events), "append", "hourly")
            .format("parquet")
            .option("path", os.path.join(out, "hourly_metrics"))
            .start()
        )
        queries.append(
            writer(session_window_metrics_stream(events), "append", "sessions")
            .format("parquet")
            .option("path", os.path.join(out, "session_metrics"))
            .start()
        )
        # complete-mode KPIs snapshot-overwrite per batch (S6), the
        # reference's dashboard upsert-of-one-row equivalent
        queries.append(
            writer(dashboard_metrics_stream(events), "complete", "dashboard")
            .foreachBatch(
                lambda df, _bid: overwrite_snapshot(
                    df, os.path.join(out, "dashboard_metrics")
                )
            )
            .start()
        )
        if trigger == "available-now":
            for q in queries:
                q.awaitTermination()
        else:  # pragma: no cover - continuous mode
            spark.streams.awaitAnyTermination()
    finally:
        for q in queries:
            q.stop()
    print(json.dumps({"processor": "done", "source": source, "output": out}))


if __name__ == "__main__":
    main()
