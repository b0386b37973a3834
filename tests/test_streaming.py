"""Streaming semantics tests: checkpoint recovery (T6), replay-equals-batch,
Kafka payload shaping (S8), trigger/output-mode surface (T4/T5)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from e_commerce_click_stream_spark.streaming.jobs import (
    read_events_stream,
    to_kafka_payload,
)
from tests.conftest import SF_SMOKE


def test_checkpoint_recovery_no_duplicates(spark, tmp_path):
    """T6: re-running an availableNow query against the same checkpoint
    reprocesses nothing — the sink stays exactly once for already-seen
    files."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            read_events_stream(spark, SF_SMOKE)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    first = spark.read.parquet(out).count()
    run()  # same checkpoint, no new files → no new rows
    assert spark.read.parquet(out).count() == first
    assert first == 1000  # sf0.001 events


def test_stream_replay_equals_batch(spark):
    """The file-source replay delivers exactly the batch table."""
    from e_commerce_click_stream_spark.io import table
    from e_commerce_click_stream_spark.streaming.jobs import run_to_completion

    streamed = run_to_completion(
        read_events_stream(spark, SF_SMOKE).groupBy("event_type").count(), "complete"
    )
    batch = table(spark, SF_SMOKE, "events").groupBy("event_type").count()
    assert {tuple(r) for r in streamed.collect()} == {tuple(r) for r in batch.collect()}


def test_kafka_payload_shape(spark):
    """S8: key/value columns, with the value a JSON envelope that round-trips
    through from_json (S2)."""
    from e_commerce_click_stream_spark.io import table

    ev = table(spark, SF_SMOKE, "events")
    payload = to_kafka_payload(ev, key_col="user_id")
    assert payload.columns == ["key", "value"]
    parsed = payload.select(
        F.from_json(
            "value",
            "user_id long, event_id long, ts timestamp, event_type string, value double, props string",
        ).alias("e")
    ).select("e.*")
    n = ev.count()
    assert parsed.filter(F.col("event_id").isNotNull()).count() == n
    back = {(r.event_id, r.event_type) for r in parsed.collect()}
    orig = {(r.event_id, r.event_type) for r in ev.collect()}
    assert back == orig


def test_tables_ddl_and_seed(spark, tmp_path):
    """S9 DDL mirror + S7 seed + product_metrics population (the table the
    reference declares but never writes)."""
    from e_commerce_click_stream_spark.io import table
    from e_commerce_click_stream_spark.tables import (
        create_analytics_schema,
        product_metrics_from_events,
        seed_dashboard_metrics,
    )

    db = "analytics_test"
    create_analytics_schema(spark, db=db, location=str(tmp_path / "wh"))
    try:
        seed_dashboard_metrics(spark, db=db)
        seeded = spark.table(f"{db}.dashboard_metrics")
        assert seeded.count() == 5
        assert {r.metric_name for r in seeded.collect()} >= {"total_events", "conversion_rate"}

        pm = product_metrics_from_events(table(spark, SF_SMOKE, "events"))
        pm.write.insertInto(f"{db}.product_metrics")
        got = spark.table(f"{db}.product_metrics")
        assert got.count() > 0
        assert got.filter("page_views > 0 AND conversion_rate > 0").count() >= 0
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_processing_time_trigger_matches_available_now(spark):
    """T5: the same finite replay under a processingTime trigger converges
    to the identical final state as Trigger.AvailableNow, also when the
    trigger interval (2 s) is longer than the runner's quiescence window."""
    from e_commerce_click_stream_spark.streaming.jobs import (
        hourly_metrics_stream,
        read_events_stream,
        run_to_completion,
        run_with_processing_time,
    )

    cols = ["hour_timestamp", "total_events", "page_views", "purchases", "revenue"]
    an = run_to_completion(
        hourly_metrics_stream(read_events_stream(spark, SF_SMOKE)), "complete"
    )
    expected = sorted(map(tuple, an.select(cols).collect()))
    for interval in ("500 milliseconds", "2 seconds"):
        pt = run_with_processing_time(
            hourly_metrics_stream(read_events_stream(spark, SF_SMOKE)), "complete", interval
        )
        assert sorted(map(tuple, pt.select(cols).collect())) == expected, interval


def test_initial_watermark_drops_pre_epoch_rows(spark, tmp_path):
    """Pins the Spark behavior behind the r8 edge-parity reds: the
    event-time watermark initializes at EPOCH 0, so a pre-epoch row is
    "late" even in the very FIRST micro-batch and append-mode stateful
    operators (dropDuplicatesWithinWatermark here) drop it silently.
    The streaming oracles mirror this floor (plans/streaming_parity.py);
    if a Spark upgrade ever changes the initial-watermark semantics,
    this test flags the oracles for re-derivation."""
    src = str(tmp_path / "src")
    rows = [
        ("pre", "1969-12-31 22:59:00"),
        # exactly-epoch: the late filter is INCLUSIVE (ts <= watermark is
        # late — the r10 boundary finding), so ts == 0 is dropped too
        ("epoch", "1970-01-01 00:00:00"),
        ("post", "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "k string, ts_s string").select(
        "k", F.col("ts_s").cast("timestamp").alias("ts")
    )
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["k"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pre_epoch_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        # awaitTermination returns False on timeout rather than raising —
        # a hung query must fail HERE, not as a misleading empty-table
        # assertion below
        assert q.awaitTermination(120), "replay did not finish in 120s"
    finally:
        q.stop()
    got = {r.k for r in spark.sql("SELECT k FROM pre_epoch_probe").collect()}
    assert got == {"post"}, (
        "initial-watermark semantics changed — re-derive the epoch floor "
        f"in the streaming oracles (got {got})"
    )


def test_replay_parts_falls_back_to_session_parallelism(spark):
    """With no replay size recorded, the runners clamp to the session's
    own shuffle parallelism, never to a fixed count above it."""
    from e_commerce_click_stream_spark.streaming.jobs import (
        _REPLAY_PARTS_KEY,
        _replay_parts,
    )

    prev = spark.conf.get(_REPLAY_PARTS_KEY, None)
    spark.conf.unset(_REPLAY_PARTS_KEY)
    try:
        assert _replay_parts(spark) == spark.conf.get("spark.sql.shuffle.partitions")
    finally:
        if prev is not None:
            spark.conf.set(_REPLAY_PARTS_KEY, prev)


def test_hourly_restart_over_16_partition_checkpoint(spark, tmp_path):
    """A checkpoint keeps the state-partition count it was created with.
    Start the hourly query at 16 shuffle partitions, restart it over the
    same checkpoint at the core-count default, and check the state carried
    across (one window spans both runs) still yields exact closed
    windows."""
    import duckdb
    import pandas as pd

    from e_commerce_click_stream_spark.session import _cpus
    from e_commerce_click_stream_spark.streaming.jobs import hourly_metrics_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    kinds = ["view", "click", "view", "purchase"]

    def land(name, start, n):
        # one event every 5 minutes from `start`; naive UTC micros like the
        # fixtures
        ts = pd.date_range(start, periods=n, freq="5min").astype("datetime64[us]")
        pd.DataFrame(
            {
                "ts": ts,
                "user_id": [i % 7 for i in range(n)],
                "event_type": [kinds[i % 4] for i in range(n)],
                "value": [round(1.25 * i, 2) for i in range(n)],
            }
        ).to_parquet(os.path.join(src, name), index=False)

    def run(parts):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try:
            events = spark.readStream.schema(
                "ts timestamp, user_id bigint, event_type string, value double"
            ).parquet(src)
            q = (
                hourly_metrics_stream(events)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                assert q.awaitTermination(120), "replay did not finish in 120s"
            finally:
                q.stop()
            return q.recentProgress
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    land("a.parquet", "2024-01-01 00:05", 18)  # 00:05 .. 01:30
    run("16")
    land("b.parquet", "2024-01-01 01:40", 40)  # 01:40 .. 04:55, hour 01 spans both
    progress = run(str(_cpus()))

    parts = {op["numShufflePartitions"] for p in progress for op in p["stateOperators"]}
    assert parts == {16}
    cols = ["hour_timestamp", "total_events", "page_views", "cart_additions", "purchases", "revenue"]
    got = sorted(tuple(r) for r in spark.read.parquet(out).select(cols).collect())
    # the final watermark (04:55 - 10 min) has closed every hour before 04:00
    want = duckdb.sql(
        f"""
        SELECT date_trunc('hour', ts), count(*),
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END),
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END),
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END),
               round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2)
        FROM '{src}/*.parquet'
        WHERE ts < TIMESTAMP '2024-01-01 04:00:00'
        GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    assert [r[0] for r in got] == [r[0] for r in want]
    assert got == [tuple(r) for r in want]
