"""Streaming-parity queries: real Structured Streaming executions whose
final state must equal the batch oracle.

Each builder replays the events fixture through the file source with
Trigger.AvailableNow and returns the finished memory-sink table, so the
driver's DuckDB comparison checks actual streaming semantics (watermark,
window assignment, output mode), not a batch re-implementation.

``streaming_session_windows`` uses ``session_window`` + watermark — the
bounded-state alternative to the reference's unbounded keyed session agg
(T3). In append mode, sessions still open within the final watermark would
never emit; complete mode isn't supported for session windows, so the
oracle restricts itself to sessions that CLOSE before the final watermark:
``session_end + gap <= max(ts) - delay``. The pytest suite asserts the
emitted set matches exactly that predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from e_commerce_click_stream_spark.operators.sessionize import sessionize_sql
from e_commerce_click_stream_spark.plans.behavior import _EWMA_SQL
from e_commerce_click_stream_spark.plans.registry import register
from e_commerce_click_stream_spark.streaming.jobs import (
    dashboard_metrics_stream,
    hourly_metrics_stream,
    read_events_stream,
    run_to_completion,
    session_window_metrics_stream,
)


# exact distinct isn't available on streams (the sketch column is dropped
# for the oracle compare; pytest checks it separately)
_STREAM_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour_timestamp,
       count(*) AS total_events,
       count(*) FILTER (WHERE event_type = 'view') AS page_views,
       count(*) FILTER (WHERE event_type = 'click') AS cart_additions,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchases,
       round(CASE WHEN count(*) FILTER (WHERE event_type = 'view') > 0
                  THEN count(*) FILTER (WHERE event_type = 'purchase') * 100.0
                       / count(*) FILTER (WHERE event_type = 'view')
                  ELSE 0.0 END, 2) AS conversion_rate,
       round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2)
           AS revenue
FROM events
WHERE ts IS NOT NULL  -- streaming window() silently drops unstamped rows
GROUP BY 1
"""


@register("streaming_hourly_metrics", oracle=_STREAM_HOURLY_SQL, tags=("T1", "T2", "T4", "T5", "streaming"))
def streaming_hourly_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window hourly metrics executed as a real
    streaming query (complete mode → all windows at end of replay equal the
    batch result)."""
    out = run_to_completion(
        hourly_metrics_stream(read_events_stream(spark, sf_dir)), "complete"
    )
    return out.drop("approx_unique_users")


_STREAM_DASHBOARD_SQL = """
SELECT count(*) AS total_events,
       round(avg(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) * 100.0, 4)
           AS conversion_rate,
       round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2)
           AS total_revenue
FROM events
"""


@register("streaming_dashboard_metrics", oracle=_STREAM_DASHBOARD_SQL, tags=("A6", "A7", "T4", "streaming"))
def streaming_dashboard_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global KPI aggregate as a complete-mode streaming query."""
    return run_to_completion(
        dashboard_metrics_stream(read_events_stream(spark, sf_dir)), "complete"
    )


# Sessions that close (end + 30 min gap) before the final watermark
# (max ts - 10 min delay) — exactly the set append mode emits.
#
# Epoch floor: Spark initializes the event-time watermark at epoch 0, and
# the session-window late filter tests the SESSION END (ts + gap), not the
# raw event time — a row is late iff ts + gap <= watermark, INCLUSIVE
# (r10 empirical probes: at the initial epoch-0 watermark with the
# 30-minute gap, ts = -45min is dropped, ts = -30min exactly is dropped
# — end == watermark is late — and ts = -15min SURVIVES because its
# session end is +15min). The oracle must sessionize exactly the events
# the stream actually keeps: epoch_us(ts) + 1800000000 > 0.
_STREAM_SESSIONS_SQL = f"""
WITH sessionized AS ({sessionize_sql(source="(SELECT * FROM events WHERE epoch_us(ts) + 1800000000 > 0)")}),
sess AS (
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS total_events,
           count(*) FILTER (WHERE event_type = 'view') AS page_views,
           count(*) FILTER (WHERE event_type = 'click') AS cart_additions,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchases,
           round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2)
               AS purchase_amount,
           round((epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000.0, 4)
               AS session_duration_minutes,
           count(*) FILTER (WHERE event_type = 'purchase') > 0 AS converted
    FROM sessionized
    GROUP BY session_id, user_id
)
SELECT * FROM sess
WHERE epoch_us(session_end) + 1800000000
      <= (SELECT max(epoch_us(ts)) FROM events) - 600000000
"""


@register("streaming_session_windows", oracle=_STREAM_SESSIONS_SQL, tags=("T3", "session_window", "streaming"))
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session aggregation via ``session_window`` + watermark in
    append mode — the bounded-state T3. Emits exactly the sessions closed
    by the final watermark; the oracle applies the same closure predicate
    to the batch sessionization."""
    return run_to_completion(
        session_window_metrics_stream(read_events_stream(spark, sf_dir)), "append"
    )


# Sessions the custom stateful operator closes = every session that is
# FOLLOWED by a later session of the same user (the user's last session
# stays open in state forever, like the reference's unbounded T3 agg).
_STATEFUL_SESSIONS_SQL = f"""
WITH sessionized AS ({sessionize_sql()}),
sess AS (
    SELECT session_id,
           user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS total_events,
           count(*) FILTER (WHERE event_type = 'view') AS page_views,
           count(*) FILTER (WHERE event_type = 'click') AS cart_additions,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchases,
           round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2)
               AS purchase_amount,
           count(*) FILTER (WHERE event_type = 'purchase') > 0 AS converted
    FROM sessionized
    GROUP BY session_id, user_id
)
SELECT user_id, session_start, session_end, total_events, page_views,
       cart_additions, purchases, purchase_amount, converted
FROM sess s
WHERE EXISTS (SELECT 1 FROM sess s2
              WHERE s2.user_id = s.user_id
                AND s2.session_start > s.session_end)
"""


@register("streaming_stateful_sessions", oracle=_STATEFUL_SESSIONS_SQL,
          tags=("T3", "applyInPandasWithState", "streaming"))
def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-key state machine via ``applyInPandasWithState`` — the
    faithful unbounded-state T3 (streaming/stateful.py): a session emits
    only when a later event of the same user closes it; each user's final
    session stays in state, exactly like the reference's watermarkless agg."""
    from e_commerce_click_stream_spark.streaming.stateful import stateful_sessionize

    return run_to_completion(
        stateful_sessionize(read_events_stream(spark, sf_dir)), "append"
    )


_STREAM_ATTRIBUTION_SQL = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.ts AS purchase_ts,
       c.ts AS click_ts,
       round(p.value, 2) AS purchase_value,
       round((epoch_us(p.ts) - epoch_us(c.ts)) / 60000000.0, 4) AS lag_minutes
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


@register("streaming_click_attribution", oracle=_STREAM_ATTRIBUTION_SQL,
          tags=("stream-stream-join", "T1", "streaming"))
def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join executed as a real streaming query:
    purchases join the same user's clicks from the preceding 30 minutes,
    with watermarks on both sides bounding the join state (Spark derives
    the click-state TTL from the interval condition). Inner join in
    append mode over the finite replay emits exactly the batch join
    result — the oracle is the equivalent batch interval join."""
    from e_commerce_click_stream_spark.streaming.jobs import (
        click_purchase_join_stream,
    )

    return run_to_completion(
        click_purchase_join_stream(read_events_stream(spark, sf_dir)), "append"
    )


# every event exactly once — the union doubles each, the dedup restores.
# Epoch floor: Spark's event-time watermark starts at epoch 0, so
# dropDuplicatesWithinWatermark drops pre-epoch rows as late even in the
# first micro-batch — INCLUSIVELY: a row with ts exactly at the watermark
# is late (r10 code-review finding, confirmed empirically: an
# exactly-epoch row is dropped by both dropDuplicates and
# dropDuplicatesWithinWatermark at the initial watermark), so the keep
# predicate is strict >. NULL-ts rows are NOT late (no event time) and
# pass through the dedup, so the oracle keeps them.
_STREAM_DEDUP_SQL = """
SELECT event_id, ts, user_id, event_type, value FROM events
WHERE ts IS NULL OR ts > TIMESTAMP '1970-01-01'
"""


@register("streaming_exactly_once_dedup", oracle=_STREAM_DEDUP_SQL,
          tags=("dedup", "T1", "exactly-once", "streaming"))
def streaming_exactly_once_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once → exactly-once: the replayed stream is unioned with
    itself (every event delivered twice) and deduplicated by event key
    within the watermark (bounded state). The oracle is the plain events
    table — each event must come out exactly once."""
    from e_commerce_click_stream_spark.streaming.jobs import dedup_events_stream

    return run_to_completion(
        dedup_events_stream(read_events_stream(spark, sf_dir)), "append"
    )


# the batch twin of the hopping stream: same 4-windows-per-event expansion
_STREAM_SLIDING_SQL = """
WITH slid AS (
    SELECT unnest([time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes'
                   for k in [0, 1, 2, 3]]) AS window_start,
           event_type, value
    FROM events
    WHERE ts IS NOT NULL  -- streaming window() silently drops unstamped rows
)
SELECT window_start::TIMESTAMP AS window_start,
       count(*) AS n_events,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchases,
       round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2)
           AS revenue
FROM slid GROUP BY 1
"""


@register("streaming_sliding_windows", oracle=_STREAM_SLIDING_SQL,
          tags=("T2", "hopping", "streaming"))
def streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows executed as a real watermarked stream (complete
    mode over the finite replay = the batch expansion) — the overlapping
    counterpart of streaming_hourly_metrics; events_sliding_windows is
    the batch twin."""
    from e_commerce_click_stream_spark.streaming.jobs import sliding_metrics_stream

    return run_to_completion(
        sliding_metrics_stream(read_events_stream(spark, sf_dir)), "complete"
    )


_STREAM_SEGMENT_SQL = """
SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
       count(*) AS total_events,
       count(*) FILTER (WHERE e.event_type = 'purchase') AS purchases,
       round(sum(CASE WHEN e.event_type = 'purchase' THEN e.value ELSE 0.0 END), 2)
           AS revenue
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


@register("streaming_segment_enrichment", oracle=_STREAM_SEGMENT_SQL,
          tags=("stream-static-join", "T4", "streaming"))
def streaming_segment_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join executed as a real streaming query: the event
    replay is enriched with the broadcast customer dimension per
    micro-batch, aggregated per market segment in complete mode, and the
    final state must equal the batch left-join oracle."""
    from e_commerce_click_stream_spark.io import table
    from e_commerce_click_stream_spark.streaming.jobs import segment_metrics_stream

    return run_to_completion(
        segment_metrics_stream(
            read_events_stream(spark, sf_dir), table(spark, sf_dir, "customer")
        ),
        "complete",
    )


_STREAM_TOP_USERS_SQL = """
SELECT user_id,
       round(sum(value), 2) AS revenue,
       count(*) AS purchases
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
ORDER BY revenue DESC, user_id
LIMIT 10
"""


@register("streaming_top_users", oracle=_STREAM_TOP_USERS_SQL,
          tags=("O1", "T4", "topk", "streaming"))
def streaming_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k executed as a real complete-mode stream: the
    final leaderboard after the replay drains must equal the batch
    ORDER BY / LIMIT oracle (deterministic tiebreak on user_id)."""
    from e_commerce_click_stream_spark.streaming.jobs import top_users_stream

    return run_to_completion(
        top_users_stream(read_events_stream(spark, sf_dir)), "complete"
    )


_STREAM_KMV_SQL = """
WITH du AS (
    SELECT DISTINCT event_type, user_id FROM events
    WHERE user_id IS NOT NULL
),
hashed AS (
    SELECT event_type,
           CAST(CAST(('0x' || substr(md5('kmv:' || user_id), 1, 15))
                AS UBIGINT) AS BIGINT) / 1152921504606846976.0 AS frac,
           user_id
    FROM du
),
ranked AS (
    SELECT event_type, frac,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY frac, user_id) AS rn
    FROM hashed
)
SELECT event_type,
       count(*) AS n_in_sketch,
       CASE WHEN count(*) < 64 THEN count(*)
            ELSE CAST(floor(63 / max(CASE WHEN rn = 64 THEN frac END) + 0.5)
                      AS BIGINT) END AS kmv_estimate
FROM ranked
WHERE rn <= 64
GROUP BY event_type
"""


@register("streaming_kmv_distinct", oracle=_STREAM_KMV_SQL,
          tags=("A5", "S4", "sketch", "streaming", "incremental"))
def streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance as a REAL multi-batch stream: the
    replay is split into 4 micro-batches and a per-event-type KMV sketch
    is merged into a parquet store per batch (streaming/jobs.py::
    kmv_sketch_merge_stream). KMV is closed under the merge, so the
    final store must equal the one-pass batch sketch — which is exactly
    what this oracle computes, making merge-correctness a value-hash
    gate, not a property test. The unbounded-stream replacement for
    exact count-distinct state (A5 × S4)."""
    from e_commerce_click_stream_spark.streaming.jobs import kmv_sketch_merge_stream

    return kmv_sketch_merge_stream(spark, sf_dir, k=64)


@register("streaming_user_ewma", oracle=_EWMA_SQL,
          tags=("A10", "S4", "timeseries", "streaming", "incremental"))
def streaming_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA maintained incrementally across a 4-micro-batch
    replay: the bounded decay tail (last-16 by recency) is closed under
    union — a top-k-by-recency sketch — so the foreachBatch merge
    converges to the exact batch answer even though the replay's batches
    are NOT time-ordered (streaming/jobs.py::ewma_tail_merge_stream).
    Shares the batch ``user_value_ewma`` oracle: merge correctness is a
    value-hash gate. The recurrence never replays history — state is
    users × (16 rows + a counter)."""
    from e_commerce_click_stream_spark.streaming.jobs import ewma_tail_merge_stream

    return ewma_tail_merge_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# streaming corpus ingest: the documents table replayed through the file
# source with the SAME scrub transform the batch pipeline uses — the
# "clean on arrival" hygiene stage of a training-data ingest. Stateless,
# so append mode needs no watermark and the emitted set must equal the
# batch scrub byte-for-byte (full redacted text is hash-gated). The
# oracle IS the batch rewrite's oracle — one pattern set, no copy to
# desynchronize.

from e_commerce_click_stream_spark.plans.text import _PII_REDACT_SQL


@register("streaming_pii_scrub", oracle=_PII_REDACT_SQL,
          tags=("S2", "T4", "streaming", "pii", "rewrite"))
def streaming_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction ON ARRIVAL: the documents fixture replayed as a file
    stream, scrubbed by the exact batch transform (plans/text.py::
    pii_scrub_df — email -> IP -> phone staging preserved), appended to a
    parquet sink and read back. Stateless, so append mode needs no
    watermark, no late-data semantics apply, and the emitted rows are the
    batch scrub byte-for-byte regardless of micro-batch boundaries — the
    hygiene stage every streaming corpus ingest runs before anything
    stateful sees raw text.

    Scale shape: zero-shuffle per-batch projections; sink throughput is
    the only bound, identical to the batch plan per partition."""
    from e_commerce_click_stream_spark.plans.text import pii_scrub_df
    from e_commerce_click_stream_spark.streaming.jobs import (
        read_documents_stream,
        run_to_completion,
    )

    stream = read_documents_stream(spark, sf_dir).select("doc_id", "source", "text")
    scrubbed = pii_scrub_df(stream).select(
        "doc_id", "n_email", "n_ip", "n_phone", "clean_text"
    )
    return run_to_completion(scrubbed, "append")


# The quality-gate twin: same corpus-ingest replay, the full Gopher rule
# battery computed on arrival. With the scrub above, this is the standard
# two-stage streaming hygiene front (redact, then flag/filter) — both
# stateless, both sharing their batch oracles.

from e_commerce_click_stream_spark.plans.text import _GOPHER_SQL


@register("streaming_quality_gate", oracle=_GOPHER_SQL,
          tags=("S2", "T4", "streaming", "quality", "gopher"))
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality flags ON ARRIVAL: the documents stream through the
    exact batch rule battery (plans/text.py::gopher_flags_df), append
    sink, read back — per-rule flags plus the conjunction gate for every
    arriving document, equal to the batch readout regardless of
    micro-batch boundaries (stateless projection, no watermark). A real
    ingest filters on ``passes_gopher`` here; emitting the flags keeps
    the query's output hash-gated on every rule's value.

    Scale shape: zero-shuffle per-batch projection; sink-bound, same
    plan per partition as the batch op."""
    from e_commerce_click_stream_spark.plans.text import gopher_flags_df
    from e_commerce_click_stream_spark.streaming.jobs import (
        read_documents_stream,
        run_to_completion,
    )

    stream = read_documents_stream(spark, sf_dir).select("doc_id", "text")
    return run_to_completion(gopher_flags_df(stream), "append")


# ---------------------------------------------------------------------------
# Late-data audit: prove watermark_delay_calibration's SIMULATION against
# the real engine. The simulated recurrence (plans/behavior.py: epoch-0
# floor, one-batch-lagged never-regressing prior max, INCLUSIVE
# ts <= watermark) predicts the
# drop count for one delay; here the SAME arrival order replays through an
# actual withWatermark + dropDuplicates stream — one file per arrival
# micro-batch, maxFilesPerTrigger=1 — and the engine's surviving-row count
# must land exactly on the prediction. The artifact-vs-oracle pattern of
# ivf_cell_balance_audit, applied to the streaming engine itself.

WM_AUDIT_DELAY_MIN = 10   # the audited grid point
WM_AUDIT_BATCH = 2000     # arrival micro-batch size for the audit replay

# The fixture's event_id order is time-sorted (zero drops at every grid
# delay — a vacuous audit), so the audit defines arrival order as a
# deterministic md5 permutation of event_id: maximal disorder, real late
# rows at the audited delay, identical on both engines. Event times are
# second-truncated so the simulation's integer-microsecond watermark and
# the engine's millisecond-granularity event-time stats coincide exactly
# (sub-ms timestamps would classify a sliver of rows differently).
from e_commerce_click_stream_spark.plans.behavior import (  # noqa: E402
    _WM_BM_WM_CTES,
    _wm_dropped_sql,
)

_WM_AUDIT_SQL = f"""
WITH ev AS (
    SELECT epoch_us(date_trunc('second', ts)) AS ts_us,
           (row_number() OVER (ORDER BY md5(event_id::VARCHAR), event_id) - 1)
               // {WM_AUDIT_BATCH} AS batch
    FROM events
    WHERE ts IS NOT NULL AND event_id IS NOT NULL
),
{_WM_BM_WM_CTES},
flagged AS (
    SELECT {_wm_dropped_sql(str(WM_AUDIT_DELAY_MIN))}
    FROM ev e JOIN wm w ON w.batch = e.batch
)
SELECT {WM_AUDIT_DELAY_MIN} AS delay_minutes,
       count(*)::BIGINT AS n_events,
       sum(CASE WHEN dropped THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       round(sum(CASE WHEN dropped THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
           AS drop_frac
FROM flagged
HAVING count(*) > 0
"""


@register("streaming_late_data_audit", oracle=_WM_AUDIT_SQL,
          tags=("streaming", "watermark", "audit", "T1"))
def streaming_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-engine watermark drop count vs the simulator's prediction:
    events (second-truncated ts, md5-permuted arrival order) replay as
    one file per WM_AUDIT_BATCH-row micro-batch through
    withWatermark({WM_AUDIT_DELAY_MIN} minutes) + dropDuplicates keyed on
    a unique arrival rank — no genuine duplicates exist, so every row the
    stream does NOT emit was dropped by the engine's late-row filter.
    n_dropped = fed − emitted, value-hash-gated against the SAME
    recurrence text the calibration oracle composes (epoch-0 initial
    watermark, one-batch-lagged prior max, INCLUSIVE ts <= watermark,
    per-micro-batch update timing). A green row certifies the simulator against the
    engine it models — including that the watermark only advances BETWEEN
    micro-batches and never regresses.

    Scale shape: the audit stream carries (arrival rank, ts) only; the
    global arrival permutation is the audit's test harness (a
    deliberately adversarial order), not a production shape — the
    rank window is the one single-partition stage. Dedup state is
    bounded by the watermark; the readout is two 1-row aggregates
    broadcast-crossed."""
    import shutil
    import tempfile as _tf

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from e_commerce_click_stream_spark.io import table
    from e_commerce_click_stream_spark.streaming.jobs import (
        arrival_order_replay,
    )

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
        .select(
            "event_id",
            F.date_trunc("second", F.col("ts")).alias("ts"),
        )
    )
    rn = F.row_number().over(
        Window.orderBy(F.md5(F.col("event_id").cast("string")), F.col("event_id"))
    )
    staged = ev.select(
        (rn - 1).cast("long").alias("arr"),
        "ts",
    ).withColumn("wb", (F.col("arr") / WM_AUDIT_BATCH).cast("bigint"))
    stream, stage_root = arrival_order_replay(spark, staged, "wb")
    try:
        # run_to_completion drains the stream and returns a batch read of
        # its own parquet SINK dir, which outlives stage_root — the staged
        # input files are free to go as soon as the query terminates
        survivors = run_to_completion(
            stream.withWatermark("ts", f"{WM_AUDIT_DELAY_MIN} minutes")
            .dropDuplicates(["arr", "ts"]),
            "append",
        )
    finally:
        shutil.rmtree(stage_root, ignore_errors=True)
    fed = ev.agg(F.count("*").alias("n_events"))
    out = survivors.agg(F.count("*").alias("n_out"))
    n_dropped = (F.col("n_events") - F.col("n_out")).cast("long")
    return (
        fed.crossJoin(F.broadcast(out))
        .filter(F.col("n_events") > 0)
        .select(
            F.lit(WM_AUDIT_DELAY_MIN).alias("delay_minutes"),
            F.col("n_events"),
            n_dropped.alias("n_dropped"),
            F.round(n_dropped * 1.0 / F.col("n_events"), 6).alias("drop_frac"),
        )
    )
