"""Clickstream parity queries (SURVEY.md §2 A/P/W/O series).

The reference computes session metrics, hourly tumbling-window metrics and
dashboard KPIs over a clickstream (its event types: page_view / add_to_cart /
purchase — /root/reference/producer/models.py:16). The driver fixture
``events`` uses types view / click / purchase / signup / error; the mapping
is view→page_view, click→add_to_cart, purchase→purchase.

Every builder is a pure DataFrame function; oracles are DuckDB SQL over the
same fixtures. Float aggregates are rounded identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_click_stream_spark.io import table
from e_commerce_click_stream_spark.operators.sessionize import (
    sessionize_sql,
    with_session_id,
)
from e_commerce_click_stream_spark.plans.registry import register

# ---------------------------------------------------------------------------
# shared pieces

_SESS_CTE = f"WITH sessionized AS ({sessionize_sql()})"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events")


def _is(event_type: str):
    return F.col("event_type") == event_type


def _cond_count(event_type: str):
    """Reference A2 idiom: sum(when(type==x,1).otherwise(0))
    (/root/reference/processor/streaming_processor.py:179-181) — ONE
    parsed SQL expression (identical tree; the Column chain cost ~12
    gateway roundtrips per call site of plan construction)."""
    return F.expr(
        f"sum(CASE WHEN event_type = '{event_type}' THEN 1 ELSE 0 END)"
    )


def _session_agg(ev: DataFrame) -> DataFrame:
    """Reference A1 keyed session aggregate
    (/root/reference/processor/streaming_processor.py:172-195)."""
    return (
        ev.groupBy("session_id", "user_id")
        .agg(
            F.expr("min(ts) AS session_start"),
            F.expr("max(ts) AS session_end"),
            F.expr("count(*) AS total_events"),
            _cond_count("view").alias("page_views"),
            _cond_count("click").alias("cart_additions"),
            _cond_count("purchase").alias("purchases"),
            F.expr(
                "round(sum(CASE WHEN event_type = 'purchase' THEN value"
                " ELSE 0.0D END), 2) AS purchase_amount"
            ),
        )
        .selectExpr(
            "*",
            "round((unix_micros(session_end) - unix_micros(session_start))"
            " / 60000000.0D, 4) AS session_duration_minutes",
            "purchases > 0 AS converted",
        )
    )


_SESSION_METRICS_SQL = f"""
{_SESS_CTE}
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
       round((epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000.0, 4)
           AS session_duration_minutes,
       count(*) FILTER (WHERE event_type = 'purchase') > 0 AS converted
FROM sessionized
GROUP BY session_id, user_id
"""


@register("session_metrics", oracle=_SESSION_METRICS_SQL,
          tags=("A1", "A2", "A3", "A10", "sessionize"))
def session_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregate: event counts by type, revenue, duration,
    converted flag — reference calculate_session_metrics
    (/root/reference/processor/streaming_processor.py:172-195) over
    gap-sessionized events."""
    return _session_agg(with_session_id(_events(spark, sf_dir)))


# ---------------------------------------------------------------------------
# hourly tumbling-window metrics (A4 batch equivalent, A2/A3/P6/P7)

_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour_timestamp,
       count(*) AS total_events,
       count(DISTINCT user_id) AS unique_users,
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
GROUP BY 1
"""


def _finish_hourly(out: DataFrame) -> DataFrame:
    """Canonical tail of the hourly view — derives the P7 safe-division
    conversion metric (/root/reference/processor/streaming_processor.py:298-303)
    and fixes the column order. Shared by the one-pass view (_hourly) and
    the incremental maintenance path so their definitions cannot drift."""
    return out.selectExpr(
        "hour_timestamp",
        "total_events",
        "unique_users",
        "page_views",
        "cart_additions",
        "purchases",
        "round(CASE WHEN page_views > 0 THEN purchases * 100.0D / page_views"
        " ELSE 0.0D END, 2) AS conversion_rate",
        "revenue",
    )


def _hourly(ev: DataFrame) -> DataFrame:
    out = ev.groupBy(
        F.expr("date_trunc('hour', ts) AS hour_timestamp")
    ).agg(
        F.expr("count(*) AS total_events"),
        F.expr("count(DISTINCT user_id) AS unique_users"),
        _cond_count("view").alias("page_views"),
        _cond_count("click").alias("cart_additions"),
        _cond_count("purchase").alias("purchases"),
        F.expr(
            "round(sum(CASE WHEN event_type = 'purchase' THEN value"
            " ELSE 0.0D END), 2) AS revenue"
        ),
    )
    return _finish_hourly(out)


@register("hourly_metrics", oracle=_HOURLY_SQL,
          tags=("A4", "A2", "A3", "P6", "P7"))
def hourly_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window metrics — batch equivalent of reference
    calculate_hourly_metrics (/root/reference/processor/streaming_processor.py:276-307)
    with exact distinct users (the approx variant is
    ``hourly_metrics_approx``)."""
    return _hourly(_events(spark, sf_dir))


@register("hourly_metrics_approx", oracle=None, tags=("A5", "hll"))
def hourly_metrics_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: approx_count_distinct (HLL) per hour, as the reference uses at
    /root/reference/processor/streaming_processor.py:285. Sketches aren't
    hash-stable across engines → rows-only check."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_timestamp")).agg(
        F.approx_count_distinct("user_id").alias("approx_unique_users"),
        F.count("*").alias("total_events"),
    )


# ---------------------------------------------------------------------------
# dashboard KPIs (A6/A7/A8/A14/S7)

_DASHBOARD_SQL = f"""
{_SESS_CTE},
ev AS (
    SELECT count(*)::BIGINT AS total_events,
           count(DISTINCT user_id)::BIGINT AS unique_users,
           round(avg(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) * 100.0, 4)
               AS conversion_rate,
           round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2)
               AS total_revenue
    FROM events
),
sess AS (
    SELECT count(DISTINCT session_id)::BIGINT AS unique_sessions,
           round(avg(dur_min), 4) AS avg_session_duration_minutes
    FROM (
        SELECT session_id,
               (epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000.0 AS dur_min
        FROM sessionized GROUP BY session_id
    )
)
SELECT 'total_events' AS metric_name, total_events::DOUBLE AS metric_value FROM ev
UNION ALL SELECT 'unique_users', unique_users::DOUBLE FROM ev
UNION ALL SELECT 'conversion_rate', conversion_rate FROM ev
UNION ALL SELECT 'total_revenue', total_revenue FROM ev
UNION ALL SELECT 'unique_sessions', unique_sessions::DOUBLE FROM sess
UNION ALL SELECT 'avg_session_duration_minutes', avg_session_duration_minutes FROM sess
"""


@register("dashboard_metrics", oracle=_DASHBOARD_SQL,
          tags=("A6", "A7", "A8", "A14", "S7"))
def dashboard_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global KPI snapshot as (metric_name, metric_value) rows — reference
    update_dashboard_metrics (/root/reference/processor/streaming_processor.py:337-394),
    expressed as one distributed agg + unpivot instead of the reference's
    collect()-and-recreate round-trip (A14): no data leaves the plan."""
    ev = _events(spark, sf_dir)
    sess = (
        with_session_id(ev)
        .groupBy("session_id")
        .agg(
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 60_000_000.0
            ).alias("dur_min")
        )
        .agg(
            F.countDistinct("session_id").alias("unique_sessions"),
            F.round(F.avg("dur_min"), 4).alias("avg_session_duration_minutes"),
        )
    )
    glob = ev.agg(
        F.count("*").alias("total_events"),
        F.countDistinct("user_id").alias("unique_users"),
        F.round(
            F.avg(F.when(_is("purchase"), F.lit(1.0)).otherwise(F.lit(0.0))) * 100.0, 4
        ).alias("conversion_rate"),
        F.round(
            F.sum(F.when(_is("purchase"), F.col("value")).otherwise(F.lit(0.0))), 2
        ).alias("total_revenue"),
    )
    wide = glob.crossJoin(sess)  # two single-row aggregates
    return wide.selectExpr(
        """stack(6,
            'total_events', cast(total_events as double),
            'unique_users', cast(unique_users as double),
            'conversion_rate', conversion_rate,
            'total_revenue', total_revenue,
            'unique_sessions', cast(unique_sessions as double),
            'avg_session_duration_minutes', avg_session_duration_minutes
        ) as (metric_name, metric_value)"""
    )


# ---------------------------------------------------------------------------
# distribution with grand-total window (A12/W1/F11)

_DISTRIBUTION_SQL = """
SELECT event_type,
       count(*) AS cnt,
       round(count(*) * 100.0 / sum(count(*)) OVER (), 2) AS pct
FROM events
GROUP BY event_type
"""


@register("event_type_distribution", oracle=_DISTRIBUTION_SQL,
          tags=("A12", "W1", "F11"))
def event_type_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type distribution with percent-of-grand-total via an empty
    window partition (reference notebook cell-3, data_analysis.ipynb)."""
    counts = _events(spark, sf_dir).groupBy("event_type").agg(F.count("*").alias("cnt"))
    total = F.sum("cnt").over(Window.partitionBy())
    return counts.withColumn("pct", F.round(F.col("cnt") * 100.0 / total, 2))


# ---------------------------------------------------------------------------
# conversion by session-duration bucket (A13)

_BUCKET_CASE_SQL = """CASE WHEN dur_min < 1 THEN '0-1min'
            WHEN dur_min < 5 THEN '1-5min'
            WHEN dur_min < 15 THEN '5-15min'
            WHEN dur_min < 30 THEN '15-30min'
            ELSE '30min+' END"""

_CONVERSION_BUCKET_SQL = f"""
{_SESS_CTE},
sess AS (
    SELECT session_id,
           (epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000.0 AS dur_min,
           (count(*) FILTER (WHERE event_type = 'purchase') > 0) AS converted
    FROM sessionized GROUP BY session_id
)
SELECT {_BUCKET_CASE_SQL} AS duration_bucket,
       count(*) AS sessions,
       round(avg(CASE WHEN converted THEN 1.0 ELSE 0.0 END), 4) AS conversion_rate
FROM sess
GROUP BY 1
"""


@register("conversion_by_duration_bucket", oracle=_CONVERSION_BUCKET_SQL,
          tags=("A13",))
def conversion_by_duration_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean conversion by session-duration bucket (reference notebook cell-4
    pandas.cut → groupby().mean(), data_analysis.ipynb) as a when-ladder."""
    sess = (
        with_session_id(_events(spark, sf_dir))
        .groupBy("session_id")
        .agg(
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 60_000_000.0
            ).alias("dur_min"),
            (_cond_count("purchase") > 0).alias("converted"),
        )
    )
    d = F.col("dur_min")
    bucket = (
        F.when(d < 1, "0-1min")
        .when(d < 5, "1-5min")
        .when(d < 15, "5-15min")
        .when(d < 30, "15-30min")
        .otherwise("30min+")
    )
    return sess.groupBy(bucket.alias("duration_bucket")).agg(
        F.count("*").alias("sessions"),
        F.round(
            F.avg(F.when(F.col("converted"), F.lit(1.0)).otherwise(F.lit(0.0))), 4
        ).alias("conversion_rate"),
    )


# ---------------------------------------------------------------------------
# top-1 latest hour (O1) and ordered series (O2)

_LATEST_HOUR_SQL = f"""
WITH hourly AS ({_HOURLY_SQL})
SELECT hour_timestamp, conversion_rate, revenue
FROM hourly ORDER BY hour_timestamp DESC LIMIT 1
"""


@register("latest_hour_conversion", oracle=_LATEST_HOUR_SQL, tags=("O1",))
def latest_hour_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest hourly conversion-rate row — the Grafana 'ORDER BY … DESC
    LIMIT 1' idiom (ecommerce-dashboard.json:48)."""
    return (
        _hourly(_events(spark, sf_dir))
        .select("hour_timestamp", "conversion_rate", "revenue")
        .orderBy(F.desc("hour_timestamp"))
        .limit(1)
    )


# ---------------------------------------------------------------------------
# 3-way UNION ALL status counts (O3/F12)

_STATUS_SQL = f"""
{_SESS_CTE}
SELECT 'raw_events' AS source, count(*) AS cnt FROM events
UNION ALL
SELECT 'user_sessions' AS source, count(DISTINCT session_id) AS cnt FROM sessionized
UNION ALL
SELECT 'purchases' AS source, count(*) AS cnt FROM events WHERE event_type = 'purchase'
"""


@register("pipeline_status_union", oracle=_STATUS_SQL, tags=("O3", "F12"))
def pipeline_status_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way UNION ALL of labeled counts — the monitor_pipeline.sh psql
    stats query."""
    ev = _events(spark, sf_dir)
    a = ev.agg(F.count("*").alias("cnt")).select(
        F.lit("raw_events").alias("source"), "cnt"
    )
    b = (
        with_session_id(ev)
        .agg(F.countDistinct("session_id").alias("cnt"))
        .select(F.lit("user_sessions").alias("source"), "cnt")
    )
    c = (
        ev.filter(_is("purchase"))
        .agg(F.count("*").alias("cnt"))
        .select(F.lit("purchases").alias("source"), "cnt")
    )
    return a.unionByName(b).unionByName(c)


# ---------------------------------------------------------------------------
# global activity profile (A11)

_PROFILE_SQL = f"""
{_SESS_CTE}
SELECT count(*) AS total_events,
       count(DISTINCT user_id) AS unique_users,
       count(DISTINCT session_id) AS unique_sessions,
       count(*) FILTER (WHERE event_type = 'view') AS page_views,
       count(*) FILTER (WHERE event_type = 'click') AS cart_additions,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchases
FROM sessionized
"""


@register("user_activity_profile", oracle=_PROFILE_SQL, tags=("A11",))
def user_activity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass multi-metric profile: COUNT(*), two COUNT(DISTINCT),
    three FILTER counts (reference notebook cell-2)."""
    return with_session_id(_events(spark, sf_dir)).agg(
        F.count("*").alias("total_events"),
        F.countDistinct("user_id").alias("unique_users"),
        F.countDistinct("session_id").alias("unique_sessions"),
        _cond_count("view").alias("page_views"),
        _cond_count("click").alias("cart_additions"),
        _cond_count("purchase").alias("purchases"),
    )


# ---------------------------------------------------------------------------
# first/last per group (A9) — deterministic stand-in for the reference's
# non-deterministic first() (SURVEY.md §7 risk 4)

_FIRST_EVENT_SQL = f"""
{_SESS_CTE}
SELECT session_id,
       arg_min(event_type, event_id) AS first_event_type,
       arg_min(user_id, event_id) AS first_user_id,
       arg_max(event_type, event_id) AS last_event_type,
       min(event_id) AS first_event_id
FROM sessionized
GROUP BY session_id
"""


@register("session_first_event", oracle=_FIRST_EVENT_SQL, tags=("A9",))
def session_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event per session. The reference uses first() per session
    (/root/reference/processor/streaming_processor.py:382-383), which is
    non-deterministic; min_by/max_by over the unique event_id gives the
    same capability with stable results."""
    ev = with_session_id(_events(spark, sf_dir))
    return ev.groupBy("session_id").agg(
        F.min_by("event_type", "event_id").alias("first_event_type"),
        F.min_by("user_id", "event_id").alias("first_user_id"),
        F.max_by("event_type", "event_id").alias("last_event_type"),
        F.min("event_id").alias("first_event_id"),
    )


# ---------------------------------------------------------------------------
# enrichment projection: from_json, casts, timestamp round-trip, repair,
# regexp_replace, coalesce (P1-P4, F1-F3, F6, F13, T10)

_ENRICHED_SQL = """
SELECT event_id,
       ts,
       strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS ts_iso,
       CASE WHEN strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') IS NOT NULL
                 AND strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') != ''
            THEN strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'), '%Y-%m-%dT%H:%M:%S.%f')
            ELSE TIMESTAMP '2024-01-01 00:00:00' END AS repaired_ts,
       user_id,
       regexp_replace(event_type, '^view$', 'page_view') AS event_type,
       CASE WHEN json_valid(props)
            THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
            END AS prop_k,
       round(coalesce(value, 0.0), 2) AS value_filled,
       (event_type = 'purchase') AS is_purchase,
       date_trunc('hour', ts) AS hour_timestamp
FROM events
"""


@register("events_enriched", oracle=_ENRICHED_SQL,
          tags=("P1", "P2", "P3", "P4", "F1", "F2", "F3", "F6", "F13", "T10"))
def events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed enrichment projection: ISO-8601 round-trip with when/otherwise
    dirty-timestamp repair (reference parse_events,
    /root/reference/processor/streaming_processor.py:109-129), JSON prop
    extraction (F1), regexp_replace + coalesce (the reference's imported-but-
    unused F13 surface, /root/reference/processor/streaming_processor.py:12-13)."""
    ev = _events(spark, sf_dir)
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    ts_iso = F.date_format("ts", fmt)
    parsed = F.to_timestamp(ts_iso, fmt)
    repaired = F.when(ts_iso.isNotNull() & (ts_iso != ""), parsed).otherwise(
        F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    return ev.select(
        "event_id",
        "ts",
        ts_iso.alias("ts_iso"),
        repaired.alias("repaired_ts"),
        "user_id",
        F.regexp_replace("event_type", "^view$", "page_view").alias("event_type"),
        # try_cast: get_json_object yields NULL on malformed JSON, but a
        # non-numeric k would make a plain ANSI cast throw where the
        # oracle's TRY_CAST returns NULL (edge-corpus parity matrix)
        F.get_json_object("props", "$.k").try_cast("int").alias("prop_k"),
        F.round(F.coalesce(F.col("value"), F.lit(0.0)), 2).alias("value_filled"),
        _is("purchase").alias("is_purchase"),
        F.date_trunc("hour", F.col("ts")).alias("hour_timestamp"),
    )


# ---------------------------------------------------------------------------
# per-session cart contents: collect_list + size (F13)

_CART_SQL = f"""
{_SESS_CTE}
SELECT session_id,
       string_agg(item, ',' ORDER BY item) AS cart_items,
       count(*)::BIGINT AS cart_size
FROM (
    -- json_valid guard: DuckDB's json_extract_string RAISES on malformed
    -- JSON where Spark's get_json_object returns NULL; the guard makes
    -- both engines treat a broken props payload as no item
    SELECT session_id,
           CASE WHEN json_valid(props)
                THEN json_extract_string(props, '$.k') END AS item
    FROM sessionized
    WHERE event_type = 'click'
)
GROUP BY session_id
"""


@register("session_cart_contents", oracle=_CART_SQL, tags=("F13",))
def session_cart_contents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session cart item list via collect_list + size — the surface the
    reference imported but never used
    (/root/reference/processor/streaming_processor.py:12-13). The list is
    sorted and joined to a string so the comparison is order-insensitive."""
    ev = with_session_id(_events(spark, sf_dir))
    item = F.get_json_object("props", "$.k")
    return (
        ev.filter(_is("click"))
        .groupBy("session_id")
        .agg(
            F.array_join(F.array_sort(F.collect_list(item)), ",").alias("cart_items"),
            # count(*) over all click rows, not size(collect_list): collect_list
            # drops null extractions, so the two diverge the moment a click's
            # props lacks '$.k' — the oracle counts rows, so must we.
            F.count(F.lit(1)).alias("cart_size"),
        )
    )


# ---------------------------------------------------------------------------
# time-range + null-filter predicates (P9/P10)

_RECENT_SQL = """
SELECT event_id, user_id, event_type, ts, round(value, 2) AS value
FROM events
WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 24 HOUR
  AND value IS NOT NULL
"""


@register("recent_events_window", oracle=_RECENT_SQL, tags=("P9", "P10"))
def recent_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding time-range predicate — the Grafana 'NOW() - INTERVAL' panel
    idiom (ecommerce-dashboard.json:18) made deterministic by anchoring to
    max(ts) instead of wall-clock now(), plus the notebook's IS NOT NULL
    filter (P10). The range predicate prunes partitions when the table is
    date-partitioned."""
    ev = _events(spark, sf_dir)
    cutoff = ev.agg(F.max("ts").alias("mx")).select(
        (F.col("mx") - F.expr("INTERVAL 24 HOUR")).alias("cutoff")
    )
    return (
        ev.join(F.broadcast(cutoff))
        .filter((F.col("ts") > F.col("cutoff")) & F.col("value").isNotNull())
        .select("event_id", "user_id", "event_type", "ts", F.round("value", 2).alias("value"))
    )


# ---------------------------------------------------------------------------
# dead-letter split for the JSON decode (S2 extension)
#
# The reference's from_json silently nulls malformed events (SURVEY.md
# §1.2: "no dead-letter handling"); a production pipeline routes them to a
# dead-letter table instead. Fixture props are all valid JSON, so ~1% are
# deterministically mangled first (closing brace dropped for
# event_id % 97 == 0) to prove the split path with non-degenerate counts.

_DEADLETTER_SQL = """
WITH mangled AS (
    SELECT event_id, event_type,
           CASE WHEN event_id % 97 = 0
                THEN substr(props, 1, length(props) - 1)
                ELSE props END AS props
    FROM events
),
classified AS (
    -- "ok" = the typed field survives the parse, matching Spark's
    -- permissive from_json (struct-of-nulls on malformed input, so the
    -- struct itself is non-null and only the FIELD signals failure)
    SELECT event_type,
           CASE WHEN json_valid(props)
                THEN try_cast(json_extract_string(props, '$.k') AS INTEGER)
                     IS NOT NULL
                ELSE false END AS ok
    FROM mangled
)
SELECT event_type,
       count(*) AS n_events,
       count(*) FILTER (WHERE ok) AS n_ok,
       count(*) FILTER (WHERE NOT ok) AS n_dead,
       round(count(*) FILTER (WHERE NOT ok) * 100.0 / count(*), 4) AS dead_pct
FROM classified
GROUP BY event_type
"""


@register("events_json_deadletter", oracle=_DEADLETTER_SQL,
          tags=("S2", "deadletter", "from_json"))
def events_json_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter accounting for the JSON decode: rows whose payload
    fails the explicit-schema parse (from_json → null struct) are counted
    per event type instead of silently passing through as nulls — the
    capability gap SURVEY.md §1.2 flags in the reference. Pure map +
    single agg shuffle; at scale the same classifier column routes the
    writer into main/dead-letter outputs (partitionBy on the flag)."""
    ev = _events(spark, sf_dir)
    mangled = F.when(
        F.col("event_id") % 97 == 0,
        F.expr("substr(props, 1, length(props) - 1)"),
    ).otherwise(F.col("props"))
    # permissive from_json yields a struct of nulls on malformed input
    # (never a null struct), so failure is detected on the typed field
    ok = F.from_json(mangled, "k INT")["k"].isNotNull()
    return (
        ev.select("event_type", ok.alias("ok"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("ok"), 1)).alias("n_ok"),
            F.count(F.when(~F.col("ok"), 1)).alias("n_dead"),
            F.round(F.count(F.when(~F.col("ok"), 1)) * 100.0 / F.count("*"), 4).alias(
                "dead_pct"
            ),
        )
    )


_PROPS_MAP_SQL = """
WITH kv AS (
    -- json_valid guard: ::JSON RAISES on malformed input in DuckDB;
    -- Spark's from_json yields NULL and explode() then emits no rows,
    -- so both engines must treat broken/NULL props as zero kv pairs
    SELECT e.event_type,
           k.key,
           json_extract_string(e.props::JSON, '$.' || k.key) AS val
    FROM (SELECT * FROM events WHERE json_valid(props)) e,
         unnest(json_keys(e.props::JSON)) AS k(key)
)
SELECT event_type, key,
       count(*) AS n,
       count(DISTINCT val) AS n_distinct_values,
       round(min(TRY_CAST(val AS DOUBLE)), 4) AS min_numeric,
       round(max(TRY_CAST(val AS DOUBLE)), 4) AS max_numeric
FROM kv
GROUP BY event_type, key
"""


@register("event_props_map_profile", oracle=_PROPS_MAP_SQL, tags=("F13", "map", "governance"))
def event_props_map_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema discovery: parse the props JSON into a
    MAP<STRING,STRING> with from_json (keys need not be known in
    advance), explode the map, and profile every discovered key per event
    type — cardinality and numeric range. The governance pass run before
    promoting a semi-structured column to typed columns; MAP explode +
    one hash agg, no UDFs, scales as a single shuffle on the
    (event_type, key) grid."""
    ev = _events(spark, sf_dir)
    kv = ev.select(
        "event_type",
        F.explode(F.from_json("props", "map<string,string>")).alias("key", "val"),
    )
    # try_cast, not cast: under ANSI mode (session default) a plain CAST
    # throws CAST_INVALID_INPUT on any non-numeric props value; the oracle's
    # TRY_CAST yields NULL — match that so fixture regeneration with mixed
    # value types can't desync the two sides.
    num = F.col("val").try_cast("double")
    return kv.groupBy("event_type", "key").agg(
        F.count("*").alias("n"),
        F.countDistinct("val").alias("n_distinct_values"),
        F.round(F.min(num), 4).alias("min_numeric"),
        F.round(F.max(num), 4).alias("max_numeric"),
    )


# ---------------------------------------------------------------------------
# incremental view maintenance: merge a stored partial-aggregate state with
# a late-arriving batch and land on EXACTLY the full recompute


@register("hourly_metrics_incremental", oracle=_HOURLY_SQL,
          tags=("A4", "incremental", "ivm"))
def hourly_metrics_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of ``hourly_metrics``: 80% of events play
    the role of an already-materialized aggregate STATE, the other 20% a
    late batch; both are reduced to (hour, user) PARTIALS (counts / sums —
    every merge-safe statistic), unioned, merged by key, and only then
    collapsed to the hourly grain. ``count(DISTINCT user_id)`` — the one
    non-mergeable statistic in the view — survives because the partial
    grain keys by user: after the merge each (hour, user) contributes
    exactly one row, so the final distinct is a plain ``count(*)``.

    The oracle is the FULL recompute: incremental maintenance is only
    correct if state ∪ batch re-aggregates to the identical view. Scale
    shape: at 100 TB the state side is a stored table (never rescanned
    from raw events); here both sides derive from the same scan split by
    a deterministic key. Union of co-keyed partials merges in one
    shuffle; the final hour-grain agg is a second — the price of distinct
    correctness under increments."""
    ev = _events(spark, sf_dir)

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_timestamp"),
            F.col("user_id"),
        ).agg(
            F.count("*").alias("total_events"),
            _cond_count("view").alias("page_views"),
            _cond_count("click").alias("cart_additions"),
            _cond_count("purchase").alias("purchases"),
            F.sum(
                F.when(_is("purchase"), F.col("value")).otherwise(F.lit(0.0))
            ).alias("revenue"),
        )

    state = partials(ev.filter(F.col("event_id") % 10 < 8))
    batch = partials(ev.filter(F.col("event_id") % 10 >= 8))
    merged = (
        state.unionByName(batch)
        .groupBy("hour_timestamp", "user_id")
        .agg(
            F.sum("total_events").alias("total_events"),
            F.sum("page_views").alias("page_views"),
            F.sum("cart_additions").alias("cart_additions"),
            F.sum("purchases").alias("purchases"),
            F.sum("revenue").alias("revenue"),
        )
    )
    out = merged.groupBy("hour_timestamp").agg(
        F.sum("total_events").alias("total_events"),
        # count(user_id), not count(*): the merged grain has one row per
        # (hour, user) INCLUDING a NULL-user group, and the full-recompute
        # oracle's count(DISTINCT user_id) ignores NULLs — counting the
        # column (NULL-skipping) keeps increment and recompute identical
        F.count("user_id").alias("unique_users"),
        F.sum("page_views").alias("page_views"),
        F.sum("cart_additions").alias("cart_additions"),
        F.sum("purchases").alias("purchases"),
        F.round(F.sum("revenue"), 2).alias("revenue"),
    )
    return _finish_hourly(out)


# ---------------------------------------------------------------------------
# session path analysis: the top click-paths report — which ordered
# event-type sequences dominate, and how much traffic each carries

PATH_TOP = 20

_PATHS_SQL = f"""
{_SESS_CTE},
paths AS (
    SELECT session_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM sessionized
    GROUP BY session_id
),
counts AS (SELECT path, count(*) AS n_sessions FROM paths GROUP BY path),
ranked AS (
    SELECT path, n_sessions,
           row_number() OVER (ORDER BY n_sessions DESC, path) AS path_rank,
           sum(n_sessions) OVER () AS total
    FROM counts
)
SELECT path_rank, path, n_sessions,
       round(n_sessions / total, 6) AS share
FROM ranked WHERE path_rank <= {PATH_TOP}
"""


@register("session_event_paths", oracle=_PATHS_SQL, tags=("sessionize", "paths", "topk"))
def session_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top ordered event-type paths across sessions ('view>click>purchase'
    style), with session counts and traffic share — the path-analysis
    report behind funnel design, built on the same deterministic
    sessionizer as session_metrics.

    Scale shape: the ordered path assembles per session via
    array_sort(collect_list(struct)) INSIDE the session-key agg (the
    sessionizer's user_id exchange already co-locates each session, and
    AQE coalesces the reuse), then path counting collapses to path
    cardinality; rank + share run on the tiny top-path grid in one
    single-partition window."""
    ev = with_session_id(_events(spark, sf_dir))
    paths = ev.groupBy("session_id").agg(
        F.concat_ws(
            ">",
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, event_type))),"
                " s -> s.event_type)"
            ),
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    w_rank = Window.orderBy(F.desc("n_sessions"), "path")
    w_all = Window.partitionBy()
    return (
        counts.select(
            F.row_number().over(w_rank).alias("path_rank"),
            "path",
            "n_sessions",
            F.round(F.col("n_sessions") / F.sum("n_sessions").over(w_all), 6).alias(
                "share"
            ),
        )
        .filter(F.col("path_rank") <= PATH_TOP)
    )
