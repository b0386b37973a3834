"""End-to-end producer → processor CLI wiring: generate staged event
batches, drain them with the processor in available-now mode, and check
the three analytics outputs against batch recomputation."""

from __future__ import annotations

import os
import tempfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def pipeline_dirs(spark):
    stage = tempfile.mkdtemp(prefix="cli_stage_")
    out = tempfile.mkdtemp(prefix="cli_out_")
    env = {
        "PRODUCER_OUTPUT": stage,
        "PRODUCER_BATCHES": "2",
        "PRODUCER_BATCH_SESSIONS": "40",
        "PRODUCER_SLEEP_INTERVAL": "0",
        "CLICKSTREAM_SOURCE": stage,
        "CLICKSTREAM_OUTPUT": out,
        "CLICKSTREAM_TRIGGER": "available-now",
    }
    old = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        from e_commerce_click_stream_spark import processor, producer

        producer.main()
        processor.main()
    finally:
        for k, v in old.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    return stage, out


def test_processor_outputs_exist_and_are_consistent(spark, pipeline_dirs):
    stage, out = pipeline_dirs
    staged = spark.read.parquet(stage)
    n_events = staged.count()
    assert n_events > 0

    # dashboard snapshot = exact global KPIs over everything drained
    dash = spark.read.parquet(os.path.join(out, "dashboard_metrics")).collect()
    assert len(dash) == 1
    assert dash[0].total_events == n_events
    purchases = staged.filter(F.col("event_type") == "purchase")
    expected_rev = round(
        purchases.agg(F.sum("purchase_amount")).collect()[0][0] or 0.0, 2
    )
    assert abs(dash[0].total_revenue - expected_rev) < 0.01

    # hourly append: only watermark-closed windows emit; every emitted
    # window must match the batch recomputation for that hour
    hourly = spark.read.parquet(os.path.join(out, "hourly_metrics"))
    rows = {r.hour_timestamp: r for r in hourly.collect()}
    assert rows, "no hourly windows closed — replay should span > 1 hour"
    batch_hours = {
        r.h: r
        for r in staged.groupBy(F.date_trunc("hour", "timestamp").alias("h"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("p"),
        )
        .collect()
    }
    for hour, r in rows.items():
        assert r.total_events == batch_hours[hour].n, hour
        assert r.purchases == batch_hours[hour].p, hour

    # session append: emitted sessions are closed ones; spot-check totals
    sessions = spark.read.parquet(os.path.join(out, "session_metrics"))
    assert sessions.filter(F.col("total_events") <= 0).count() == 0
    assert sessions.count() > 0


def test_processor_single_file_fixture_replay(spark, monkeypatch):
    """The documented default source is a single parquet FILE (the events
    fixture) — the file streaming source requires a directory, so the
    processor must stage it; this is the regression path found by review."""
    out = tempfile.mkdtemp(prefix="cli_out_single_")
    monkeypatch.setenv(
        "CLICKSTREAM_SOURCE", os.path.join("/root/testdata/sf0.001", "events.parquet")
    )
    monkeypatch.setenv("CLICKSTREAM_OUTPUT", out)
    monkeypatch.setenv("CLICKSTREAM_TRIGGER", "available-now")
    from e_commerce_click_stream_spark import processor

    processor.main()
    dash = spark.read.parquet(os.path.join(out, "dashboard_metrics")).collect()
    n_events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert len(dash) == 1 and dash[0].total_events == n_events


def _sessions_path_is_a_file(out, monkeypatch):
    # the sessions sink cannot create its directory: its start() raises
    # while the hourly query is already running
    (out / "session_metrics").write_text("not a directory")
    return Py4JJavaError


def _hourly_batch_fails(out, monkeypatch):
    # the hourly query dies in its first micro-batch while the sessions and
    # dashboard queries run on
    from e_commerce_click_stream_spark import processor

    real = processor.hourly_metrics_stream
    monkeypatch.setattr(
        processor,
        "hourly_metrics_stream",
        lambda ev: real(ev.filter(F.raise_error(F.lit("boom")).isNull())),
    )
    return StreamingQueryException


@pytest.mark.parametrize("break_one", [_sessions_path_is_a_file, _hourly_batch_fails])
def test_processor_stops_every_query_when_one_fails(spark, monkeypatch, tmp_path, break_one):
    """Available-now mode: when one query fails, main re-raises only after
    stopping every query it started, so none outlives the processor."""
    from e_commerce_click_stream_spark import processor

    out = tmp_path / "out"
    out.mkdir()
    expected = break_one(out, monkeypatch)
    monkeypatch.setenv("CLICKSTREAM_SOURCE", os.path.join(SF_SMOKE, "events.parquet"))
    monkeypatch.setenv("CLICKSTREAM_OUTPUT", str(out))
    monkeypatch.setenv("CLICKSTREAM_TRIGGER", "available-now")
    with pytest.raises(expected):
        processor.main()
    assert spark.streams.active == []
