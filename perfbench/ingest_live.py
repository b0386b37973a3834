"""ingest_live: the pipeline's own purpose, as an open loop.

A separate generator process (``loadgen.py``) lands one small parquet file
per tick at a fixed event rate; this process runs the source and the
three-query fan-out that ``processor.main`` wires (hourly append, sessions
append, dashboard complete -> ``sinks.writers.overwrite_snapshot``) on a
fixed short processing-time trigger. After the steady phase the generator
lands ``BURSTS`` large bursts, one at a time, each once every query is
idle. The steady phase measures the fixed cost of each micro-batch, the
bursts the cost of each event.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import harness
import streams

STEADY_FILES = 100  # the steady phase's files: ten beyond its p90
# bursts per run; the drain is their median (of two, the mean), so no
# single burst sets the figure
BURSTS = 2
TRIGGER = "500 milliseconds"
QUERIES = ("hourly", "sessions", "dashboard")
DRAIN_TIMEOUT_S = 30.0
POLL_S = 0.1  # polling the checkpoints more often only takes cores from the queries
HLL_MAX_REL_ERR = 0.15  # 3 x the 5% relative standard deviation of approx_count_distinct


class LoadGen:
    """The generator process, driven one command at a time."""

    def __init__(self, seed: int, src: str, manifest: str, seconds: float):
        self.manifest = manifest
        self.proc = subprocess.Popen(
            [
                sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
                "--seed", str(seed), "--src", src, "--manifest", manifest,
                "--tick", str(seconds / STEADY_FILES), "--seconds", str(seconds),
            ],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def wait(self, cmd: str) -> None:
        if self.proc.stdout.readline().strip() != "done":
            raise RuntimeError(f"load generator failed on {cmd!r}")

    def __call__(self, cmd: str) -> None:
        self.send(cmd)
        self.wait(cmd)

    def records(self) -> list[dict]:
        with open(self.manifest) as f:
            return [json.loads(line) for line in f if line.strip()]

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.close()
                self.proc.wait(timeout=10)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


class Pipeline:
    """The processor's source and three-query fan-out, with the dashboard
    sink call timed from outside."""

    def __init__(self, spark, src: str, root: str):
        from e_commerce_click_stream_spark import processor
        from e_commerce_click_stream_spark.sinks.writers import overwrite_snapshot
        from e_commerce_click_stream_spark.streaming import jobs

        self.root = root
        self.sink_calls: list[tuple[int, float, float]] = []  # (batch, start, end)
        lock = threading.Lock()

        def snapshot(df, batch_id):
            t0 = time.monotonic()
            overwrite_snapshot(df, os.path.join(root, "dashboard_metrics"))
            with lock:
                self.sink_calls.append((batch_id, t0, time.monotonic()))

        self.build_s: list[float] = []
        t = time.monotonic()
        events = processor._normalized_stream(spark, src)
        self.build_s.append(time.monotonic() - t)
        frames = {}
        for name, build in (
            ("hourly", jobs.hourly_metrics_stream),
            ("sessions", jobs.session_window_metrics_stream),
            ("dashboard", jobs.dashboard_metrics_stream),
        ):
            t = time.monotonic()
            frames[name] = build(events)
            self.build_s.append(time.monotonic() - t)

        def writer(name, mode):
            return (
                frames[name].writeStream.outputMode(mode)
                .option("checkpointLocation", self.checkpoint(name))
                .trigger(processingTime=TRIGGER)
            )

        self.queries = {
            "hourly": writer("hourly", "append").format("parquet")
            .option("path", os.path.join(root, "hourly_metrics")).start(),
            "sessions": writer("sessions", "append").format("parquet")
            .option("path", os.path.join(root, "session_metrics")).start(),
            "dashboard": writer("dashboard", "complete").foreachBatch(snapshot).start(),
        }
        self.logs = {q: streams.SourceLog(self.checkpoint(q)) for q in QUERIES}

    def checkpoint(self, name: str) -> str:
        return os.path.join(self.root, "_checkpoints", name)

    def failed(self) -> list[str]:
        return [f"{q}: {s.exception()}" for q, s in self.queries.items() if s.exception()]

    def committed_by_all(self, names: set[str]) -> bool:
        for q in QUERIES:
            files = self.logs[q].refresh()
            upto = streams.committed_log_offset(self.checkpoint(q))
            if any(files.get(n, upto + 1) > upto for n in names):
                return False
        return True

    def wait_committed(self, names: set[str], timeout: float) -> bool:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.committed_by_all(names):
                return True
            if self.failed():
                return False
            time.sleep(POLL_S)
        return False

    def wait_batch_after(self, q: str, batch: int, timeout: float) -> bool:
        """Wait until query ``q`` has executed a batch after ``batch`` (the
        no-data batch that emits windows the watermark closed)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            lp = self.queries[q].lastProgress
            if lp and lp["batchId"] > batch and "addBatch" in (lp.get("durationMs") or {}):
                return True
            time.sleep(POLL_S)
        return False

    def wait_idle(self, timeout: float) -> None:
        """Let in-flight batches finish, so stopping interrupts none."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline and any(
            s.status["isTriggerActive"] for s in self.queries.values()
        ):
            time.sleep(POLL_S)

    def progress(self) -> dict[str, list[dict]]:
        return {q: [json.loads(p.json) for p in s.recentProgress] for q, s in self.queries.items()}

    def stop(self) -> None:
        for s in self.queries.values():
            s.stop()


def _burst(pipeline, gen, timeout: float) -> dict:
    """Once no query has a batch in flight, land one burst, wait for all
    three queries to commit it, and return its manifest record."""
    pipeline.wait_idle(timeout)
    gen("burst")
    burst = gen.records()[-1]
    pipeline.wait_committed({burst["file"]}, timeout)
    return burst


def run(args, run_: harness.Run, tracer: harness.Tracer, t_process: float) -> dict:
    from bench import _cpu_ticks, _host_load
    from e_commerce_click_stream_spark.session import get_spark

    outcomes = harness.Outcomes()
    src, root = run_.dir("data"), run_.dir("out")
    manifest = os.path.join(run_.root, "manifest.jsonl")
    gen = LoadGen(args.seed, src, manifest, args.seconds)
    try:
        gen.send("warm")  # the processor's schema probe needs one file
        t = time.monotonic()
        spark = get_spark(app_name="perfbench-ingest", extra_conf=run_.spark_conf())
        get_spark_s = time.monotonic() - t
        gen.wait("warm")
        pipeline = Pipeline(spark, src, root)
        t = time.monotonic()
        first = {r["file"] for r in gen.records()}
        if not pipeline.wait_committed(first, DRAIN_TIMEOUT_S):
            raise RuntimeError(f"stream warm-up never committed: {pipeline.failed()}")
        first_job_s = time.monotonic() - t
        setup_s = time.monotonic() - t_process
        cpu0 = _cpu_ticks()
        gc0 = harness.jvm_gc_s(spark)

        gen("steady")
        records = gen.records()
        steady = [r for r in records if r["kind"] == "steady"]
        pipeline.wait_committed({r["file"] for r in records}, DRAIN_TIMEOUT_S)
        bursts = [_burst(pipeline, gen, DRAIN_TIMEOUT_S) for _ in range(BURSTS)]
        records = gen.records()
        hourly_done = pipeline.wait_batch_after(
            "hourly", pipeline.queries["hourly"].lastProgress["batchId"], 10.0
        )
        host = _host_load(cpu0)
        gc_s = harness.jvm_gc_s(spark) - gc0
        pipeline.wait_idle(10.0)
        progress = pipeline.progress()
        failures = pipeline.failed()
        pipeline.stop()
        peak_rss = harness.jvm_peak_rss_mb(spark)
        info = {"session": harness.session_info(spark), "host": host}

        offset = streams.wall_to_mono()
        batches = {q: streams.executed_batches(progress[q], offset) for q in QUERIES}
        per_q = [streams.file_batches(pipeline.logs[q].refresh(), batches[q]) for q in QUERIES]
        lat = streams.file_latencies({r["file"]: r["created"] for r in records}, per_q)

        for r in records:
            outcomes.record(lat[r["file"]] is not None, f"{r['file']} never committed")
        for f in failures:
            outcomes.fail(f"stream query failed: {f}")
        _check_outputs(spark, src, root, records, hourly_done, outcomes)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for q in QUERIES for b in batches[q] for op in b["progress"].get("stateOperators", [])
        )
        outcomes.record(dropped == 0, f"{dropped} rows dropped by the watermark")

        samples = [lat[r["file"]] for r in steady if lat[r["file"]] is not None]
        if not samples:
            raise RuntimeError("no steady file was committed")
        if not harness.tail_supported(len(samples)):
            outcomes.fail(f"{len(samples)} latency samples cannot support p90")
        lag_max = max(r["created"] - r["due"] for r in steady)
        if lag_max > args.seconds / STEADY_FILES:
            outcomes.fail(f"generator ran {lag_max:.3f} s late, more than a tick")
        drains = [lat[b["file"]] for b in bursts]
        drain_s = harness.median(drains) if None not in drains else None
        burst_events = bursts[0]["events"]  # every burst is BURST_EVENTS large
        # micro-batches per second a query sustains: one over the median
        # trigger time of the batches that carried steady files, summed
        # over the three queries
        steady_names = [r["file"] for r in steady]
        batch_rate = sum(
            1000.0 / harness.median(
                [
                    b["progress"]["durationMs"]["triggerExecution"]
                    for b in streams.batches_carrying(fb, steady_names)
                ]
            )
            for fb in per_q
        )
        metrics = {
            "setup_s": (setup_s, "s"),
            "latency_p50_s": (harness.median(samples), "s"),
            "latency_p90_s": (harness.percentile(samples, harness.TAIL_Q), "s"),
            "events_per_s": (burst_events / drain_s if drain_s else 0.0, "events/s"),
            "queries_per_s": (batch_rate, "queries/s"),
            "job_s": (drain_s or 0.0, "s"),
            "peak_rss_mb": (peak_rss, "MiB"),
        }
        layers = _layers(batches, per_q, pipeline, lag_max)
        layers.update(
            {
                "session.get_spark_s": get_spark_s,
                "session.first_job_s": first_job_s,
                "plan.build_ms_p50": 1000 * harness.median(pipeline.build_s),
                "jvm.gc_s": gc_s,
            }
        )
        info.update(
            samples=len(samples), steady_files=len(steady), burst_events=burst_events,
            drains=drains,
        )
        if tracer.enabled:
            _trace(tracer, batches, per_q, records, pipeline)
            layers.update(_job_counts(spark, pipeline, batches))
            spark.stop()
            layers["single_core.events_per_s"] = _single_core(args, run_)
        return {"outcomes": outcomes, "metrics": metrics, "layers": layers, "info": info}
    finally:
        gen.close()


def _check_outputs(spark, src, root, records, hourly_done, outcomes) -> None:
    """Final dashboard snapshot against the manifest totals, and every
    closed hourly window against a DuckDB recompute over the files."""
    import duckdb

    total_events = sum(r["events"] for r in records)
    total_revenue = sum(r["revenue"] for r in records)
    snap = spark.read.parquet(os.path.join(root, "dashboard_metrics")).collect()
    ok = len(snap) == 1 and snap[0]["total_events"] == total_events and abs(
        snap[0]["total_revenue"] - total_revenue
    ) <= 0.01 + 1e-9 * abs(total_revenue)
    outcomes.record(ok, f"dashboard snapshot {snap} != manifest ({total_events}, {total_revenue})")

    outcomes.record(hourly_done, "hourly query ran no batch after the bursts")
    hourly = {
        r["hour_timestamp"]: r.asDict()
        for r in spark.read.parquet(os.path.join(root, "hourly_metrics")).collect()
    }
    outcomes.record(bool(hourly), "no hourly window closed")
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET enable_progress_bar = false")
    expect = con.execute(
        f"""
        SELECT time_bucket(INTERVAL 1 HOUR, timestamp) AS h,
               count(*) AS total_events,
               count(DISTINCT user_id) AS users,
               count(*) FILTER (event_type = 'page_view') AS page_views,
               count(*) FILTER (event_type = 'add_to_cart') AS cart_additions,
               count(*) FILTER (event_type = 'purchase') AS purchases,
               round(sum(CASE WHEN event_type = 'purchase' THEN purchase_amount ELSE 0 END), 2)
                 AS revenue
        FROM read_parquet('{src}/*.parquet') GROUP BY 1
        """
    ).fetchall()
    con.close()
    by_hour = {row[0]: row for row in expect}
    for h, got in hourly.items():
        want = by_hour.get(h.replace(tzinfo=None) if h.tzinfo else h)
        if want is None:
            outcomes.record(False, f"hourly window {h} has no events")
            continue
        _, n, users, views, carts, buys, revenue = want
        conv = round(buys * 100.0 / views, 2) if views else 0.0
        ok = (
            (got["total_events"], got["page_views"], got["cart_additions"], got["purchases"])
            == (n, views, carts, buys)
            and abs(got["revenue"] - revenue) <= 0.011
            and abs(got["conversion_rate"] - conv) <= 0.011
            and abs(got["approx_unique_users"] - users) <= HLL_MAX_REL_ERR * users
        )
        outcomes.record(ok, f"hourly window {h}: {got} != {want}")


def _layers(batches, per_q, pipeline, lag_max) -> dict[str, float]:
    med = harness.median
    out: dict[str, float] = {}
    backlog = 0
    for q, fb in zip(QUERIES, per_q):
        bs = batches[q]
        dur = [b["progress"]["durationMs"] for b in bs]
        out[f"stream.{q}.batches"] = len(bs)
        out[f"stream.{q}.trigger_ms_p50"] = med([d["triggerExecution"] for d in dur])
        out[f"stream.{q}.add_batch_ms_p50"] = med([d.get("addBatch", 0) for d in dur])
        out[f"stream.{q}.planning_ms_p50"] = med([d.get("queryPlanning", 0) for d in dur])
        out[f"stream.{q}.commit_ms_p50"] = med(
            [d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]
        )
        out[f"source.{q}.list_ms_p50"] = med(
            [d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur]
        )
        per_batch: dict[int, int] = {}
        for b in fb.values():
            per_batch[b["batch"]] = per_batch.get(b["batch"], 0) + 1
        backlog = max([backlog, *per_batch.values()])
        ops = [op for b in bs for op in b["progress"].get("stateOperators", [])]
        if ops:
            last = bs[-1]["progress"]["stateOperators"]
            out[f"state.{q}.rows_total"] = sum(op["numRowsTotal"] for op in last)
            out[f"state.{q}.memory_bytes"] = max(op["memoryUsedBytes"] for op in ops)
            out[f"state.{q}.commit_ms_p50"] = med([op["commitTimeMs"] for op in ops])
            out[f"state.{q}.rows_dropped_by_watermark"] = sum(
                op.get("numRowsDroppedByWatermark", 0) for op in ops
            )
    out["source.backlog_files_max"] = backlog
    out["sink.overwrite_snapshot_ms_p50"] = 1000 * med([e - s for _, s, e in pipeline.sink_calls])
    out["gen.lag_ms_max"] = 1000 * lag_max
    out["plan.execute_ms_p50"] = med(
        [b["progress"]["durationMs"]["addBatch"] for q in QUERIES for b in batches[q]]
    )
    return out


def _trace(tracer, batches, per_q, records, pipeline) -> None:
    """Rebuild spans per generated file: generator wait, then per query the
    wait for a trigger and the batch, with the batch's phases laid out
    from its progress durations and the timed sink call inside addBatch."""
    sinks = {b: (s, e) for b, s, e in pipeline.sink_calls}
    phases = (
        ("source", "latestOffset"), ("commit", "walCommit"), ("source", "getBatch"),
        ("plan", "queryPlanning"), ("execute", "addBatch"), ("commit", "commitOffsets"),
    )
    for r in records:
        fb_all = [fb.get(r["file"]) for fb in per_q]
        end = max((b["commit"] for b in fb_all if b), default=r["created"])
        root = tracer.add("e2e", "file", r["file"], r["due"], end)
        tracer.add("gen", "write", r["file"], r["due"], r["created"], root)
        for q, b in zip(QUERIES, fb_all):
            if b is None:
                continue
            waited = max(r["created"], b["start"])
            tracer.add("wait", f"{q}.wait", r["file"], r["created"], waited, root)
            bid = tracer.add("stream", f"{q}.batch", r["file"], b["start"], b["commit"], root)
            t = b["start"]
            dur = b["progress"]["durationMs"]
            for layer, key in phases:
                d = dur.get(key, 0) / 1000.0
                pid = tracer.add(layer, f"{q}.{key}", r["file"], t, t + d, bid)
                if q == "dashboard" and key == "addBatch" and b["batch"] in sinks:
                    s, e = sinks[b["batch"]]
                    tracer.add("sinks", "overwrite_snapshot", r["file"], s, e, pid)
                t += d


def _job_counts(spark, pipeline, batches) -> dict[str, float]:
    """Spark jobs and tasks per micro-batch: a stream runs its jobs under
    its run id as job group."""
    sc = spark.sparkContext
    counts = [harness.job_counts(sc, str(s.runId)) for s in pipeline.queries.values()]
    n = sum(len(b) for b in batches.values())
    return {
        "spark.jobs_per_op": sum(c[0] for c in counts) / n,
        "spark.tasks_per_op": sum(c[1] for c in counts) / n,
        "spark.failed_tasks": sum(c[2] for c in counts),
    }


def _single_core(args, run_: harness.Run) -> float:
    """The burst again, on a fresh ``local[1]`` session and pipeline."""
    from e_commerce_click_stream_spark.session import get_spark

    src = os.path.join(run_.root, "single", "data")
    root = os.path.join(run_.root, "single", "out")
    gen = LoadGen(args.seed, src, os.path.join(run_.root, "single.jsonl"), args.seconds)
    try:
        gen("warm")
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        spark = get_spark(app_name="perfbench-ingest-1core", extra_conf=run_.spark_conf())
        pipeline = Pipeline(spark, src, root)
        pipeline.wait_committed({r["file"] for r in gen.records()}, DRAIN_TIMEOUT_S)
        burst = _burst(pipeline, gen, 2 * DRAIN_TIMEOUT_S)
        pipeline.wait_idle(10.0)
        pipeline.stop()
        offset = streams.wall_to_mono()
        per_q = [
            streams.file_batches(
                pipeline.logs[q].refresh(),
                streams.executed_batches([json.loads(p.json) for p in s.recentProgress], offset),
            )
            for q, s in pipeline.queries.items()
        ]
        lat = streams.file_latencies({burst["file"]: burst["created"]}, per_q)[burst["file"]]
        return burst["events"] / lat if lat else 0.0
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = str(run_.cpus)
        gen.close()
