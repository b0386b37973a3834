"""batch_pipeline: untimed warm passes, then timed passes over a frozen
list of registry jobs on seeded fixtures.

Most of the work is shuffles and eager checkpoints in the plans and the
stored-index operators; the list puts each store build beside the probe
that reuses it, so a kernel, shuffle or store change shows here and not
in ingest_live. Each job's collected rows are checked against its DuckDB
oracle (order-insensitive), or for rows > 0 where it has none.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import fixtures
import harness

SF = 0.05  # sized so a run, warm pass included, takes about a minute on 4 cores
# Frozen by name, so a later headline-flag edit cannot change the work.
# The two stored-index jobs build their stores (operators.dedup_index band
# tables, operators.bm25_index postings) on the warm pass and only probe
# them on the timed passes; q1 is the relational scan-and-aggregate.
JOBS = (
    "q1_pricing_summary",
    "dedup_stored_probe_only",
    "bm25_stored_probe_only",
)
# Pass times keep falling for several passes while the JVM compiles the
# hot paths (on 4 cores about 6.5, 4.9, 4.2, 3.9, 3.8, 3.7 s, then a slow
# drift). The first warm pass builds the stores; after three warm passes
# the timed passes fall by only a few percent each, and the 16 s timed
# phase holds three or four of them.
WARM_PASSES = 3
MIN_PASSES = 3
STORE_WRITES = {
    "bm25_index": (
        "build_postings_index", "append_to_postings_index",
        "erase_from_postings_index", "apply_erasures",
    ),
    "dedup_index": (
        "build_band_index", "append_to_band_index", "build_band_index_tables",
        "append_to_band_index_tables", "erase_from_band_index_tables", "apply_band_erasures",
    ),
}
STORE_PROBES = {
    "bm25_index": ("probe_postings_index",),
    "dedup_index": ("probe_band_index", "probe_band_index_tables"),
}


class Oracles:
    """DuckDB over the same fixture files, one result per job."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")
        from e_commerce_click_stream_spark.io import TABLES

        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'"
            )
        self._cache: dict[str, tuple] = {}

    def expected(self, name: str, sql: str):
        if name not in self._cache:
            rel = self.con.sql(sql)
            self._cache[name] = (list(rel.columns), rel.fetchall())
        return self._cache[name]


def check(spec, columns, rows, oracles: Oracles) -> str | None:
    """None when the rows are right, else a one-line reason."""
    from tests.compare import _normalize

    if spec.oracle is None:
        return None if rows else f"{spec.name}: no rows"
    got = _normalize(columns, rows)
    want = _normalize(*oracles.expected(spec.name, spec.oracle))
    if got[0] != want[0]:
        return f"{spec.name}: columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"{spec.name}: {len(got[1])} rows != {len(want[1])}"
    return None if got[1] == want[1] else f"{spec.name}: values differ from the oracle"


class Instruments:
    """Traced-run boundaries inside the builders: io.table and the
    public store write/probe functions, wrapped from outside."""

    def __init__(self, tracer: harness.Tracer):
        import importlib

        from e_commerce_click_stream_spark import io

        self.tracer = tracer
        harness.patch_everywhere(io.table, tracer.wrap("io", "io.table", io.table))
        for groups, layer in ((STORE_WRITES, "store.write"), (STORE_PROBES, "store.probe")):
            for mod_name, fns in groups.items():
                mod = importlib.import_module(f"e_commerce_click_stream_spark.operators.{mod_name}")
                for fn in fns:
                    orig = getattr(mod, fn)
                    harness.patch_everywhere(orig, tracer.wrap(layer, fn, orig))

    def seconds(self, layer: str) -> float:
        return sum(s.end - s.start for s in self.tracer.spans if s.layer == layer)


def _run_job(spark, spec, sf_dir, tracer, request):
    """Build, then execute and collect one job; returns (build_s, exec_s,
    columns, rows)."""
    with tracer.span("job", spec.name, request):
        t0 = time.monotonic()
        with tracer.span("plans", "build"):
            df = spec.builder(spark, sf_dir)
        t1 = time.monotonic()
        with tracer.span("execute", "collect"):
            rows = [tuple(r) for r in df.collect()]
        t2 = time.monotonic()
    return t1 - t0, t2 - t1, list(df.columns), rows


def run(args, run_: harness.Run, tracer: harness.Tracer, t_process: float) -> dict:
    from bench import _cpu_ticks, _host_load, _release_blocks
    from e_commerce_click_stream_spark.plans.registry import all_specs
    from e_commerce_click_stream_spark.session import get_spark

    outcomes = harness.Outcomes()
    sf_dir = run_.dir("data")
    rows_in = fixtures.write_fixtures(sf_dir, SF, args.seed)
    specs = all_specs()
    oracles = Oracles(sf_dir)
    # the oracles compute while the JVM starts; DuckDB releases the GIL
    with ThreadPoolExecutor(1) as pool:
        pending = [
            pool.submit(oracles.expected, n, specs[n].oracle) for n in JOBS if specs[n].oracle
        ]
        t = time.monotonic()
        spark = get_spark(app_name="perfbench-batch", extra_conf=run_.spark_conf())
        get_spark_s = time.monotonic() - t
        for f in pending:
            f.result()
    sc = spark.sparkContext
    inst = Instruments(tracer) if tracer.enabled else None

    # warm passes, untimed: the first builds the stores (the probe-only
    # jobs' cold-start branch); all of them fill JIT and footer caches
    first_job_s = None
    for k in range(WARM_PASSES):
        for name in JOBS:
            _release_blocks(spark)
            b, e, cols, rows = _run_job(spark, specs[name], sf_dir, tracer, f"{name}:warm{k}")
            first_job_s = first_job_s or b + e
            reason = check(specs[name], cols, rows, oracles)
            outcomes.record(reason is None, reason)
    setup_s = time.monotonic() - t_process

    cpu0 = _cpu_ticks()
    gc0 = harness.jvm_gc_s(spark)
    passes: list[float] = []
    per_job: dict[str, list[tuple]] = {n: [] for n in JOBS}  # (build, exec, jobs, tasks, failed)
    t_measure = time.monotonic()
    # start another pass only while it fits in --seconds, going by the last
    while len(passes) < MIN_PASSES or (
        time.monotonic() - t_measure + passes[-1] <= args.seconds
    ):
        pass_s = 0.0
        for name in JOBS:
            _release_blocks(spark)
            group = f"perfbench-{name}-{len(passes)}"
            sc.setJobGroup(group, group)
            b, e, cols, rows = _run_job(
                spark, specs[name], sf_dir, tracer, f"{name}:{len(passes)}"
            )
            sc.setJobGroup(None, None)
            reason = check(specs[name], cols, rows, oracles)
            outcomes.record(reason is None, reason)
            jobs, tasks, failed = harness.job_counts(sc, group) if tracer.enabled else (0, 0, 0)
            per_job[name].append((b, e, jobs, tasks, failed))
            pass_s += b + e
        passes.append(pass_s)
    host = _host_load(cpu0)
    gc_s = harness.jvm_gc_s(spark) - gc0
    # The job list is far too short for a sampled tail, so neither latency
    # figure is a percentile: both are the mean job call of the median pass.
    # They, events_per_s and queries_per_s are job_s rescaled, printed only
    # because every workload reports every end-to-end metric.
    per_job_s = [harness.median([b + e for b, e, *_ in runs]) for runs in per_job.values()]
    job_s = harness.median(passes)
    peak_rss = harness.jvm_peak_rss_mb(spark)
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (job_s / len(JOBS), "s"),
        "latency_p90_s": (job_s / len(JOBS), "s"),
        "events_per_s": (sum(rows_in.values()) / job_s, "events/s"),
        "queries_per_s": (len(JOBS) / job_s, "queries/s"),
        "job_s": (job_s, "s"),
        "peak_rss_mb": (peak_rss, "MiB"),
    }
    info = {
        "session": harness.session_info(spark),
        "host": host,
        "sf": SF,
        "input_rows": rows_in,
        "passes": passes,
        "job_medians_s": dict(zip(JOBS, per_job_s)),
        "calls": {n: [round(b + e, 4) for b, e, *_ in runs] for n, runs in per_job.items()},
    }
    med = harness.median
    flat = [r for runs in per_job.values() for r in runs]
    layers = {
        "session.get_spark_s": get_spark_s,
        "session.first_job_s": first_job_s,
        "plan.build_ms_p50": 1000 * med([b for b, *_ in flat]),
        "plan.execute_ms_p50": 1000 * med([e for _, e, *_ in flat]),
        "spark.jobs_per_op": sum(r[2] for r in flat) / len(flat),
        "spark.tasks_per_op": sum(r[3] for r in flat) / len(flat),
        "spark.failed_tasks": sum(r[4] for r in flat),
        "jvm.gc_s": gc_s,
    }
    if inst:
        for name, runs in per_job.items():
            layers[f"job.{name}.build_s"] = med([r[0] for r in runs])
            layers[f"job.{name}.execute_s"] = med([r[1] for r in runs])
            layers[f"job.{name}.tasks"] = med([r[3] for r in runs])
        layers["store.write_s"] = inst.seconds("store.write")
        layers["store.probe_s"] = inst.seconds("store.probe")
        layers["io.table_ms_total"] = 1000 * inst.seconds("io")
    return {"outcomes": outcomes, "metrics": metrics, "layers": layers, "info": info}

