"""Shared machinery of the benchmark: run isolation and environment pinning,
in-memory tracing, percentile and failure accounting, and the result line.

Everything here is benchmark-side; the system under test is only ever
called through its public functions by the workload modules.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import os
import shutil
import sys
import time
import uuid
from dataclasses import dataclass, field

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(REPO_ROOT, ".perfbench_runs")
# Spark driver heap: far below get_spark's 16g default, which exceeds the
# 15 GiB of physical RAM of the 4-core reference host. Both workloads grow
# the heap to this cap, which keeps peak resident memory comparable from
# run to run: under a 2g cap, which they do not reach, ingest_live's peak
# ranged from 950 to 1490 MiB over ten runs.
DRIVER_MEM = "1g"
# The tail percentile every latency metric reports, and how many samples
# must lie beyond it for the figure to be supported by the run.
TAIL_Q = 0.90
MIN_BEYOND = 10


# --------------------------------------------------------------------------
# statistics


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q`` of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly beyond the nearest-rank
    ``q`` percentile."""
    return n - max(1, math.ceil(q * n)) if n else 0


def tail_supported(n: int, q: float = TAIL_Q, min_beyond: int = MIN_BEYOND) -> bool:
    """True when a run of ``n`` samples has ``min_beyond`` samples beyond
    its ``q`` percentile, the rule every reported tail must meet."""
    return beyond(n, q) >= min_beyond


def median(values) -> float:
    ordered = sorted(values)
    if not ordered:
        raise ValueError("median of no samples")
    mid = len(ordered) // 2
    return ordered[mid] if len(ordered) % 2 else (ordered[mid - 1] + ordered[mid]) / 2


# --------------------------------------------------------------------------
# failure accounting


@dataclass
class Outcomes:
    """Operations attempted and failed in one run. ``error_rate`` is
    failed / attempted; every failure keeps a one-line reason."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, ok: bool, reason: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(reason or "failed")
        return ok

    def fail(self, reason: str) -> None:
        """Count one attempted operation that failed."""
        self.record(False, reason)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# --------------------------------------------------------------------------
# tracing


@dataclass
class Span:
    id: int
    parent: int | None
    request: str
    layer: str
    name: str
    start: float
    end: float


class Tracer:
    """In-memory span recorder. Disabled, every call is a no-op, so the
    untraced runs that give the end-to-end figures pay nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._open: list[tuple[int, str]] = []  # (span id, request) of open spans

    def add(self, layer, name, request, start, end, parent=None) -> int | None:
        if not self.enabled:
            return None
        span = Span(next(self._ids), parent, str(request), layer, name, start, end)
        self.spans.append(span)
        return span.id

    @contextlib.contextmanager
    def span(self, layer: str, name: str, request=None, parent: int | None = None):
        """Time the body as one span and yield its id. Without an explicit
        parent or request, the innermost open span of this tracer supplies
        them, so calls nested inside a traced call become its children."""
        if not self.enabled:
            yield None
            return
        if self._open:
            parent = self._open[-1][0] if parent is None else parent
            request = self._open[-1][1] if request is None else request
        sid = next(self._ids)
        self._open.append((sid, str(request)))
        start = time.monotonic()
        try:
            yield sid
        finally:
            self._open.pop()
            self.spans.append(
                Span(sid, parent, str(request), layer, name, start, time.monotonic())
            )

    def wrap(self, layer: str, name: str, fn):
        """``fn`` with every call recorded as a span."""

        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: each span's duration minus the
        part of its interval that its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _covered(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, ())]
            )
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def patch_everywhere(fn, replacement) -> int:
    """Rebind every module-level reference to ``fn`` inside the package
    (the defining module and each ``from ... import`` site) to
    ``replacement``; returns how many were rebound. Functions imported
    inside a function body read the defining module at call time, so they
    see the replacement too."""
    n = 0
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("e_commerce_click_stream_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            if value is fn:
                setattr(mod, attr, replacement)
                n += 1
    return n


# --------------------------------------------------------------------------
# run isolation and environment


class Run:
    """One isolated run: private store namespace, temp, Spark-local,
    checkpoint, output and warehouse directories under the checkout, all
    removed by ``close``. Pins the environment the system reads."""

    def __init__(self, workload: str, seed: int):
        self.id = f"{workload}-{seed}-{uuid.uuid4().hex[:8]}"
        self.root = os.path.join(RUNS_DIR, self.id)
        self.cpus = len(os.sched_getaffinity(0))
        for sub in ("tmp", "spark-local", "warehouse", "data", "out"):
            os.makedirs(self.dir(sub), exist_ok=True)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_GRAFT_STORE_NS=self.id.replace("-", "_"),
            SPARK_LOCAL_DIRS=self.dir("spark-local"),
            TMPDIR=self.dir("tmp"),
            PYTHONPATH=os.pathsep.join(
                p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def dir(self, sub: str) -> str:
        return os.path.join(self.root, sub)

    def spark_conf(self) -> dict[str, str]:
        """Session settings that keep every file the JVM writes inside the
        run directory, and keep every streaming progress report."""
        tmp = f"-Djava.io.tmpdir={self.dir('tmp')} -Dderby.system.home={self.dir('tmp')}"
        return {
            "spark.sql.warehouse.dir": self.dir("warehouse"),
            "spark.driver.extraJavaOptions": tmp,
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        }

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(RUNS_DIR)  # only when no other run is live


def stop_spark() -> None:
    """Stop the active session and wait for its JVM process to exit, also
    when the JVM is already gone (a run cut short by a signal)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.stop()
        gateway.shutdown()
    except (Py4JError, OSError):
        pass  # the JVM has exited; only the process is left to reap
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) Spark ran under one job group, exact,
    from the status tracker."""
    tracker = sc.statusTracker()
    jobs = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
                failed += st.numFailedTasks
    return jobs, tasks, failed


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the Spark driver JVM, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_gc_s(spark) -> float:
    """Seconds the Spark driver JVM has spent in garbage collection so
    far, summed over its collectors."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mgmt.getGarbageCollectorMXBeans()) / 1000.0


def session_info(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


# --------------------------------------------------------------------------
# result line


def emit(outcomes: Outcomes, metrics: dict[str, tuple[float, str]], info: dict) -> None:
    """Print the run's details, then the one-line result as the last line
    of standard output."""
    info = dict(info, error_rate=outcomes.error_rate, failures=outcomes.reasons[:20])
    print(json.dumps({"info": info}, default=str))
    print(
        json.dumps(
            {
                "correct": outcomes.failed == 0,
                "attempted": outcomes.attempted,
                "failed": outcomes.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    sys.stdout.flush()
