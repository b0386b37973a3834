"""The benchmark's own logic on synthetic inputs: mapping files to the
micro-batches that committed them, percentile selection under the
ten-beyond rule, failure accounting and span self time.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402
import streams  # noqa: E402

# --------------------------------------------------------------------------
# files -> committing batches


def _write(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _entry(name: str, batch: int) -> str:
    return json.dumps({"path": f"file:///src/{name}", "timestamp": 0, "batchId": batch})


def _progress(batch, ts, trigger_ms, lo, hi, executed=True):
    dur = {"triggerExecution": trigger_ms}
    if executed:
        dur["addBatch"] = trigger_ms // 2
    return {
        "batchId": batch,
        "timestamp": ts,
        "durationMs": dur,
        "sources": [
            {
                "startOffset": None if lo < 0 else json.dumps({"logOffset": lo}),
                "endOffset": json.dumps({"logOffset": hi}),
            }
        ],
    }


def test_source_log_reads_plain_and_compacted_files(tmp_path):
    ckpt = str(tmp_path)
    src = os.path.join(ckpt, "sources", "0")
    _write(os.path.join(src, "0"), ["v1", _entry("a.parquet", 0)])
    log = streams.SourceLog(ckpt)
    assert log.refresh() == {"a.parquet": 0}
    # a compacted file repeats earlier entries; their first batch id wins
    _write(
        os.path.join(src, "1.compact"),
        ["v1", _entry("a.parquet", 0), _entry("b.parquet", 1), _entry("c.parquet", 1)],
    )
    _write(os.path.join(src, ".1.compact.crc"), ["junk"])
    assert log.refresh() == {"a.parquet": 0, "b.parquet": 1, "c.parquet": 1}


def test_committed_log_offset_follows_the_last_commit(tmp_path):
    ckpt = str(tmp_path)
    assert streams.committed_log_offset(ckpt) == -1
    for b, off in ((0, 0), (1, 2), (2, 2)):
        _write(os.path.join(ckpt, "offsets", str(b)), ["v1", "{}", json.dumps({"logOffset": off})])
    _write(os.path.join(ckpt, "commits", "0"), ["v1", "{}"])
    _write(os.path.join(ckpt, "commits", "1"), ["v1", "{}"])
    assert streams.committed_log_offset(ckpt) == 2


def test_files_map_to_the_batch_whose_range_holds_them():
    progress = [
        _progress(0, "2024-01-01T00:00:00.000Z", 1000, -1, 0),
        _progress(1, "2024-01-01T00:00:02.000Z", 500, 0, 2),
        _progress(2, "2024-01-01T00:00:03.000Z", 0, 2, 2, executed=False),  # idle trigger
        _progress(2, "2024-01-01T00:00:04.000Z", 250, 2, 2),  # no-data batch
        _progress(3, "2024-01-01T00:00:05.000Z", 2000, 2, 3),
    ]
    batches = streams.executed_batches(progress, offset=0.0)
    assert [b["batch"] for b in batches] == [0, 1, 2, 3]
    files = {"w": 0, "s1": 1, "s2": 2, "burst": 3}
    fb = streams.file_batches(files, batches)
    assert {n: b["batch"] for n, b in fb.items()} == {"w": 0, "s1": 1, "s2": 1, "burst": 3}
    t0 = 1704067200.0  # 2024-01-01T00:00:00Z
    assert fb["s1"]["commit"] == pytest.approx(t0 + 2.5)
    assert fb["burst"]["commit"] == pytest.approx(t0 + 7.0)


def test_batches_carrying_is_distinct_and_ordered():
    b1, b2, b3 = ({"batch": k} for k in (1, 2, 3))
    fb = {"a": b2, "b": b1, "c": b2, "d": b3}
    assert streams.batches_carrying(fb, ["c", "a", "b", "missing"]) == [b1, b2]


def test_latency_is_the_last_query_commit_and_none_when_missing():
    q1 = {"a": {"commit": 10.0}, "b": {"commit": 12.0}}
    q2 = {"a": {"commit": 11.5}}
    lat = streams.file_latencies({"a": 9.0, "b": 9.5}, [q1, q2])
    assert lat == {"a": pytest.approx(2.5), "b": None}


# --------------------------------------------------------------------------
# percentiles


def test_nearest_rank_percentile():
    values = list(range(1, 101))
    assert harness.percentile(values, 0.5) == 50
    assert harness.percentile(values, 0.9) == 90
    assert harness.percentile([3.0], 0.9) == 3.0
    assert harness.percentile([5, 1, 4, 2, 3], 0.9) == 5
    with pytest.raises(ValueError):
        harness.percentile([], 0.5)


@pytest.mark.parametrize(
    "n, beyond, supported",
    [(0, 0, False), (10, 1, False), (99, 9, False), (100, 10, True), (101, 10, True),
     (109, 10, True), (110, 11, True)],
)
def test_ten_beyond_rule(n, beyond, supported):
    assert harness.beyond(n, 0.9) == beyond
    assert harness.tail_supported(n) is supported
    if n:
        values = list(range(n))
        p = harness.percentile(values, 0.9)
        assert sum(v > p for v in values) == beyond


def test_median_even_and_odd():
    assert harness.median([3, 1, 2]) == 2
    assert harness.median([4, 1, 3, 2]) == 2.5


# --------------------------------------------------------------------------
# failure accounting


def test_error_rate_counts_every_failure_against_attempts():
    o = harness.Outcomes()
    assert o.error_rate == 1.0  # nothing attempted is not a success
    for ok in (True, True, False, True):
        o.record(ok, "check failed")
    o.fail("query died")
    assert (o.attempted, o.failed) == (5, 2)
    assert o.error_rate == pytest.approx(0.4)
    assert o.reasons == ["check failed", "query died"]


# --------------------------------------------------------------------------
# spans


def test_self_time_subtracts_the_union_of_children():
    t = harness.Tracer(True)
    root = t.add("job", "root", "r1", 0.0, 10.0)
    t.add("plans", "build", "r1", 1.0, 4.0, root)
    t.add("io", "scan", "r1", 3.0, 5.0, root)  # overlaps the build span
    t.add("execute", "run", "r1", 9.0, 12.0, root)  # runs past the parent
    st = t.self_times()
    assert st["job"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["plans"] == pytest.approx(3.0)
    assert st["io"] == pytest.approx(2.0)
    assert st["execute"] == pytest.approx(3.0)


def test_nested_spans_inherit_parent_and_request():
    t = harness.Tracer(True)
    with t.span("job", "j", "req-7") as outer:
        inner = t.wrap("io", "table", lambda x: x * 2)
        assert inner(21) == 42
    io_span = next(s for s in t.spans if s.layer == "io")
    assert io_span.parent == outer and io_span.request == "req-7"
    assert not t._open


def test_disabled_tracer_records_nothing():
    t = harness.Tracer(False)
    with t.span("job", "j", "r") as sid:
        assert sid is None
    assert t.add("x", "y", "r", 0.0, 1.0) is None
    assert t.spans == [] and t.self_times() == {}
