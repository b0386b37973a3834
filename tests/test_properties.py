"""Property-based tests (hypothesis) for the core custom operators —
the test strategy the reference lacks entirely (SURVEY.md §5)."""

from __future__ import annotations

import pytest

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from e_commerce_click_stream_spark.operators.sessionize import (
    SESSION_GAP_SECONDS,
    with_session_id,
)

_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # user_id
        st.integers(min_value=0, max_value=400_000),  # seconds offset
    ),
    min_size=1,
    max_size=60,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_events_strategy)
def test_sessionize_gap_invariants(spark, raw):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, user, base + dt.timedelta(seconds=off)) for i, (user, off) in enumerate(raw)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = with_session_id(df).collect()

    by_user: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.ts, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)

    for rows_u in by_user.values():
        for prev, cur in zip(rows_u, rows_u[1:]):
            gap = (cur.ts - prev.ts).total_seconds()
            if cur.session_id == prev.session_id:
                # intra-session consecutive gap never exceeds the threshold
                assert gap <= SESSION_GAP_SECONDS
            else:
                # a session break implies the gap exceeded the threshold
                assert gap > SESSION_GAP_SECONDS
        # session ids are user-scoped and contiguous from 1
        seqs = [int(r.session_id.split("-")[1]) for r in rows_u]
        assert seqs[0] == 1
        assert all(b - a in (0, 1) for a, b in zip(seqs, seqs[1:]))


# ---------------------------------------------------------------------------
# SCD2 collapse property: for ANY order history — including same-day
# priority flips and A->B->A returns — the versioned rows must replay to
# exactly the run-length collapse of the (date, orderkey)-ordered
# priority sequence, with chained validity ranges.

_history_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # custkey
        st.integers(min_value=0, max_value=6),  # day offset (forces date ties)
        st.sampled_from(["1-URGENT", "2-HIGH", "3-MEDIUM"]),
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_history_strategy)
@pytest.mark.slow  # randomized-reference sweep: opt out with -m "not slow"
def test_scd2_collapse_matches_run_length_encoding(spark, raw):
    import os
    import tempfile

    from e_commerce_click_stream_spark.plans.registry import all_specs

    base = dt.date(2024, 1, 1)
    rows = [
        (i + 1, cust, "O", 10.0, base + dt.timedelta(days=off), prio)
        for i, (cust, off, prio) in enumerate(raw)
    ]
    out_dir = tempfile.mkdtemp(prefix="scd2_prop_")
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "orders.parquet"))

    got: dict[int, list] = {}
    for r in all_specs()["customer_scd2_history"].builder(spark, out_dir).collect():
        got.setdefault(r.custkey, []).append(r)

    by_cust: dict[int, list] = {}
    for okey, cust, _, _, odate, prio in sorted(rows, key=lambda r: (r[4], r[0])):
        by_cust.setdefault(cust, []).append((odate, prio))
    for cust, seq in by_cust.items():
        rle = []  # expected (priority, valid_from) change points
        for odate, prio in seq:
            if not rle or rle[-1][0] != prio:
                rle.append((prio, odate))
        versions = sorted(got[cust], key=lambda r: r.version)
        assert [r.version for r in versions] == list(range(1, len(rle) + 1))
        assert [(r.priority, r.valid_from) for r in versions] == rle
        for a, b in zip(versions, versions[1:]):
            assert a.valid_to == b.valid_from
        assert versions[-1].valid_to is None
