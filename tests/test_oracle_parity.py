"""The local mirror of the driver's t2 gate: every registered query with an
oracle must match DuckDB on sf0.001; every query (oracle or not) must run
and return a stable schema."""

from __future__ import annotations

import pytest

from e_commerce_click_stream_spark.plans.registry import all_specs
from tests.compare import assert_matches_oracle
from tests.conftest import SF_SMOKE

SPECS = all_specs()


def test_only_the_declared_sketch_lacks_an_oracle():
    # No query is registered without proof: every spec but the HLL sketch
    # (README "Correctness model") carries an oracle that the parity test
    # below checks on every run.
    assert {n for n, s in SPECS.items() if s.oracle is None} == {"hourly_metrics_approx"}


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_runs(spark, name):
    df = SPECS[name].builder(spark, SF_SMOKE)
    assert df.columns, f"{name}: no columns"
    assert df.count() >= 0


@pytest.mark.parametrize(
    "name", sorted(n for n, s in SPECS.items() if s.oracle is not None)
)
def test_query_matches_oracle(spark, duck, name):
    spec = SPECS[name]
    df = spec.builder(spark, SF_SMOKE)
    assert_matches_oracle(df, duck, spec.oracle, name=name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
