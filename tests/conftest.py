from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from e_commerce_click_stream_spark.session import get_spark

    spark = get_spark(app_name="tests")
    # test-session-only: ~2050 tests run tiny fixtures through one shared
    # local[SPARK_GRAFT_CPUS] session. Pin the shuffle-partition count so
    # partition-dependent behaviour (empty partitions, bucket fan-out) is
    # the same on every host rather than following get_spark's core-count
    # default; 8 keeps per-stage task scheduling small at this data size
    # (the suite must fit its verification window). AQE still coalesces.
    # get_spark() returns a live session untouched, so the CLI tests'
    # processor/producer entry points do not reset this pin.
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    yield spark


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the fixture tables registered as views,
    mirroring the driver's oracle runner (sf0.001 for speed; the driver
    uses sf0.01)."""
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_SMOKE}/{name}.parquet'"
        )
    yield con
    con.close()
