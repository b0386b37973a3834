"""Registry of named queries.

Each entry pairs a Spark builder ``(spark, sf_dir) -> DataFrame`` with an
equivalent ANSI-SQL oracle string runnable by DuckDB over the same parquet
fixtures (tables pre-registered as views). Registration order (the
``_PLAN_MODULES`` order, then decorator order within each module) is the
order of ``all_specs()`` and hence of ``__spark_entry__.queries()``. The
correctness gate of the ``__spark_entry__.py`` contract compares the two
at sf=0.01 by row count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- floating-point aggregates are rounded on both sides (summation order
  differs between engines, so raw doubles would never hash-match);
- when the averaged column is integral at a fixed scale (cents, rounded
  jaccards), the mean is computed as an exact integer sum + ONE final
  division — round(avg(double), k) flips its last decimal between
  engines once groups grow (summation order, observed at sf0.1 in
  dedup_cross_source_contamination / hourly_gapfill_locf /
  parts_above_avg_price); where the result can land on an exact decimal
  midpoint, final rounding is floor(x*10^k + 0.5)/10^k, never round()
  (Spark HALF_UP vs DuckDB double rounding);
- window ORDER BY over a nullable column says NULLS FIRST explicitly in
  the oracle (Spark's ASC default; DuckDB defaults NULLS LAST);
- all hashing/fingerprinting uses md5 hex *strings* (identical in Spark and
  DuckDB) rather than engine-specific integer hash functions — composed
  with ``||`` in SQL, never concat() (DuckDB concat() SKIPS NULL
  arguments where Spark's propagates them).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_PLAN_MODULES = (
    "e_commerce_click_stream_spark.plans.clickstream",
    "e_commerce_click_stream_spark.plans.relational",
    "e_commerce_click_stream_spark.plans.dedup",
    "e_commerce_click_stream_spark.plans.similarity",
    "e_commerce_click_stream_spark.plans.text",
    "e_commerce_click_stream_spark.plans.multimodal",
    "e_commerce_click_stream_spark.plans.streaming_parity",
    "e_commerce_click_stream_spark.plans.behavior",
    "e_commerce_click_stream_spark.plans.graph",
    "e_commerce_click_stream_spark.plans.governance",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # None => driver records rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name,
            builder=fn,
            oracle=oracle,
            tags=tuple(tags),
            doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """Import every plan module (registration is an import side effect) and
    return the specs in registration order."""
    for mod in _PLAN_MODULES:
        importlib.import_module(mod)
    return dict(_REGISTRY)
