"""Seeded, vectorised generator for the batch fixture tables.

Writes the ten tables the query registry reads (``io.TABLES``) as one
parquet file each, with the schemas and value distributions of the
project's deterministic fixtures (FIXTURES.md §3): uniform TPC-H-like star
tables, a uniform ``events`` table with exponential inter-arrival times,
a 30-word ``documents`` corpus with ~5% near-duplicates, and unit-norm
64-dimensional ``embeddings``. Row counts scale with ``sf`` as the
fixtures' do, and ``documents`` scales too (5,000 at sf0.1, as in the
fixtures); ``embeddings`` is fixed-size.

The same (sf, seed) always yields the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "hot", "large", "red", "small", "steel", "green", "old")
PART_NOUN = ("ring", "bolt", "nut", "pipe", "gear", "valve", "screw", "plate")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)
LANGS = ("en", "fr", "zh", "de", "es")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.14, 0.15)
N_EMBEDDINGS = 2000
EMBEDDING_DIM = 64

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _days(rng: np.random.Generator, lo_day: int, hi_day: int, n: int) -> pa.Array:
    days = rng.integers(lo_day, hi_day + 1, n)
    return pa.array(_EPOCH_1995 + days * np.timedelta64(1, "D"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[words[bounds[i] : bounds[i + 1]]]) for i in range(n_docs)]
    # ~5% near-duplicates: a copy of an earlier document with one word appended
    for d in np.sort(rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False)):
        texts[d] = texts[int(rng.integers(0, d))] + " dup"
    doc_id = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_docs, p=LANG_WEIGHTS),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    x = rng.standard_normal((N_EMBEDDINGS, EMBEDDING_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, x.size + 1, EMBEDDING_DIM, dtype=np.int32)),
        pa.array(x.ravel(), pa.float32()),
    )
    return pa.table(
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": emb,
            "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All fixture tables for scale factor ``sf`` from one seed."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))

    tables = {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, 0, 2404, n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _pick(rng, ("F", "O"), n_line),
                "l_shipdate": _days(rng, 1, 2499, n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pa.array(
                    _EPOCH_2024
                    + np.cumsum(rng.exponential(26.0 * 1e6, n_ev)).astype(np.int64)
                    * np.timedelta64(1, "us"),
                    pa.timestamp("us"),
                ),
                "user_id": rng.integers(0, n_users, n_ev),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng),
    }
    return tables


def write_fixtures(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in build_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
