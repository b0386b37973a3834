"""Build a K-times re-keyed concatenation of an existing fixture and run
the named queries through the driver gate at that scale (scale claims
are proven at sf0.1; this probes one notch past it so
constants-that-should-be-functions — bucket counts,
band bits, broadcast-threshold crossovers — surface locally before the
driver ever regenerates bigger fixtures).

The scaled fixture is K copies of the source tables with every
fact/entity key offset per copy (doc_id, vec_id, event/user ids, the
TPC-H order/cust/part/supp keys), so joins stay consistent while row
counts scale by K; the nation/region dims stay single-copy so dimension
references remain valid. Copied text/embeddings are verbatim — exact
cross-copy duplicates are a feature for the dedup family (they stress
candidate generation the way a real crawl re-scrape does), and both
engines see the same data so the oracle comparison is unaffected.

Usage:
    python scripts/scale_probe.py [K] [src_dir] [out_dir]
    python scripts/driver_sim.py <out_dir> <query names...>
Defaults: K=3, src=/root/testdata/sf0.1, out=/tmp/spark_graft_scale_x{K}.
"""

from __future__ import annotations

import os
import sys

# per-table key columns that must be offset per copy; every offset is the
# rounded-up max of the BASE table so copies can never collide
_KEYED: dict[str, tuple[str, ...]] = {
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "events": ("event_id", "user_id"),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
}
# shared key domains: the SAME offset must apply to both sides of a join
_DOMAIN: dict[str, str] = {
    "o_orderkey": "orderkey", "l_orderkey": "orderkey",
    "o_custkey": "custkey", "c_custkey": "custkey",
    "l_partkey": "partkey", "p_partkey": "partkey",
    "l_suppkey": "suppkey", "s_suppkey": "suppkey",
}
_DIMS = ("nation", "region")


def _round_up(n: int) -> int:
    p = 1
    while p <= n:
        p *= 10
    return p


def build(src: str, out: str, k: int) -> dict:
    import duckdb

    con = duckdb.connect()
    os.makedirs(out, exist_ok=True)
    # one offset per key DOMAIN, from the max over every column in it
    dom_max: dict[str, int] = {}
    for t, cols in _KEYED.items():
        for c in cols:
            d = _DOMAIN.get(c, c)
            (m,) = con.execute(
                f"SELECT max({c}) FROM '{src}/{t}.parquet'"
            ).fetchone()
            dom_max[d] = max(dom_max.get(d, 0), int(m or 0))
    offs = {d: _round_up(m) for d, m in dom_max.items()}

    stats = {"copies": k, "offsets": offs, "rows": {}}
    for t in list(_KEYED) + list(_DIMS):
        if t in _DIMS:
            sel = f"SELECT * FROM '{src}/{t}.parquet'"
        else:
            cols = con.execute(
                f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'"
            ).fetchall()
            exprs = []
            for name, typ, *_ in cols:
                if name in _KEYED[t]:
                    off = offs[_DOMAIN.get(name, name)]
                    exprs.append(f"({name} + r.k * {off})::{typ} AS {name}")
                else:
                    exprs.append(name)
            sel = (
                f"SELECT {', '.join(exprs)} FROM '{src}/{t}.parquet', "
                f"(SELECT unnest(range({k})) AS k) r"
            )
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
        (n,) = con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()
        stats["rows"][t] = n
    return stats


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = (
        sys.argv[3]
        if len(sys.argv) > 3
        else f"/tmp/spark_graft_scale_x{k}"
    )
    stats = build(src, out, k)
    import json

    print(json.dumps({"src": src, "out": out, **stats}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
