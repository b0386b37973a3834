"""Iterative graph analytics as BSP rounds of DataFrame joins.

Companion to ``dedup_connected_components`` (plans/dedup.py) and
``embedding_kmeans_iter`` (plans/similarity.py): the third iterative
algorithm family — PageRank over the customer↔supplier bipartite graph
induced by order lineitems. Every float op is deterministic across
engines: per-iteration ranks are rounded to 8 before feeding the next
round, so the oracle is the identical recursion unrolled as CTEs.

Node ids are BIGINTs (customer key × 2, supplier key × 2 + 1), not
string labels: the edge distinct, per-round joins, and checkpoint blocks
all run on fixed-width integers — measured ~3× cheaper end-to-end at
sf0.1 than 'c{key}'/'s{key}' string nodes, and the gap widens with
graph size."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e_commerce_click_stream_spark.io import table
from e_commerce_click_stream_spark.plans.registry import register

PR_DAMPING = 0.85
PR_ITERS = 2

# Size-derived edge-checkpoint storage level (VERDICT r13 #5): DISK_ONLY
# was the r13 fix for the x10 probe OOMing a vanilla 1 GiB session (the
# corpus-sized edge checkpoint pinned in the block manager starved the
# unified pool), but it taxes every small-input run with a per-round
# local read (~0.2-0.7 s at sf0.1). Derive the level from the inputs
# instead: the edge relation is bounded by 2 x |lineitem| rows of
# (src, dst, outdeg) UnsafeRows (~64 B each with block overhead), and it
# may pin at most a quarter of the session's unified pool — execution
# (the per-round hash agg that actually OOMed) needs the rest.
from e_commerce_click_stream_spark.operators.ckptlevel import CAP_FRAC

PR_EDGE_ROW_BYTES = 64
PR_STORAGE_CAP_FRAC = CAP_FRAC


def _edge_checkpoint_level(spark: SparkSession, n_lineitem: int):
    """MEMORY_AND_DISK when the worst-case edge checkpoint (2 x lineitem
    rows x ~64 B) fits inside PR_STORAGE_CAP_FRAC of the unified pool
    (see operators/ckptlevel.py — the shared chooser this r14 probe
    round extracted), else DISK_ONLY. Both shapes are result-identical
    and pinned by tests/test_broadcast_crossovers.py; only the
    small-input latency / large-input safety trade moves."""
    from e_commerce_click_stream_spark.operators.ckptlevel import (
        corpus_checkpoint_level,
    )

    return corpus_checkpoint_level(spark, 2 * n_lineitem * PR_EDGE_ROW_BYTES)


def _lineitem_rows_estimate(sf_dir: str) -> int:
    """EXACT lineitem row count from parquet footers — zero Spark jobs
    (operators/ckptlevel.py::parquet_row_count). Replaced the
    footprint // 10 B/row estimate in r15: the x10/x30 scale fixtures
    dictionary-compress ~5-10x (verbatim copies), so the bytes-based
    estimate UNDERCOUNTED rows by the same factor — the exact inversion
    of the conservative bias it was designed for."""
    from e_commerce_click_stream_spark.operators.ckptlevel import (
        parquet_row_count,
    )

    return parquet_row_count(sf_dir, "lineitem")


def _pagerank_sql() -> str:
    parts = [
        """e0 AS (
    SELECT DISTINCT o_custkey AS c, l_suppkey AS s
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
)""",
        """edges AS (
    SELECT c * 2 AS src, s * 2 + 1 AS dst FROM e0
    UNION ALL
    SELECT s * 2 + 1 AS src, c * 2 AS dst FROM e0
)""",
        """deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)""",
        """nodes AS (SELECT DISTINCT src AS node FROM edges)""",
        """n AS (SELECT count(*) AS n_nodes FROM nodes)""",
        """r0 AS (SELECT node, 1.0 / n_nodes AS rank FROM nodes, n)""",
    ]
    for t in range(1, PR_ITERS + 1):
        parts.append(f"""c{t} AS (
    SELECT e.dst AS node, sum(r.rank / d.outdeg) AS contrib
    FROM edges e
    JOIN r{t - 1} r ON r.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
)""")
        parts.append(f"""r{t} AS (
    SELECT c{t}.node,
           round({1 - PR_DAMPING} / n.n_nodes + {PR_DAMPING} * c{t}.contrib, 8)
               AS rank
    FROM c{t}, n
)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_kind,
       node // 2 AS node_key,
       rank AS pagerank
FROM r{PR_ITERS}"""
    )


@register("pagerank_bipartite", oracle=_pagerank_sql(), tags=("graph", "pagerank", "iterative"))
def pagerank_bipartite(
    spark: SparkSession, sf_dir: str, bucketed_edges: bool = False
) -> DataFrame:
    """PageRank (d=0.85, 2 rounds) over the undirected customer↔supplier
    bipartite graph from order lineitems — "which suppliers sit at the
    center of the purchase network". Symmetric edges mean no dangling
    nodes, so no dangling-mass redistribution term is needed.

    Scale shape: the distinct (customer, supplier) pair list e0 is
    checkpointed once (on a cluster: a persisted table bucketed by src);
    out-degrees are two tiny per-node aggs of it, BROADCAST back onto the
    symmetric edge list so edges-with-degree is a narrow, exchange-free
    view of the checkpoint (the pre-r15 shape materialized edges⋈deg
    instead, which planned the orders⋈lineitem distinct four times and
    shuffled the full edge list against its own degree agg). Each BSP
    round joins the rank vector against edges on src and partial+final
    aggregates on dst — the canonical Pregel-on-DataFrames step. The
    rank vector is BROADCAST into that join: a checkpoint erases the
    edge list's partitioning from Catalyst's view (the r4 plan showed
    both SMJ sides re-exchanged+sorted every round — the whole edge list
    reshuffled per iteration), and in a bipartite purchase graph nodes ≪
    edges, so shipping O(nodes) rank rows beats shuffling O(edges) rows
    per round (measured 3.5 s → 3.0 s at sf0.1, and the gap is linear in
    edge count). Crossover: once the rank vector outgrows broadcast
    (~10^8+ nodes), drop the hint and persist/bucket the edge list by
    src instead — InMemoryRelation (unlike a checkpoint) preserves
    hashpartitioning(src), so the per-round shuffle join exchanges only
    the rank vector (measured within 8% of broadcast at sf0.1). The
    1-row node count is checkpointed once — un-checkpointed it was
    recomputed from a full edge scan + distinct in EVERY round's plan —
    and rank rounding to 8 per round keeps the iteration
    bit-deterministic.

    ``bucketed_edges=True`` exercises that crossover in-session: the
    edge list is persisted pre-partitioned on src (repartition +
    persist — InMemoryRelation, unlike a checkpoint, preserves
    hashpartitioning(src) in Catalyst's view), the broadcast hint is
    dropped, and the per-round join is a SHUFFLE_HASH join whose only
    exchange is the O(nodes) rank vector — the edge side is read from
    cache with no exchange. Results are identical to the broadcast
    shape (tests/test_broadcast_crossovers.py pins both plan and
    parity)."""
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # The distinct (customer, supplier) pair list is THE relation every
    # downstream branch re-reads; checkpoint it FIRST. The r15-measured
    # alternative (checkpointing edges⋈deg) planned the orders⋈lineitem
    # + distinct subtree FOUR times in one job (e0 referenced twice by
    # the union and the whole union again by the degree branch) and then
    # sort-merge-joined the full edge list against its own degree agg —
    # one corpus join + distinct here replaces all of that. Storage level
    # is size-derived (see _edge_checkpoint_level); e0 is HALF the edge
    # rows, so the pinned footprint also halves vs the old edge ckpt.
    level = _edge_checkpoint_level(spark, _lineitem_rows_estimate(sf_dir))
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .selectExpr("o_custkey * 2 AS cnode", "l_suppkey * 2 + 1 AS snode")
        .localCheckpoint(eager=True, storageLevel=level)
    )
    # per-node out-degree WITHOUT shuffling the edge list: in the
    # symmetric bipartite graph outdeg(c) = |distinct suppliers of c| and
    # outdeg(s) = |distinct customers of s| — two partial+final aggs of
    # e0 (tiny exchanges: agg buffers, one row per node), never an
    # edges-sized exchange. The union needs no distinct: even/odd node
    # encodings are disjoint and each agg's keys are unique by
    # construction.
    deg_all = (
        e0.groupBy(F.expr("cnode AS node"))
        .agg(F.expr("count(*) AS outdeg"))
        .unionAll(
            e0.groupBy(F.expr("snode AS node"))
            .agg(F.expr("count(*) AS outdeg"))
        )
    ).localCheckpoint(eager=True)
    # attach out-degree by BROADCAST (deg_all is O(nodes) rows — the same
    # cardinality bound that justifies broadcasting the rank vector), so
    # the symmetric edge list with degree attached is a NARROW transform
    # of the e0 checkpoint: zero exchanges, nothing edge-sized pinned in
    # the block manager. Each round re-evaluates the two broadcast joins
    # from the checkpoint — cheap map-side work, measured within noise of
    # materializing edges_deg at sf0.1 while halving stored blocks.
    dj = deg_all.selectExpr("node AS jn", "outdeg")
    edges_deg = (
        e0.join(F.broadcast(dj), e0.cnode == dj.jn)
        .selectExpr("cnode AS src", "snode AS dst", "outdeg")
        .unionAll(
            e0.join(F.broadcast(dj), e0.snode == dj.jn)
            .selectExpr("snode AS src", "cnode AS dst", "outdeg")
        )
    )
    if bucketed_edges:
        # crossover shape: pre-partition on src and persist — the cached
        # relation keeps hashpartitioning(src), so each round's join
        # exchanges only the rank vector (the cluster analogue is a table
        # bucketed by src)
        edges_deg = edges_deg.repartition("src").persist()
        edges_deg.count()  # materialize once, before the rounds
    nodes = deg_all.select("node")
    # 1 row; without the checkpoint every round's plan recomputes the count
    n = nodes.agg(F.expr("count(*) AS n_nodes")).localCheckpoint(eager=True)
    ranks = nodes.join(F.broadcast(n)).selectExpr(
        "node", "1.0D / n_nodes AS rank"
    )
    for i in range(PR_ITERS):
        rank_side = ranks.hint("shuffle_hash") if bucketed_edges else F.broadcast(ranks)
        contrib = (
            edges_deg.join(rank_side, edges_deg.src == rank_side.node)
            .groupBy(F.expr("dst AS node_dst"))
            .agg(F.expr("sum(rank / outdeg) AS contrib"))
        )
        # str(float) literals keep the parsed doubles bit-identical to
        # the F.lit values (shortest-roundtrip repr)
        ranks = contrib.join(F.broadcast(n)).selectExpr(
            "node_dst AS node",
            f"round({1 - PR_DAMPING}D / n_nodes"
            f" + {PR_DAMPING}D * contrib, 8) AS rank",
        )
        # Checkpoint the rank vector between rounds (n_nodes rows): lazy
        # chaining makes round k re-execute rounds 1..k-1 — O(K²) round
        # work — exactly what embedding_kmeans_iter avoids the same way.
        # Measured at sf0.1: 2.9-3.8 s → stable ~2.74 s even at K=2.
        if i < PR_ITERS - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.selectExpr(
        "CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END"
        " AS node_kind",
        "node div 2 AS node_key",
        "rank AS pagerank",
    )


# ---------------------------------------------------------------------------
# triangle counting over the part co-purchase graph — the fourth graph
# primitive (after components, PageRank, power-iteration PCA), and the
# canonical test of whether a join engine can do graph analytics at
# scale: the degree-ordered orientation (Schank & Wagner 2005; the same
# trick behind every MapReduce/Spark triangle counter) bounds wedge
# generation by out-degree ≤ O(sqrt(m)) instead of max degree, so hub
# nodes never explode the intermediate.

# The oracle orients edges by PLAIN ID ORDER, not the builder's
# (degree, id) order. Equivalence: every output is orientation-invariant
# — n_nodes/n_edges/n_wedges never touch the orientation, and the
# triangle count is identical under ANY strict total vertex order (each
# triangle {a,b,c} with a<b<c forms exactly one wedge at a, closed by
# the one oriented edge b→c), so the two engines count the same scalar.
# Id-order makes ``oriented`` literally ``pe`` (u < v already), which
# matters for DuckDB 1.0 execution: a CTE referenced more than once is
# auto-materialized, and every pipeline SOURCED from a materialized-CTE
# scan runs single-threaded (measured 155 s at the x10 probe vs 15 s for
# this form) — ``NOT MATERIALIZED`` re-inlines pe per reference so every
# heavy pipeline stays parquet-rooted and parallel, and id-order keeps
# those inline copies cheap (no deg join inside the orientation). The
# Spark builder keeps the degree-ordered orientation — at 100 TB the
# O(sqrt(m)) out-degree bound is what stops hub nodes exploding the
# wedge stream; the oracle only needs to match the count.
_TRIANGLE_SQL = """
WITH pe AS NOT MATERIALIZED (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS NOT MATERIALIZED (
    SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM pe UNION ALL SELECT v AS node FROM pe
    ) GROUP BY node
),
wedges AS NOT MATERIALIZED (
    SELECT e1.v AS v, e2.v AS w
    FROM pe e1 JOIN pe e2 ON e1.u = e2.u AND e1.v < e2.v
),
tri AS (
    SELECT count(*) AS n_triangles
    FROM wedges JOIN pe o ON o.u = wedges.v AND o.v = wedges.w
),
stats AS (
    SELECT count(*) AS n_nodes,
           sum(d * (d - 1) / 2)::BIGINT AS n_wedges
    FROM deg
),
ecount AS (SELECT count(*) AS n_edges FROM pe)
SELECT s.n_nodes, e.n_edges, s.n_wedges,
       t.n_triangles,
       round(CASE WHEN s.n_wedges > 0
                  THEN 3.0 * t.n_triangles / s.n_wedges END, 6) AS transitivity
FROM stats s, ecount e, tri t
"""


# Per-order pair fan-out multiplier for the triangle plan's size
# estimates (ADVICE r14 #2): |pe| is SUM over orders of C(k,2) —
# quadratic in basket size k — so sizing it at 2 x lineitem rows (the
# pagerank edge bound, linear in lineitem) silently underestimates on a
# regenerated fixture with bigger baskets and can reopen the exact OOM
# class the size-derived levels fixed. C(k,2)/k = (k-1)/2, so 4 x
# lineitem rows covers average baskets up to ~9 items (committed
# fixtures average ~4); the estimate feeds DISK_ONLY/SHUFFLE_HASH
# decisions, where overestimating is the safe direction.
_TRI_PAIR_FANOUT = 4

# Wedge-stream Bloom prefilter geometry (the SHUFFLE_HASH close path):
# bits per edge and probes per key, sized from the EXACT edge count
# (pe is already checkpointed when the bloom is built, so the count is
# a cheap cached-block scan — and this path only runs in the scale
# regime, where the triangle query is not bench-hot; sizing from the
# pair-fanout ESTIMATE instead overshot true distinct pairs 20x on the
# x10 fixture and ballooned the bitmap to 120 MB). 10 bits/key with
# k=3 gives ~1% false positives.
_TRI_BLOOM_BITS_PER_EDGE = 10
_TRI_BLOOM_HASHES = 3


def _edge_bloom(spark: SparkSession, edges: DataFrame, m_bits: int) -> DataFrame:
    """One-row DataFrame holding a dense Bloom bitmap (``array<bigint>``,
    ``m_bits // 64`` words) over the (v, w) pairs of ``edges`` — built
    entirely JVM-side: explode the k probe positions per edge, bit_or
    per 64-bit word, left-join against ``spark.range`` to fill absent
    words, then fold the (idx, bits) rows into one ordered array with
    ``array_sort(collect_list(struct(...)))``. No driver collect; the
    single row rides a broadcast into the wedge stream where
    ``element_at`` is an O(1) ordinal access (a MAP here would be an
    O(n) linear scan per probe — ArrayBasedMapData has no hash index)."""
    n_longs = m_bits // 64
    pos = edges.select(
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col("v"), F.col("w"), F.lit(i)), F.lit(m_bits)
                    )
                    for i in range(_TRI_BLOOM_HASHES)
                ]
            )
        ).alias("p")
    )
    words = pos.groupBy((F.col("p") / 64).cast("long").alias("idx")).agg(
        F.expr("bit_or(shiftleft(1L, int(p % 64)))").alias("bits")
    )
    dense = (
        spark.range(n_longs)
        .withColumnRenamed("id", "idx")
        .join(words, "idx", "left")
        .select("idx", F.coalesce(F.col("bits"), F.lit(0).cast("long")).alias("bits"))
    )
    # Two-level assembly: a single collect_list of n_longs structs needs
    # one task to buffer + sort + copy the whole bitmap three times over
    # (~100 MB transient at the x10 probe's 3.5M words), which GC-starved
    # the vanilla 1 GiB session. Chunking pre-builds 64Ki-word dense
    # arrays across tasks, so the final row folds ~n_longs/65536 ready
    # arrays instead of n_longs scalars.
    chunk_words = 65536
    chunks = dense.groupBy(F.expr(f"idx div {chunk_words}").alias("chunk")).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(idx, bits))), s -> s.bits)"
        ).alias("arr")
    )
    return chunks.agg(
        F.expr(
            "flatten(transform(array_sort(collect_list(struct(chunk, arr))),"
            " s -> s.arr))"
        ).alias("bf")
    ).localCheckpoint(eager=True)


def _bloom_might_contain(m_bits: int) -> F.Column:
    """Probe predicate for ``_edge_bloom``'s bitmap against (v, w):
    true iff all k probe bits are set. Must compose the positions
    EXACTLY as the build side does (same xxhash64 seeds, same pmod)."""
    checks = []
    for i in range(_TRI_BLOOM_HASHES):
        p = f"pmod(xxhash64(v, w, {i}), {m_bits}L)"
        checks.append(
            f"(element_at(bf, int(({p}) div 64) + 1)"
            f" & shiftleft(1L, int(({p}) % 64))) != 0"
        )
    return F.expr(" AND ".join(checks))


@register("graph_triangle_count", oracle=_TRIANGLE_SQL, tags=("graph", "triangles"))
def graph_triangle_count(
    spark: SparkSession, sf_dir: str, bucketed_close: bool | None = None
) -> DataFrame:
    """Global triangle count + transitivity of the part co-purchase graph
    (parts are adjacent when some order contains both). Every triangle is
    counted exactly once: edges are oriented low→high in the (degree,
    id) total order, wedges form only at each triangle's lowest vertex,
    and the closing edge is probed in its oriented direction — three
    equi-joins, no Cartesian anything.

    Scale shape: the co-purchase self-join is per-order (order baskets
    are small and bounded — the same argument as brand_basket_affinity);
    the wedge join fans out by ORIENTED out-degree, which the
    degree-ordering bounds by O(sqrt(edges)) even on power-law graphs —
    hub parts contribute wedges only toward higher-degree nodes. The
    oracle orients by plain id order instead (see _TRIANGLE_SQL's
    header): every output is orientation-invariant, so the engines need
    not orient identically — only count identically. On the
    SHUFFLE_HASH close path the wedge stream is Bloom-prefiltered
    map-side before its exchange (_edge_bloom): no false negatives, so
    the exact closing join sees every surviving wedge it would have
    seen, and the exchange carries ~triangle-count rows instead of the
    full wedge stream (410M -> ~25M at the x10 probe, 90 s -> 54 s)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Both corpus-sized checkpoints below (pe: 2 cols, oriented: 3 cols,
    # each bounded by the per-order pair fan-out, sized at
    # _TRI_PAIR_FANOUT x lineitem rows — quadratic-aware, ADVICE r14 #2)
    # take the size-derived storage level: the r14 x10 probe OOM'd this
    # query on a vanilla 1 GiB session (AGGREGATE_OUT_OF_MEMORY
    # materializing the second checkpoint while the first pinned the
    # pool) — the same class the pagerank edge checkpoint hit at r13
    # (see operators/ckptlevel.py). Row estimate from the parquet
    # footprint — no job.
    est_pairs = _TRI_PAIR_FANOUT * _lineitem_rows_estimate(sf_dir)
    from e_commerce_click_stream_spark.operators.ckptlevel import (
        corpus_checkpoint_level,
    )

    ckpt_level = corpus_checkpoint_level(spark, est_pairs * PR_EDGE_ROW_BYTES)
    if bucketed_close is None:
        # The closing-edge broadcast is |E| rows — the same size class
        # as the edge checkpoint, so the SAME derivation picks the
        # documented crossover: broadcast while the edge list fits the
        # quarter-pool cap, SHUFFLE_HASH past it. The r14 x10 probe
        # (1 GiB vanilla session, 12M edges) died in the broadcast
        # build (notEnoughMemoryToBuildAndBroadcastTable) with the flag
        # left at its old always-broadcast default.
        from pyspark.storagelevel import StorageLevel

        bucketed_close = ckpt_level == StorageLevel.DISK_ONLY
    a, b = li.alias("a"), li.alias("b")
    pe = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        # referenced by deg, oriented, and stats
        .localCheckpoint(eager=True, storageLevel=ckpt_level)
    )
    deg = (
        pe.select(F.col("u").alias("node"))
        .unionAll(pe.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    with_deg = pe.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dd"),
        # wedge join reads it twice, closer once
    ).localCheckpoint(eager=True, storageLevel=ckpt_level)
    e1 = oriented.select(
        F.col("src"), F.col("dst").alias("dst1"), F.col("dd").alias("dd1")
    )
    e2 = oriented.select(
        F.col("src"), F.col("dst").alias("dst2"), F.col("dd").alias("dd2")
    )
    first_lower = (F.col("dd1") < F.col("dd2")) | (
        (F.col("dd1") == F.col("dd2")) & (F.col("dst1") < F.col("dst2"))
    )
    wedges = (
        e1.join(e2, "src")
        .filter(F.col("dst1") < F.col("dst2"))
        .select(
            F.when(first_lower, F.col("dst1")).otherwise(F.col("dst2")).alias("v"),
            F.when(first_lower, F.col("dst2")).otherwise(F.col("dst1")).alias("w"),
        )
    )
    closer = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    # BROADCAST the closing-edge side: the edge list is |E| rows (tiny
    # next to the wedge stream — measured 1.2M edges vs 41M wedges at
    # sf0.1), so the closing check becomes a map-side hash probe and the
    # wedge stream is NEVER shuffled or sorted. The naive equi-join
    # sort-merge-sorted all wedges and OOM'd a default-heap session at
    # sf0.1; at cluster scale where |E| outgrows a broadcast, the same
    # shape survives as a bucketed join on (v, w) — the invariant is
    # "wedges stream, edges index", pinned in plan_audit.
    # ``bucketed_close=True`` exercises that crossover: a SHUFFLE_HASH
    # join with the hash table built on the edge side — wedges are
    # hashed to their (v, w) partition and PROBED, never sorted (the
    # sort is what OOM'd); parity + plan pinned in
    # tests/test_broadcast_crossovers.py. On that path the wedge stream
    # IS shuffled, and at x10 that exchange (410M wedge rows vs 18.8M
    # triangles) was the whole 90 s Spark cost — so the wedges are
    # Bloom-prefiltered MAP-SIDE before the exchange against a dense
    # bitmap over the closing edges (no false negatives: every closing
    # edge sets its bits, so every wedge that would survive the exact
    # join passes the filter; false positives are removed by the join
    # itself). The broadcast path skips the bloom — there the wedge
    # stream never reaches an exchange, so there is nothing to save.
    if bucketed_close:
        n_edges_exact = pe.count()  # cached-block scan, see geometry note
        m_bits = max(
            1 << 16, n_edges_exact * _TRI_BLOOM_BITS_PER_EDGE // 64 * 64
        )
        bf = _edge_bloom(spark, closer, m_bits)
        wedges = (
            wedges.join(F.broadcast(bf))
            .where(_bloom_might_contain(m_bits))
            .drop("bf")
        )
        # Pin the close-join partition count: the bloom shrinks the
        # wedge-side exchange ~20x, and AQE then coalesces the join down
        # to a handful of partitions SIZED BY THE WEDGE SIDE — leaving
        # per-partition hash builds of the 12M-row edge side that
        # overflow the 1 GiB probe session ("not enough memory to build
        # hash map", observed at 8 post-coalesce partitions). An
        # explicit repartition on the join keys is AQE-respected, costs
        # nothing extra (it IS the join's exchange), and sizes each
        # build at ~16 MB from the same footprint estimate.
        close_parts = max(32, n_edges_exact * PR_EDGE_ROW_BYTES // (16 << 20))
        closer_side = closer.repartition(close_parts, "v", "w").hint(
            "shuffle_hash"
        )
    else:
        closer_side = F.broadcast(closer)
    tri = wedges.join(closer_side, ["v", "w"]).agg(
        F.count("*").alias("n_triangles")
    )
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges"),
    )
    ecount = pe.agg(F.count("*").alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(ecount))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ),
                6,
            ).alias("transitivity"),
        )
    )
