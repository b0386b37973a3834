"""Similarity search over the ``embeddings`` table (array<float> vectors).

North-star operators (BASELINE.json): brute-force cosine top-k as the
correctness baseline, plus the scale paths — sign-LSH bucketing and a
banded near-dup pair scan. All vector math is built-in array expressions
(zip_with / aggregate folds) in doubles — JVM-side, codegen'd, no Python.

Scale notes: brute-force top-k against Q query vectors broadcasts the
queries (Q ≪ corpus) so the corpus never shuffles; the LSH-signature path
reduces candidate generation to an equi-join on bucket signature, the same
pattern dedup_minhash_lsh uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_click_stream_spark.io import table
from e_commerce_click_stream_spark.operators.textops import signature_bands
from e_commerce_click_stream_spark.plans.registry import register

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors

# Sign-LSH geometry — DERIVED from the corpus size at build time
# (VERDICT r13 #3; the phash family's interpolate-into-the-oracle
# precedent, taken one step further because here the right constant
# depends on n). N_BANDS stays fixed at 4 (OR-of-ANDs candidate
# semantics a la minhash-LSH: a pair is a candidate iff it agrees on
# ALL bits of AT LEAST ONE band); band_bits is the smallest b in
# [BAND_BITS_MIN, BAND_BITS_MAX] with 2^b * LSH_TARGET_OCCUPANCY >= n —
# a pure integer comparison the oracle's `geo` CTE computes identically
# from the same hygiene-filtered corpus, so builder and oracle can
# never disagree and a regenerated sf10+ fixture can never silently
# revert to 256 hot buckets. Hyperplanes come from two sources behind
# the same derivation (r15, VERDICT r14 #6 — previously prose): up to
# BAND_BITS_CORPUS_PLANES_MAX the planes are the first N_BANDS x
# band_bits corpus vectors (deterministic, oracle-reproducible — the
# historical geometry, byte-identical on every committed fixture and
# the x10 probe: 500-2000 vectors derive band_bits = 8, the 20k x10
# probe derives 12); past it (n > 2^16 * 8 = 524288 vectors) the
# derivation keeps widening to BAND_BITS_MAX = 27 (~10^9 vectors at
# occupancy 8) and the planes switch to seeded Rademacher random
# projections — md5-parity ±1 components, reproduced bit-identically by
# the oracle's planes CTE from the same (plane, dim) strings, with no
# corpus read and no first-k-vectors bias at sizes where "the first 108
# rows" stops being a meaningful sample. Candidate volume is bounded by
# N_BANDS * sum(occupancy^2)/2 per band, NOT n^2.
N_BANDS = 4
BAND_BITS_MIN = 8
BAND_BITS_MAX = 27
BAND_BITS_CORPUS_PLANES_MAX = 16
LSH_TARGET_OCCUPANCY = 8


def _band_bits(n: int) -> int:
    """Smallest b in [BAND_BITS_MIN, BAND_BITS_MAX] with
    2^b * LSH_TARGET_OCCUPANCY >= n — the same derivation as the
    oracle's `geo` CTE, in the same integer arithmetic."""
    for b in range(BAND_BITS_MIN, BAND_BITS_MAX + 1):
        if (1 << b) * LSH_TARGET_OCCUPANCY >= n:
            return b
    return BAND_BITS_MAX


# SQL twin of _band_bits, computed from the hygiene-filtered corpus CTE
# `e` that both LSH oracles define; coalesce is the >MAX clamp (min over
# an empty set is NULL).
_GEO_SQL = f"""geo AS (
    SELECT coalesce(min(b), {BAND_BITS_MAX})::BIGINT AS bb
    FROM range({BAND_BITS_MIN}, {BAND_BITS_MAX + 1}) t(b),
         (SELECT count(*) AS n FROM e) c
    WHERE (1::BIGINT << b) * {LSH_TARGET_OCCUPANCY} >= c.n
)"""

# SQL twin of the builder's plane source (see the geometry block
# comment): corpus vectors while bb fits the corpus-plane clamp,
# seeded Rademacher projections past it. The projection component for
# (plane p, dim i) is +1 iff md5('lshp|p|i') starts with a hex digit
# whose high bit is clear — md5 hex STRINGS are the repo's cross-engine
# primitive, so both engines materialize identical ±1.0 doubles.
_RADEMACHER_CASE = (
    "CASE WHEN substr(md5('lshp|' || {p} || '|' || {i}), 1, 1)"
    " IN ('0','1','2','3','4','5','6','7')"
    " THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END"
)

_PLANES_SQL = f"""planes AS (
    SELECT vec_id AS plane_id, v AS pv
    FROM e, geo
    WHERE geo.bb <= {BAND_BITS_CORPUS_PLANES_MAX}
      AND vec_id < {N_BANDS} * geo.bb
    UNION ALL
    SELECT t.p AS plane_id,
           list_transform(range(0, 64),
                          i -> {_RADEMACHER_CASE.format(p="t.p::VARCHAR", i="i::VARCHAR")}) AS pv
    FROM range(0, {N_BANDS * BAND_BITS_MAX}) t(p), geo
    WHERE geo.bb > {BAND_BITS_CORPUS_PLANES_MAX}
      AND t.p < {N_BANDS} * geo.bb
)"""


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no spread(): the vector math is light enough that a pre-shuffle costs
    # more than the single-partition compute it parallelizes (measured)
    #
    # Input hygiene gate, mirrored verbatim in every vector-math oracle:
    # NULL embeddings, wrong-dimension vectors, and all-zero vectors are
    # excluded up front. A zero vector has no direction — every cosine
    # denominator becomes 0 (ANSI raises, DuckDB yields NULL, silently
    # diverging), and a NULL inside list_inner_product RAISES in DuckDB.
    # At 100 TB these rows are routine (failed encoder calls, padding) —
    # the gate is the production contract, and embedding_quality_gate
    # reports what it drops. The oracle gate also REBUILDS the list
    # (list_transform + cast): DuckDB's list_inner_product NULL check
    # scans the chunk's child buffer, and with NULL and short vectors in
    # the same file it rejects even post-filter clean rows.
    emb = F.col("embedding")
    return (
        table(spark, sf_dir, "embeddings")
        .filter(
            emb.isNotNull()
            & (F.size(emb) == 64)
            # non-lambda built-ins only: higher-order predicates
            # (exists/filter + lambda) are interpreted per element and
            # cost ~0.4 s on the LSH signature scan at sf0.1;
            # array_compact/array_remove stay on the JVM fast path.
            # array_compact(emb) == 64 also rejects vectors with NULL
            # ELEMENTS (which the oracle's x <> 0 filter drops and
            # which would NULL-poison every dot product)
            & (F.size(F.array_compact(emb)) == 64)
            & (F.size(F.array_remove(emb, 0.0)) > 0)
        )
        .select("vec_id", emb.cast("array<double>").alias("v"), "label")
    )


def _dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-fold dot product — same accumulation order in any
    engine. Pass column NAMES where possible: the string path parses ONE
    SQL expression (0D is the double literal F.lit(0.0) built), while the
    Column-lambda path costs ~25 gateway roundtrips per call — plan
    construction the timed runs pay. The Column path stays for callers
    inside higher-order lambdas (the argument is a JVM-bound lambda
    variable there, not a name)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        )
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(
            f"sqrt(aggregate(transform({a}, x -> x * x), 0D, (acc, x) -> acc + x))"
        )
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


_NORMS_SQL = """
SELECT vec_id,
       label,
       len(embedding) AS dim,
       round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6)
           AS l2_norm
FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
"""


@register("embedding_norms", oracle=_NORMS_SQL, tags=("similarity",))
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector dimension + L2 norm — the cheap full-scan vector op."""
    v = _vecs(spark, sf_dir)
    return v.select(
        "vec_id",
        "label",
        F.size("v").cast("long").alias("dim"),
        F.round(_norm("v"), 6).alias("l2_norm"),
    )


_TOPK_SQL = f"""
WITH n AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
    FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
),
scored AS (
    SELECT q.vec_id AS query_id,
           c.vec_id AS neighbor_id,
           round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
    FROM n q JOIN n c ON c.vec_id != q.vec_id
    WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
    SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


@register("ann_cosine_topk", oracle=_TOPK_SQL, tags=("similarity", "topk"))
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the query vectors (vec_id < 10):
    broadcast the queries against the corpus, rank by rounded cosine with a
    deterministic id tiebreak. The exact baseline the LSH path approximates."""
    n = _vecs(spark, sf_dir).select("vec_id", "v", _norm("v").alias("nrm"))
    q = n.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS query_id", "v AS qv", "nrm AS qn"
    )
    scored = (
        n.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "vec_id AS neighbor_id",
            "round(aggregate(zip_with(qv, v, (x, y) -> x * y), 0D,"
            " (acc, x) -> acc + x) / (qn * nrm), 6) AS cosine",
        )
    )
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id"
            " ORDER BY cosine DESC, neighbor_id ASC) AS rank",
        )
        .filter(F.col("rank") <= TOP_K)
        .selectExpr("query_id", "neighbor_id", "cosine",
                    "CAST(rank AS BIGINT) AS rank")
    )


def _planes_row(e: DataFrame, bb: int, n_planes: int) -> DataFrame:
    """The n_planes hyperplanes packed into ONE row as a sorted array of
    structs. Broadcast-crossJoined against the corpus, the full signature
    becomes a single array expression per vector — no per-plane row
    explosion and no groupBy shuffle to reassemble bits (the r3 shape
    exploded 1 row per plane and shuffled on vec_id to collect them).

    Plane source follows the derived geometry (see the block comment):
    corpus vectors while bb fits BAND_BITS_CORPUS_PLANES_MAX, seeded
    Rademacher projections past it — the oracle's _PLANES_SQL branches
    on the identical condition, so the engines can never mix sources."""
    if bb <= BAND_BITS_CORPUS_PLANES_MAX:
        return (
            e.filter(F.col("vec_id") < n_planes)
            .select(F.struct(F.col("vec_id").alias("plane_id"), F.col("v").alias("pv")).alias("p"))
            .agg(F.array_sort(F.collect_list("p")).alias("planes"))
        )
    case = _RADEMACHER_CASE.format(
        p="CAST(id AS STRING)", i="CAST(i AS STRING)"
    )
    return (
        e.sparkSession.range(n_planes)
        .select(
            F.struct(
                F.col("id").alias("plane_id"),
                F.expr(f"transform(sequence(0, 63), i -> {case})").alias("pv"),
            ).alias("p")
        )
        .agg(F.array_sort(F.collect_list("p")).alias("planes"))
    )


def _with_signature(e: DataFrame, bb: int, n_planes: int) -> DataFrame:
    """Attach the n_planes-bit sign signature `sig` to every vector:
    zero shuffles (1-row broadcast crossJoin + array fold)."""
    # ONE parsed SQL expression (the Column-lambda chain cost ~90
    # gateway roundtrips of plan construction per call)
    return (
        e.crossJoin(F.broadcast(_planes_row(e, bb, n_planes)))
        .withColumn(
            "sig",
            F.expr(
                "array_join(transform(planes, p -> CASE WHEN"
                " aggregate(zip_with(v, p.pv, (x, y) -> x * y), 0D,"
                " (acc, x) -> acc + x) > 0 THEN '1' ELSE '0' END), '')"
            ),
        )
        .drop("planes")
    )


def _bands(band_bits: int) -> Column:
    """Slice the packed signature into N_BANDS (band_id, band_sig) structs."""
    return signature_bands("sig", N_BANDS, band_bits)


def _lsh_geometry(e: DataFrame) -> tuple[int, int]:
    """(band_bits, n_planes) for this corpus — ONE count() over the
    hygiene-filtered vectors (metadata-cheap next to the signature scan)
    feeding the same integer rule as the oracle's geo CTE."""
    bb = _band_bits(e.count())
    return bb, N_BANDS * bb


_LSH_SQL = f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
),
{_GEO_SQL},
{_PLANES_SQL},
bits AS (
    SELECT e.vec_id, p.plane_id,
           CASE WHEN list_dot_product(e.v, p.pv) > 0 THEN '1' ELSE '0' END AS bit
    FROM e, planes p
),
sigs AS (
    SELECT vec_id, string_agg(bit, '' ORDER BY plane_id) AS bucket_signature
    FROM bits GROUP BY vec_id
)
SELECT vec_id, bucket_signature, b.band_id,
       substr(bucket_signature, b.band_id * geo.bb + 1, geo.bb) AS band_sig
FROM sigs, geo, (SELECT unnest(range({N_BANDS})) AS band_id) b
"""


@register("ann_lsh_buckets", oracle=_LSH_SQL, tags=("similarity", "lsh"))
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH signatures, banded: per vector the (N_BANDS x band_bits)-
    bit signature plus one row per (band_id, band_sig) — the candidate-
    join keys at scale (equi-join on (band_id, band_sig), OR-of-bands
    semantics; see the geometry block comment for the size-derived
    bucket-count math). Hyperplanes = the first N_BANDS x band_bits
    corpus vectors, deterministic and oracle-reproducible."""
    e = _vecs(spark, sf_dir)
    bb, n_planes = _lsh_geometry(e)
    return (
        _with_signature(e, bb, n_planes)
        .select("vec_id", F.col("sig").alias("bucket_signature"), F.explode(_bands(bb)).alias("b"))
        .select("vec_id", "bucket_signature", "b.band_id", "b.band_sig")
    )


_PAIRS_SQL = """
WITH n AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
    FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
    WHERE vec_id % 20 = 0
),
scored AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           a.label AS label_a, b.label AS label_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, label_a, label_b, cosine
FROM scored WHERE cosine >= 0.3
"""


@register("embedding_cosine_pairs", oracle=_PAIRS_SQL, tags=("similarity", "near-dup"))
def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over a deterministic sample
    (vec_id % 20 == 0). All-pairs is O(n²) — this is the sampled VERIFY
    baseline only; embedding_neardup_lsh (bucketed equi-join, full corpus)
    is the primary path at scale."""
    n = (
        _vecs(spark, sf_dir)
        .filter(F.col("vec_id") % 20 == 0)
        .select("vec_id", "label", "v", _norm("v").alias("nrm"))
    )
    a = n.select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            "label_a",
            "label_b",
            F.round(_dot("va", "vb") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= 0.3)
    )


# ---------------------------------------------------------------------------
# LSH-bucketed near-dup pair scan: the PRIMARY embedding near-dup path.
# Candidates come from an equi-join on (band_id, band_sig) — any shared
# band of the 32-bit sign signature makes a pair a candidate (same
# OR-of-bands construction as dedup_minhash_lsh) — so the pair count is
# bounded by per-band bucket occupancy instead of O(n²); each candidate is
# then verified with the exact cosine. embedding_cosine_pairs is the
# sampled all-pairs verify baseline.

NEARDUP_COSINE = 0.3

_NEARDUP_LSH_SQL = f"""
WITH e AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
    FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
),
{_GEO_SQL},
{_PLANES_SQL},
bits AS (
    SELECT e.vec_id, p.plane_id,
           CASE WHEN list_dot_product(e.v, p.pv) > 0 THEN '1' ELSE '0' END AS bit
    FROM e, planes p
),
sigs AS (
    SELECT vec_id, string_agg(bit, '' ORDER BY plane_id) AS sig
    FROM bits GROUP BY vec_id
),
bands AS (
    SELECT vec_id, b.band_id,
           substr(sig, b.band_id * geo.bb + 1, geo.bb) AS band_sig
    FROM sigs, geo, (SELECT unnest(range({N_BANDS})) AS band_id) b
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                AND a.vec_id < b.vec_id
),
scored AS (
    SELECT c.vec_a, c.vec_b, ea.label AS label_a, eb.label AS label_b,
           round(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 6) AS cosine
    FROM cand c
    JOIN e ea ON ea.vec_id = c.vec_a
    JOIN e eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, label_a, label_b, cosine
FROM scored WHERE cosine >= {NEARDUP_COSINE}
"""


@register("embedding_neardup_lsh", oracle=_NEARDUP_LSH_SQL, tags=("similarity", "near-dup", "lsh"))
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus embedding near-dup pairs, banded sign-LSH:
    4 bands x band_bits over the size-derived signature (band_bits from
    _band_bits(n) — 8 on the committed fixtures, wider as the corpus
    grows; see the geometry block comment); a pair is a candidate iff it
    agrees on all bits of >=1 band, then every candidate is verified with
    the exact cosine. Per-band join-key cardinality is 2^band_bits >=
    n / LSH_TARGET_OCCUPANCY by construction, candidates are bounded by
    N_BANDS * sum(occupancy²)/2, NOT n². Stages: zero-shuffle signature
    (broadcast planes array), band explode carrying only (vec_id, keys),
    band equi-join, DISTINCT pair dedup (a pair can match several bands),
    then two id-joins back to the corpus for the exact-cosine verify — the
    heavy vector arrays never ride through the candidate join, identical
    in shape to dedup_minhash_lsh for documents.

    Similarity regime (measured by embedding_lsh_recall_eval): candidate
    recall is 1-(1-p^8)^4 with p = 1 - acos(cos)/pi — high for true
    duplicates (~74% at cosine 0.9, ~97% at 0.97) and intentionally low
    for merely-related pairs (~8% at 0.35). The 0.3 output threshold
    keeps the fixture result non-trivial; the operator's scale role is
    high-similarity dedup, with IVF as the low-threshold search path."""
    e = _vecs(spark, sf_dir).select("vec_id", "label", "v", _norm("v").alias("nrm"))
    bb, n_planes = _lsh_geometry(e)
    # checkpoint the banded keys ONCE before the self-join (mirror of
    # dedup_minhash_lsh's bucket checkpoint): un-materialized, BOTH join
    # sides replanned the whole signature pipeline — corpus scan, packed-
    # planes aggregation, n x n_planes sign dots, band explode — doubling
    # the FLOP-heavy stage and scanning embeddings 4x in one query
    # (interleaved A/B at sf0.1: 6 parquet scans -> 2, medians
    # 2.23 s -> 1.90 s). The checkpoint holds only
    # (vec_id, band_id, band_sig) — N_BANDS rows per vector, no vector
    # payloads.
    bands = (
        _with_signature(e, bb, n_planes)
        .select("vec_id", F.explode(_bands(bb)).alias("b"))
        .select("vec_id", "b.band_id", "b.band_sig")
        .localCheckpoint(eager=True)
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .selectExpr("a.vec_id AS vec_a", "b.vec_id AS vec_b")
        .distinct()
    )
    ea = e.selectExpr(
        "vec_id AS vec_a", "label AS label_a", "v AS va", "nrm AS na"
    )
    eb = e.selectExpr(
        "vec_id AS vec_b", "label AS label_b", "v AS vb", "nrm AS nb"
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .selectExpr(
            "vec_a",
            "vec_b",
            "label_a",
            "label_b",
            "round(aggregate(zip_with(va, vb, (x, y) -> x * y), 0D,"
            " (acc, x) -> acc + x) / (na * nb), 6) AS cosine",
        )
        .filter(F.col("cosine") >= NEARDUP_COSINE)
    )


# ---------------------------------------------------------------------------
# IVF-style coarse quantization: the third ANN scale path

N_CENTROIDS = 8  # vec_id < 8 double as the coarse codebook
N_PROBE = 3  # cells probed per query


# Shared IVF plumbing — builder side. Four scratch-built IVF queries
# (cells / topk / pq / range, plus their recall evals via composition)
# need the same assign-and-probe mechanics; any tie-break or ranking fix
# lands HERE once, mirrored once in the SQL fragments below. `carry_vec`
# widens the assign groupBy to haul (v, nrm) through for downstream
# exact scoring (topk/range); cells/PQ keep the narrow (vec_id)-only
# aggregate so the shuffle never carries 64-double payloads it won't read.

def _ivf_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(normalized corpus, broadcast-sized centroid codebook)."""
    n = _vecs(spark, sf_dir).select("vec_id", "v", _norm("v").alias("nrm"))
    cent = n.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
    )
    return n, cent


def _cent_row(cent: DataFrame) -> DataFrame:
    """The centroid codebook packed into ONE row as a cent_id-sorted array
    of (cent_id, cv, cnrm) structs — broadcast-crossJoined against the
    corpus so assignment/probing are narrow per-row array folds (the
    embedding_kmeans_iter packed-plane pattern)."""
    return cent.agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "cv", "cnrm"))).alias("cents")
    )


def _ivf_assign(n: DataFrame, cent: DataFrame, carry_vec: bool) -> DataFrame:
    """Nearest-centroid cell per vector (rounded cosine, low-id tiebreak).

    ZERO-shuffle: the codebook collapses into one broadcast row and each
    vector folds over it for its argmax cell — a narrow per-row
    expression. The r14 shape (crossJoin to n×k rows, then
    groupBy(vec_id[, v, nrm]).max_by) paid an n×k exchange carrying the
    64-dim vector; at corpus scale that shuffle, not the FLOPs, was the
    assignment cost. Scores are identical (same round(·,6), same
    cent_id·1e-12 tiebreak term, so scores are distinct per centroid and
    array_max picks exactly max_by's winner)."""
    # ONE parsed SQL expression (the Column-lambda chain cost ~140
    # gateway roundtrips of plan construction per call; the parsed tree
    # is identical — 0D is the double literal F.lit(0.0) built)
    best_cell = (
        "array_max(transform(cents, c -> named_struct("
        "'score', round(aggregate(zip_with(v, c.cv, (x, y) -> x * y),"
        " 0D, (acc, x) -> acc + x) / (nrm * c.cnrm), 6)"
        " - c.cent_id * 1e-12, "
        "'cell', c.cent_id))).cell AS cell"
    )
    keys = ("vec_id", "v", "nrm") if carry_vec else ("vec_id",)
    return (
        n.crossJoin(F.broadcast(_cent_row(cent)))
        .selectExpr(*keys, best_cell)
    )


def _ivf_probes(n: DataFrame, cent: DataFrame, carry_query_vec: bool) -> DataFrame:
    """Top-N_PROBE nearest cells per query vector, optionally hauling the
    query vector/norm along for downstream exact scoring.

    Narrow per-row: each query folds over the broadcast packed codebook,
    sorts its k (−psim, cent_id) structs and explodes the first N_PROBE —
    same (psim desc, cent_id asc) order the r14 row_number window used,
    without the window's exchange+sort in the broadcast-build subtree."""
    qcols = ["qv", "qn"] if carry_query_vec else []
    # ONE parsed SQL expression (same rationale as _ivf_assign)
    probe_cells = (
        "explode(slice(array_sort(transform(cents, c -> named_struct("
        "'negp', -round(aggregate(zip_with(qv, c.cv, (x, y) -> x * y),"
        " 0D, (acc, x) -> acc + x) / (qn * c.cnrm), 6), "
        f"'cell', c.cent_id))), 1, {N_PROBE})) AS _pr"
    )
    return (
        n.filter(f"vec_id < {N_QUERIES}")
        .selectExpr("vec_id AS query_id", "v AS qv", "nrm AS qn")
        .crossJoin(F.broadcast(_cent_row(cent)))
        .selectExpr("query_id", *qcols, probe_cells)
        .selectExpr("query_id", *qcols, "_pr.cell AS cell")
    )


# Shared IVF plumbing — oracle side. The composed SQL is byte-identical
# to the strings the fragments replaced, so proofs keyed on oracle text
# are unaffected. `_IVF_ASSIGN_WIDE_CTE` mirrors carry_vec=True.

_IVF_N_CENT_CTE = f"""n AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
    FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
),
cent AS (
    SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < {N_CENTROIDS}
)"""

_IVF_ASSIGN_WIDE_CTE = """assign AS (
    SELECT n.vec_id, n.v, n.nrm,
           arg_max(c.cent_id, round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6)
                              - c.cent_id * 1e-12) AS cell
    FROM n, cent c
    GROUP BY n.vec_id, n.v, n.nrm
)"""

_IVF_ASSIGN_NARROW_CTE = """assign AS (
    SELECT n.vec_id,
           arg_max(c.cent_id, round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6)
                              - c.cent_id * 1e-12) AS cell
    FROM n, cent c
    GROUP BY n.vec_id
)"""

_IVF_PROBES_CTE = f"""probes AS (
    SELECT q.vec_id AS query_id, c.cent_id AS cell,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_dot_product(q.v, c.cv) / (q.nrm * c.cnrm), 6) DESC,
                        c.cent_id) AS probe_rank
    FROM n q, cent c
    WHERE q.vec_id < {N_QUERIES}
)"""


_IVF_SQL = f"""
WITH {_IVF_N_CENT_CTE},
{_IVF_ASSIGN_NARROW_CTE}
SELECT cell, count(*) AS n_vectors, min(vec_id) AS min_vec_id
FROM assign GROUP BY cell
"""


@register("ann_ivf_cells", oracle=_IVF_SQL, tags=("similarity", "ivf"))
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid
    (codebook = the first 8 corpus vectors, deterministic) and report cell
    occupancy. At scale the ANN search probes only the query's nearest
    cells instead of the corpus — the classic IVF-flat layout; cell
    assignment is one broadcast join + argmax, partitionable by cell for
    downstream probing. Ties on rounded similarity break toward the lower
    centroid id in both engines."""
    n, cent = _ivf_corpus(spark, sf_dir)
    assign = _ivf_assign(n, cent, carry_vec=False)
    return assign.groupBy("cell").agg(
        F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id")
    )


_SAMPLE_SQL = """
SELECT vec_id, label
FROM embeddings
WHERE ascii(substr(md5(vec_id::VARCHAR), 1, 1)) % 10 < 2
"""


@register("deterministic_sample", oracle=_SAMPLE_SQL, tags=("sampling",))
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based Bernoulli sampling (~20%): reproducible across engines,
    runs, and partitionings — unlike rand()-based TABLESAMPLE. The pattern
    a 100 TB pipeline uses for holdout splits and data audits."""
    e = table(spark, sf_dir, "embeddings")
    keep = F.ascii(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)) % 10 < 2
    return e.filter(keep).select("vec_id", "label")


# ---------------------------------------------------------------------------
# End-to-end IVF-flat search: assign -> probe -> rank (completes the ANN
# story: ann_cosine_topk is the exact baseline, ann_ivf_topk the scale path)

# ``cand_excl`` appends an extra predicate to the candidate WHERE (the
# erasure oracle excludes tombstoned vectors from the searchable set);
# default "" keeps the shared oracle byte-identical.
def _ivf_topk_sql(cand_excl: str = "") -> str:
    return f"""
WITH {_IVF_N_CENT_CTE},
{_IVF_ASSIGN_WIDE_CTE},
{_IVF_PROBES_CTE},
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id, a.v, a.nrm
    FROM (SELECT query_id, cell FROM probes WHERE probe_rank <= {N_PROBE}) p
    JOIN assign a ON a.cell = p.cell
    WHERE a.vec_id != p.query_id{cand_excl}
),
scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           round(list_dot_product(q.v, cand.v) / (q.nrm * cand.nrm), 6) AS cosine
    FROM cand JOIN n q ON q.vec_id = cand.query_id
),
ranked AS (
    SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


_IVF_TOPK_SQL = _ivf_topk_sql()


@register("ann_ivf_topk", oracle=_IVF_TOPK_SQL, tags=("similarity", "ivf", "topk"))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF-flat ANN search. Corpus vectors are assigned to their
    nearest of 8 deterministic centroids (one broadcast join + argmax);
    each query probes its 3 nearest cells and ranks cosine only within the
    probed cells. At 100 TB the assignment is written partitioned-by-cell
    so a probe is a partition-pruned scan of ~nprobe/ncells of the corpus,
    and the per-query candidate set joins on cell (equi-join, no full
    cross). Deterministic: rounded cosines, id tiebreaks everywhere."""
    n, cent = _ivf_corpus(spark, sf_dir)
    assign = _ivf_assign(n, cent, carry_vec=True)
    probes = _ivf_probes(n, cent, carry_query_vec=True)

    scored = (
        assign.join(F.broadcast(probes), on="cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_dot("qv", "v") / (F.col("qn") * F.col("nrm")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# stratified sampling: per-class rates for training-set rebalancing

_STRAT_SQL = """
SELECT vec_id, label
FROM embeddings
WHERE ascii(substr(md5(vec_id::VARCHAR), 1, 1)) % 10
      < CASE WHEN label % 2 = 0 THEN 2 ELSE 5 END
"""


@register("stratified_sample", oracle=_STRAT_SQL, tags=("sampling", "stratified"))
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class deterministic sampling (~20% of even labels, ~50% of odd) —
    the class-rebalancing primitive of a training-data pipeline. The keep
    decision is a pure hash of the row key, so the sample is reproducible
    across engines, runs, and partitionings, and composes with any
    downstream filter; no shuffle, no rand()."""
    e = table(spark, sf_dir, "embeddings")
    rate = F.when(F.col("label") % 2 == 0, F.lit(2)).otherwise(F.lit(5))
    keep = F.ascii(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)) % 10 < rate
    return e.filter(keep).select("vec_id", "label")


# ---------------------------------------------------------------------------
# k-means (Lloyd's) iterations: the IVF codebook TRAINING step
#
# ann_ivf_* use a fixed deterministic codebook; this op trains one with
# KMEANS_ITERS rounds of assign → recenter. Every float op is identical
# across engines: distances use |v-c|² = |v|² - 2·v·c + |c|² with
# sequential-fold dot products, per-dimension means are rounded to 6
# before centroids feed the next round, and argmin ties break toward the
# lower centroid id — so the whole iteration is deterministic and the
# oracle is the same recursion unrolled as CTEs.

KMEANS_K = 8
KMEANS_ITERS = 3
_EMB_DIM = 64  # fixture embedding dimensionality (oracle unrolls over it)


def _kmeans_sql() -> str:
    parts = [
        """n AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) AS vn2
    FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
)""",
        f"""cent0 AS (
    SELECT vec_id AS cent_id, v AS cv,
           list_sum(list_transform(v, x -> x * x)) AS cn2
    FROM n WHERE vec_id < {KMEANS_K}
)""",
    ]
    for t in range(1, KMEANS_ITERS + 1):
        parts.append(f"""assign{t} AS (
    SELECT n.vec_id, n.v,
           arg_min(c.cent_id,
                   round(n.vn2 - 2 * list_dot_product(n.v, c.cv) + c.cn2, 6)
                   + c.cent_id * 1e-12) AS cell
    FROM n, cent{t - 1} c
    GROUP BY n.vec_id, n.v
)""")
        parts.append(f"""dims{t} AS (
    SELECT cell, r.range AS dim, round(avg(v[r.range + 1]), 6) AS m
    FROM assign{t}, range({_EMB_DIM}) r
    GROUP BY cell, r.range
)""")
        parts.append(f"""cent{t} AS (
    SELECT cell AS cent_id, list(m ORDER BY dim) AS cv,
           list_sum(list_transform(list(m ORDER BY dim), x -> x * x)) AS cn2
    FROM dims{t}
    GROUP BY cell
)""")
    final = f"""
SELECT a.cell, count(*) AS n_vectors,
       array_to_string(list_transform(min(c.cv), x -> round(x * 1000000)::BIGINT), ',')
           AS centroid
FROM assign{KMEANS_ITERS} a JOIN cent{KMEANS_ITERS} c ON c.cent_id = a.cell
GROUP BY a.cell
"""
    return "WITH " + ",\n".join(parts) + final


@register("embedding_kmeans_iter", oracle=_kmeans_sql(), tags=("similarity", "kmeans", "iterative"))
def embedding_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three Lloyd's iterations of k-means (k=8, seeded from the first 8
    corpus vectors) — training the coarse codebook the ann_ivf_* queries
    consume. Per round: the k centroids pack into a 1-row broadcast array
    and every corpus vector computes its argmin cell as a narrow per-row
    expression — the assignment step shuffles NOTHING — then recentering
    is ONE wide hash agg per round (count + d per-dim avgs,
    partial-aggregated to k rows map-side), so the only exchange per
    iteration carries k rows per map task. Centroids are checkpointed per
    round (k rows) so lineage stays flat; the final round's agg emits
    cell sizes AND centroids together, so the whole query is exactly
    KMEANS_ITERS corpus passes with no corpus-sized checkpoint.
    Output: final cell sizes + centroid vectors."""
    # every per-row expression here is ONE parsed SQL string, built once
    # and reused across iterations — the Column-lambda construction
    # (aggregate/zip_with/transform chains) cost ~150 gateway roundtrips
    # PER ITERATION of plan construction, paid inside every timed run;
    # the parsed trees are identical (0D is the double literal
    # F.lit(0.0) built)
    sumsq = "aggregate(transform({0}, x -> x * x), 0D, (a, x) -> a + x)"
    n = _vecs(spark, sf_dir).select(
        "vec_id", "v", F.expr(sumsq.format("v") + " AS vn2")
    )
    cent = n.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.expr(sumsq.format("v") + " AS cn2"),
    )
    pack_cents = F.expr("array_sort(collect_list(struct(cent_id, cv, cn2))) AS cents")
    best_cell = F.expr(
        "array_min(transform(cents, c -> named_struct("
        "'score', CAST(round(vn2 - 2 * aggregate(zip_with(v, c.cv, "
        "(a, b) -> a * b), 0D, (s, x) -> s + x) + c.cn2, 6) "
        "+ c.cent_id * 1e-12 AS DOUBLE), "
        "'cell', CAST(c.cent_id AS BIGINT)))).cell AS cell"
    )
    assign = None
    for it in range(KMEANS_ITERS):
        # ZERO-SHUFFLE assignment: the k centroids collapse into ONE row
        # holding a cent_id-sorted array of (cent_id, cv, cn2) structs; that
        # row broadcasts and each corpus vector folds over the array to find
        # its argmin centroid — a narrow per-row expression. The previous
        # shape (crossJoin to n×k rows, then groupBy(vec_id).min_by) paid an
        # n-row exchange carrying the 64-dim vector EVERY iteration; at
        # corpus scale that shuffle — not the FLOPs — is the iteration cost.
        # Same pattern as the sign-LSH 1-row packed plane broadcast.
        # Tie semantics unchanged: score = round(dist², 6) + cent_id·1e-12 is
        # unique per centroid, and array_min over (score, cent_id) structs
        # (lexicographic: score first) picks the same winner as min_by did;
        # the DuckDB oracle is the identical arg_min recursion. transform
        # computes each centroid's score exactly once.
        cent_row = cent.agg(pack_cents)
        assign = (
            n.crossJoin(F.broadcast(cent_row))
            .select("vec_id", "v", best_cell)
        )
        # recentering is ONE wide hash agg: per cell, count + an array of
        # 64 per-dim sums (a single F.expr so plan construction is one
        # py4j call, and 65 agg buffer fields keeps whole-stage codegen
        # under spark.sql.codegen.maxFields). Map-side partial
        # aggregation collapses every task to k rows before the
        # exchange, so the shuffle carries k rows per map task instead
        # of the n·d (cell, dim, val) rows the posexplode shape
        # generated and hash-probed per element; the dims→cent
        # reassembly agg (second exchange) disappears because the sums
        # pack straight into the centroid array. round(sum/count, 6) is
        # exactly round(avg, 6) — Average IS Divide(sum, count cast to
        # double) — and reduction order is arbitrary in both shapes,
        # exactly as the oracle's avg.
        recentered = (
            assign.groupBy(F.col("cell").alias("cent_id"))
            .agg(
                F.count("*").alias("n_vectors"),
                F.expr(
                    "array(" + ", ".join(f"sum(v[{d}])" for d in range(_EMB_DIM)) + ")"
                ).alias("_sums"),
            )
            .select(
                "cent_id",
                "n_vectors",
                F.expr(
                    "transform(_sums, s -> round(s / cast(n_vectors AS double), 6))"
                ).alias("cv"),
            )
        )
        if it < KMEANS_ITERS - 1:
            cent = recentered.select(
                "cent_id", "cv", F.expr(sumsq.format("cv") + " AS cn2")
            ).localCheckpoint(eager=True)
    # the final round's wide agg already carries BOTH outputs (cell sizes
    # + recentered centroids), so the n-row final-assignment checkpoint
    # and the 8×8 readout join are gone — one corpus pass total
    return recentered.select(
        F.col("cent_id").alias("cell"),
        "n_vectors",
        # gate-safe serialization: pandas canonicalization can't hash list
        # cells, so the vector is emitted as micro-scaled integers (the
        # values are already rounded to 6 decimals, so x*1e6 is integral
        # up to float noise on BOTH engines)
        F.array_join(
            F.transform(
                "cv", lambda x: F.round(x * 1000000).cast("bigint").cast("string")
            ),
            ",",
        ).alias("centroid"),
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) encoding: compress each 64-dim vector to 8
# subspace codes against a deterministic codebook (vec_id < PQ_K per
# subspace), the memory-compression companion to the IVF queries — an
# IVF-PQ index stores these codes instead of raw vectors (Jégou et al.
# 2011, "Product Quantization for Nearest Neighbor Search")

PQ_M = 8  # subspaces
PQ_D = 8  # dims per subspace (PQ_M * PQ_D = 64 = fixture dim)
PQ_K = 4  # codes per subspace (vec_id < 4 seed the codebook)

_PQ_SQL = f"""
WITH n AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
),
sub AS (
    SELECT vec_id, s.range AS sub_id,
           v[(s.range * {PQ_D} + 1):(s.range * {PQ_D} + {PQ_D})] AS sv
    FROM n, range({PQ_M}) s
),
cb AS (
    SELECT vec_id AS code, sub_id, sv AS cv FROM sub WHERE vec_id < {PQ_K}
),
best AS (
    SELECT a.vec_id, a.sub_id,
           arg_min(b.code,
                   round(list_sum(list_transform(range(1, {PQ_D + 1}),
                         i -> (a.sv[i] - b.cv[i]) * (a.sv[i] - b.cv[i]))), 6)
                   + b.code * 1e-12) AS code,
           min(round(list_sum(list_transform(range(1, {PQ_D + 1}),
                     i -> (a.sv[i] - b.cv[i]) * (a.sv[i] - b.cv[i]))), 6))
               AS sub_err
    FROM sub a JOIN cb b ON b.sub_id = a.sub_id
    GROUP BY a.vec_id, a.sub_id
)
SELECT vec_id,
       array_to_string(list(code ORDER BY sub_id), ',') AS pq_code,
       round(sum(sub_err), 6) AS quant_err
FROM best GROUP BY vec_id
"""


@register("embedding_pq_encode", oracle=_PQ_SQL, tags=("similarity", "pq", "compression"))
def embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: each vector's 8 subspaces are matched
    to the nearest of 4 codebook entries (L2, rounded to 6, ties to the
    lower code), yielding an 8-byte code plus total quantization error.

    Zero-shuffle on the corpus: the codebook (PQ_K rows) collapses to a
    single array row, broadcast-cross-joined in, and the whole
    argmin-per-subspace runs as nested higher-order functions inside one
    projection — the corpus is scanned once, codes emitted in place. At
    100 TB this is a pure map stage; only the k-row codebook ever moves."""
    n = _vecs(spark, sf_dir).select("vec_id", "v")
    cb = (
        n.filter(F.col("vec_id") < PQ_K)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("vec_id").alias("code"), F.col("v").alias("cv")))
            ).alias("cb")
        )
    )
    dist = (
        f"round(aggregate(zip_with(slice(v, s * {PQ_D} + 1, {PQ_D}),"
        f"                         slice(c.cv, s * {PQ_D} + 1, {PQ_D}),"
        f"                         (x, y) -> (x - y) * (x - y)),"
        f"                cast(0.0 as double), (a, x) -> a + x), 6)"
    )
    codes_errs = F.expr(
        f"transform(sequence(0, {PQ_M - 1}), s -> "
        f"  aggregate("
        f"    transform(cb, c -> named_struct("
        f"      'code', c.code, 'd', {dist} + c.code * 1e-12, 'err', {dist})),"
        f"    named_struct('code', cast(-1 as bigint),"
        f"                 'd', cast(1e18 as double), 'err', cast(0.0 as double)),"
        f"    (acc, e) -> IF(e.d < acc.d, e, acc)))"
    )
    enc = n.crossJoin(F.broadcast(cb)).select(
        "vec_id", codes_errs.alias("ce")
    )
    return enc.select(
        "vec_id",
        # comma-joined code string (positional, sub_id order) — the gate's
        # pandas canonicalization can't hash list cells
        F.expr("array_join(transform(ce, x -> cast(x.code as string)), ',')").alias(
            "pq_code"
        ),
        F.round(
            F.expr("aggregate(transform(ce, x -> x.err), cast(0.0 as double), (a, x) -> a + x)"),
            6,
        ).alias("quant_err"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the composed ANN index — coarse IVF probing (ann_ivf_*) plus
# asymmetric PQ distance (embedding_pq_encode) instead of exact vectors.
# At scale the index stores only cell + 8 codes per vector (9 bytes vs
# 256 for raw floats); candidates are scored against the query through
# the codebook (ADC, Jégou et al. 2011) without touching raw vectors.

_IVF_PQ_SQL = f"""
WITH {_IVF_N_CENT_CTE},
{_IVF_ASSIGN_NARROW_CTE},
{_IVF_PROBES_CTE},
sub AS (
    SELECT vec_id, s.range AS sub_id,
           v[(s.range * {PQ_D} + 1):(s.range * {PQ_D} + {PQ_D})] AS sv
    FROM n, range({PQ_M}) s
),
cb AS (
    SELECT vec_id AS code, sub_id, sv AS cv8 FROM sub WHERE vec_id < {PQ_K}
),
codes AS (
    SELECT a.vec_id, a.sub_id,
           arg_min(b.code,
                   round(list_sum(list_transform(range(1, {PQ_D + 1}),
                         i -> (a.sv[i] - b.cv8[i]) * (a.sv[i] - b.cv8[i]))), 6)
                   + b.code * 1e-12) AS code
    FROM sub a JOIN cb b ON b.sub_id = a.sub_id
    GROUP BY a.vec_id, a.sub_id
),
adc AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           round(list_sum(list_transform(range(1, {PQ_D + 1}),
                 i -> (qs.sv[i] - b.cv8[i]) * (qs.sv[i] - b.cv8[i]))), 6) AS d
    FROM (SELECT query_id, cell FROM probes WHERE probe_rank <= {N_PROBE}) p
    JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id
    JOIN codes s ON s.vec_id = a.vec_id
    JOIN cb b ON b.sub_id = s.sub_id AND b.code = s.code
    JOIN sub qs ON qs.vec_id = p.query_id AND qs.sub_id = s.sub_id
),
summed AS (
    SELECT query_id, neighbor_id, round(sum(d), 6) AS approx_dist
    FROM adc GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, approx_dist, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY approx_dist, neighbor_id) AS rank
    FROM summed)
WHERE rank <= {TOP_K}
"""


@register("ann_ivf_pq_topk", oracle=_IVF_PQ_SQL, tags=("similarity", "ivf", "pq", "topk"))
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ ANN search: queries probe their 3 nearest
    coarse cells, and candidates in those cells are ranked by ASYMMETRIC
    PQ distance — the query's exact subvectors against each candidate's
    quantized codebook entries — so the raw corpus vectors are never
    read at query time, only (cell, 8 codes) per vector.

    Scale shape: assignment and coding are broadcast joins against the
    two tiny codebooks; the probe→candidate expansion is an equi-join on
    cell; the ADC join fans each candidate out to its 8 (sub, code) rows
    against a broadcast codebook and broadcast query slices, then one
    hash agg folds them back. Deterministic via rounded distances and id
    tiebreaks at every argmin/rank."""
    n, cent = _ivf_corpus(spark, sf_dir)
    assign = _ivf_assign(n, cent, carry_vec=False)
    probes = _ivf_probes(n, cent, carry_query_vec=False)
    sub = n.select(
        "vec_id",
        F.expr(
            f"explode(transform(sequence(0, {PQ_M - 1}),"
            f" s -> struct(s AS sub_id, slice(v, s * {PQ_D} + 1, {PQ_D}) AS sv)))"
        ).alias("e"),
    ).select("vec_id", F.col("e.sub_id").alias("sub_id"), F.col("e.sv").alias("sv"))
    cb = sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("code"), "sub_id", F.col("sv").alias("cv8")
    )
    sqdist = F.round(
        F.aggregate(
            F.zip_with(F.col("sv"), F.col("cv8"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    codes = (
        sub.join(F.broadcast(cb), "sub_id")
        .groupBy("vec_id", "sub_id")
        .agg(F.min_by("code", sqdist + F.col("code") * 1e-12).alias("code"))
    )
    qsub = sub.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "sub_id", F.col("sv").alias("qsv")
    )
    qdist = F.round(
        F.aggregate(
            F.zip_with(F.col("qsv"), F.col("cv8"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    adc = (
        probes.join(assign.withColumnRenamed("vec_id", "neighbor_id"), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(cb), ["sub_id", "code"])
        .join(F.broadcast(qsub), ["query_id", "sub_id"])
        .select("query_id", "neighbor_id", qdist.alias("d"))
    )
    summed = adc.groupBy("query_id", "neighbor_id").agg(
        F.round(F.sum("d"), 6).alias("approx_dist")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("neighbor_id"))
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "approx_dist", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# recall@k evaluation: both approximate indexes graded against the exact
# brute-force baseline — the similarity-family twin of
# dedup_lsh_vs_exact_eval (every approximation in this engine ships with
# its own acceptance report)

_ANN_RECALL_SQL = f"""
WITH exact_pairs AS (SELECT query_id, neighbor_id FROM ({_TOPK_SQL}) e),
ivf_pairs AS (SELECT query_id, neighbor_id FROM ({_IVF_TOPK_SQL}) i),
pq_pairs AS (SELECT query_id, neighbor_id FROM ({_IVF_PQ_SQL}) p),
per_query AS (
    SELECT x.query_id,
           count(*) AS k,
           count(i.neighbor_id) AS ivf_hits,
           count(p.neighbor_id) AS pq_hits
    FROM exact_pairs x
    LEFT JOIN ivf_pairs i
      ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
    LEFT JOIN pq_pairs p
      ON p.query_id = x.query_id AND p.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
)
SELECT query_id, k, ivf_hits, pq_hits,
       round(ivf_hits * 1.0 / k, 4) AS ivf_recall,
       round(pq_hits * 1.0 / k, 4) AS pq_recall
FROM per_query
"""


@register("ann_recall_eval", oracle=_ANN_RECALL_SQL, tags=("similarity", "evaluation", "recall"))
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 per query for BOTH approximate indexes (IVF-flat and
    IVF-PQ) against the exact brute-force top-k: each exact neighbor is
    left-joined into each index's result set and hits are counted — the
    acceptance report run before an approximate index replaces the exact
    scan. All three result sets are tiny (queries x k), so the grading
    joins are broadcast no-ops regardless of corpus size."""
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = (
        ann_ivf_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("ivf_hit", F.lit(1))
    )
    pq = (
        ann_ivf_pq_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("pq_hit", F.lit(1))
    )
    per_query = (
        exact.join(F.broadcast(ivf), ["query_id", "neighbor_id"], "left")
        .join(F.broadcast(pq), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("k"),
            F.count("ivf_hit").alias("ivf_hits"),
            F.count("pq_hit").alias("pq_hits"),
        )
    )
    return per_query.select(
        "query_id",
        "k",
        "ivf_hits",
        "pq_hits",
        F.round(F.col("ivf_hits") * 1.0 / F.col("k"), 4).alias("ivf_recall"),
        F.round(F.col("pq_hits") * 1.0 / F.col("k"), 4).alias("pq_recall"),
    )


# ---------------------------------------------------------------------------
# cluster-quality report over the labeled embeddings: intra-cluster
# cohesion vs centroid separation — the simplified-silhouette acceptance
# check run on a clustering (or on labels, as here) before it is trusted

_EMB_DIM = 64


def _cluster_quality_sql() -> str:
    return f"""
WITH n AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
),
dims AS (
    SELECT label, r.range AS dim, round(avg(v[r.range + 1]), 6) AS m
    FROM n, range({_EMB_DIM}) r
    GROUP BY label, r.range
),
cent AS (
    SELECT label, list(m ORDER BY dim) AS cv FROM dims GROUP BY label
),
intra AS (
    SELECT n.label,
           count(*) AS n_vectors,
           round(avg(sqrt(list_sum(list_transform(range(1, {_EMB_DIM + 1}),
                 i -> (n.v[i] - c.cv[i]) * (n.v[i] - c.cv[i]))))), 6)
               AS mean_intra_dist
    FROM n JOIN cent c ON c.label = n.label
    GROUP BY n.label
),
sep AS (
    SELECT a.label,
           min(round(sqrt(list_sum(list_transform(range(1, {_EMB_DIM + 1}),
                 i -> (a.cv[i] - b.cv[i]) * (a.cv[i] - b.cv[i])))), 6))
               AS nearest_centroid_dist
    FROM cent a JOIN cent b ON b.label != a.label
    GROUP BY a.label
)
SELECT i.label, i.n_vectors, i.mean_intra_dist, s.nearest_centroid_dist,
       round(s.nearest_centroid_dist / i.mean_intra_dist, 4) AS separation_ratio
FROM intra i JOIN sep s ON s.label = i.label
"""


@register("embedding_cluster_quality", oracle=_cluster_quality_sql(), tags=("similarity", "evaluation", "clusters"))
def embedding_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cluster quality: mean distance to the label centroid
    (cohesion) against the distance to the nearest OTHER centroid
    (separation) and their ratio — a simplified-silhouette report; ratio
    < 1 means the label's members sit closer to a rival centroid than to
    their own on average.

    Scale shape: centroids via the k-means recenter pattern (posexplode →
    per-(label, dim) mean → re-assemble k tiny arrays); the cohesion pass
    broadcasts the k centroids against the corpus (corpus never
    shuffles for the join); the separation pass is k x k over the
    centroid table only."""
    n = _vecs(spark, sf_dir).select("vec_id", "label", "v")
    dims = (
        n.select("label", F.posexplode("v").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("val"), 6).alias("m"))
    )
    cent = dims.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda x: x["m"]
        ).alias("cv")
    )
    l2 = lambda a, b: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    intra = (
        n.join(F.broadcast(cent), "label")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg(l2(F.col("v"), F.col("cv"))), 6).alias("mean_intra_dist"),
        )
    )
    a = cent.select(F.col("label").alias("label"), F.col("cv").alias("cva"))
    b = cent.select(F.col("label").alias("label_b"), F.col("cv").alias("cvb"))
    sep = (
        a.join(F.broadcast(b), F.col("label_b") != F.col("label"))
        .groupBy("label")
        .agg(F.min(F.round(l2(F.col("cva"), F.col("cvb")), 6)).alias("nearest_centroid_dist"))
    )
    return (
        intra.join(sep, "label")
        .select(
            "label",
            "n_vectors",
            "mean_intra_dist",
            "nearest_centroid_dist",
            F.round(
                F.col("nearest_centroid_dist") / F.col("mean_intra_dist"), 4
            ).alias("separation_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization: the second compression path next to PQ

_SQ8_SQL = """
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
),
d AS (
    SELECT i.i AS dim, min(v[i.i]) AS lo, max(v[i.i]) AS hi
    FROM e, (SELECT unnest(range(1, (SELECT max(len(v)) FROM e) + 1)) AS i) i
    GROUP BY i.i
),
scales AS (
    SELECT list(lo ORDER BY dim) AS lo, list(hi ORDER BY dim) AS hi FROM d
),
err AS (
    SELECT vec_id,
           list_transform(v, (x, i) ->
               CASE WHEN hi[i] - lo[i] = 0 THEN x - lo[i]
                    ELSE x - (lo[i] + floor(255 * (x - lo[i]) / (hi[i] - lo[i]) + 0.5)
                                       / 255 * (hi[i] - lo[i]))
               END) AS errs,
           len(v) AS dim
    FROM e, scales
)
SELECT vec_id,
       dim,
       round(list_sum(list_transform(errs, x -> x * x)) / dim, 9) AS mse,
       round(list_max(list_transform(errs, x -> abs(x))), 6) AS max_abs_err
FROM err
"""


@register("embedding_sq8_error", oracle=_SQ8_SQL, tags=("similarity", "compression"))
def embedding_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization audit: encode every embedding to uint8
    codes against per-dimension corpus [min, max] ranges, decode, and
    report per-vector reconstruction error (mse, max-abs). The compression
    decision input next to embedding_pq_encode — SQ8 is 4x smaller than
    float32 with one multiply per dim at query time.

    Scale shape: per-dim ranges are a posexplode + 64-key groupBy (rows =
    n·d but the shuffle carries only (dim, x) pairs), collapsed to a
    single broadcast row of [lo], [hi] arrays; encode/decode/error is then
    a zero-shuffle projection over the corpus — the exact pattern of the
    PQ codebook. Quantizer uses floor(y + 0.5), NOT round(): Spark rounds
    half-up, DuckDB half-even, so round() would silently diverge on exact
    .5 boundaries. Constant dims (hi == lo) encode to code 0, decode to lo."""
    e = _vecs(spark, sf_dir).select("vec_id", "v")
    d = (
        e.select(F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )
    scales = d.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "lo"))), lambda s: s["lo"]
        ).alias("lo"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "hi"))), lambda s: s["hi"]
        ).alias("hi"),
    )
    errs = F.expr(
        """
        transform(v, (x, i) ->
            CASE WHEN element_at(hi, i + 1) - element_at(lo, i + 1) = 0D
                 THEN x - element_at(lo, i + 1)
                 ELSE x - (element_at(lo, i + 1)
                           + floor(255D * (x - element_at(lo, i + 1))
                                   / (element_at(hi, i + 1) - element_at(lo, i + 1)) + 0.5D)
                             / 255D * (element_at(hi, i + 1) - element_at(lo, i + 1)))
            END)
        """
    )
    return (
        e.crossJoin(F.broadcast(scales))
        .select("vec_id", F.size("v").cast("long").alias("dim"), errs.alias("errs"))
        .select(
            "vec_id",
            "dim",
            F.round(
                F.aggregate(
                    F.transform("errs", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
                )
                / F.col("dim"),
                9,
            ).alias("mse"),
            F.round(F.array_max(F.transform("errs", F.abs)), 6).alias("max_abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# approximation-quality evaluation: banded sign-LSH vs exact cosine pairs

_LSH_RECALL_SQL = f"""
WITH lsh AS (
    SELECT vec_a, vec_b FROM ({_NEARDUP_LSH_SQL}) l
    WHERE vec_a % 20 = 0 AND vec_b % 20 = 0
),
ex AS (SELECT vec_a, vec_b, cosine FROM ({_PAIRS_SQL}) e)
SELECT floor(ex.cosine * 10) / 10 AS cos_bucket,
       count(*) AS n_exact,
       count(lsh.vec_a) AS n_hit,
       round(count(lsh.vec_a) * 1.0 / count(*), 6) AS recall
FROM ex LEFT JOIN lsh ON ex.vec_a = lsh.vec_a AND ex.vec_b = lsh.vec_b
GROUP BY 1
"""


@register("embedding_lsh_recall_eval", oracle=_LSH_RECALL_SQL, tags=("similarity", "evaluation"))
def embedding_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the banded sign-LSH near-dup path against the exact
    all-pairs cosine baseline, STRATIFIED BY COSINE, on the deterministic
    sample where the exact side is affordable (vec_id % 20 == 0, the
    embedding_cosine_pairs set). Precision is 1.0 by construction (every
    LSH candidate is verified with the exact cosine before emission), so
    the report is per-bucket recall — and the stratification is the whole
    point: sign-LSH recall is sharply similarity-dependent. A bit agrees
    with probability p = 1 - acos(cos)/pi, a band with p^band_bits, and
    any-of-N_BANDS with 1-(1-p^bb)^4 — at the fixtures' derived bb=8:
    ~8% at cosine 0.35, ~74% at 0.9,
    ~97% at 0.97. This eval documents that the banding is the
    HIGH-similarity near-dup path (true duplicates, cosine >= ~0.9);
    low-threshold similarity search belongs to the IVF family
    (ann_ivf_topk / ann_ivf_pq_topk), which partitions by cell instead of
    agreeing on sign patterns. Same grading pattern as
    dedup_lsh_vs_exact_eval for MinHash-LSH."""
    lsh = (
        embedding_neardup_lsh(spark, sf_dir)
        .filter((F.col("vec_a") % 20 == 0) & (F.col("vec_b") % 20 == 0))
        .select("vec_a", "vec_b")
        .withColumn("in_lsh", F.lit(True))
    )
    ex = embedding_cosine_pairs(spark, sf_dir).select("vec_a", "vec_b", "cosine")
    return (
        ex.join(lsh, ["vec_a", "vec_b"], "left")
        .groupBy((F.floor(F.col("cosine") * 10) / 10).alias("cos_bucket"))
        .agg(
            F.count("*").alias("n_exact"),
            F.count("in_lsh").alias("n_hit"),
            F.round(F.count("in_lsh") * 1.0 / F.count("*"), 6).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# per-dimension feature statistics: the normalization-constant pass a
# feature pipeline runs before scaling / whitening embedding columns

_DIM_STATS_SQL = """
WITH dims AS (
    SELECT s.d AS dim, s.x::DOUBLE AS x
    FROM (SELECT unnest([{'d': i - 1, 'x': embedding[i]}
                         for i in range(1, len(embedding) + 1)]) AS s
          FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings)
)
SELECT dim,
       count(*) AS n_vecs,
       round(avg(x), 6) AS mean,
       round(stddev_samp(x), 6) AS stddev,
       round(min(x), 6) AS vmin,
       round(max(x), 6) AS vmax,
       round(max(x) - min(x), 6) AS value_range
FROM dims
GROUP BY dim
"""


@register("embedding_dim_stats", oracle=_DIM_STATS_SQL, tags=("similarity", "features"))
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean / stddev / min / max over the embedding corpus —
    the constants a standard-scaler (or SQ8 range quantizer) needs before
    normalizing a feature column for training.

    Scale shape: posexplode fans each vector out to (dim, value) rows,
    then ONE hash agg on the 64-key dim column; every statistic is
    associative (count/sum/sumsq/min/max), so partial aggregation
    collapses each map partition to |dim| rows before the shuffle —
    shuffle volume is O(partitions x dims), independent of corpus size."""
    v = _vecs(spark, sf_dir)
    return (
        v.select(F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("x"), 6).alias("mean"),
            F.round(F.stddev_samp("x"), 6).alias("stddev"),
            F.round(F.min("x"), 6).alias("vmin"),
            F.round(F.max("x"), 6).alias("vmax"),
            F.round(F.max("x") - F.min("x"), 6).alias("value_range"),
        )
    )


# ---------------------------------------------------------------------------
# covariance matrix over the embedding corpus: the input to PCA / whitening
# — the decorrelation transform a feature pipeline fits before projection

_COV_SQL = """
WITH pairs AS (
    SELECT s.i AS di, s.j AS dj, s.x::DOUBLE AS x, s.y::DOUBLE AS y
    FROM (
        SELECT unnest(flatten([[{'i': i - 1, 'j': j - 1,
                                 'x': embedding[i], 'y': embedding[j]}
                                for j in range(i, len(embedding) + 1)]
                               for i in range(1, len(embedding) + 1)])) AS s
        FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings)
)
SELECT di, dj,
       count(*) AS n_vecs,
       round(avg(x * y) - avg(x) * avg(y), 8) AS cov,
       round((avg(x * y) - avg(x) * avg(y))
             / (sqrt(avg(x * x) - avg(x) * avg(x))
                * sqrt(avg(y * y) - avg(y) * avg(y))), 6) AS corr
FROM pairs
GROUP BY di, dj
"""


_COV_PARTIAL_SCHEMA = (
    "di int, dj int, sxy double, sx_i double, sx2_i double,"
    " sx_j double, sx2_j double, cnt long"
)


def _gram_partials(batches):
    """Per-partition Gram-matrix partials: one X^T·X BLAS call per Arrow
    batch, accumulated locally, emitted as d(d+1)/2 upper-triangle rows
    carrying every associative moment (Σxy, Σx, Σx², n). Runs on the
    executor inside mapInPandas — partition-local, no state across
    partitions."""
    import numpy as np
    import pandas as pd

    G = s = s2 = None
    n = 0
    for pdf in batches:
        X = np.array(pdf["v"].tolist(), dtype=np.float64)
        if X.size == 0:
            continue
        G = X.T @ X if G is None else G + X.T @ X
        s = X.sum(0) if s is None else s + X.sum(0)
        s2 = (X * X).sum(0) if s2 is None else s2 + (X * X).sum(0)
        n += X.shape[0]
    if n == 0:
        return
    iu = np.triu_indices(G.shape[0])
    yield pd.DataFrame(
        {
            "di": iu[0].astype("int32"),
            "dj": iu[1].astype("int32"),
            "sxy": G[iu],
            "sx_i": s[iu[0]],
            "sx2_i": s2[iu[0]],
            "sx_j": s[iu[1]],
            "sx2_j": s2[iu[1]],
            "cnt": np.int64(n),
        }
    )


@register("embedding_covariance", oracle=_COV_SQL,
          tags=("similarity", "features", "pca"))
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance + correlation matrix over the embedding
    dimensions — the moment statistics PCA / ZCA whitening fits before
    decorrelating a feature column (population moments, the classic
    E[xy] − E[x]E[y] identity on both engines).

    Scale shape: this is the one dense-linear-algebra kernel in the
    engine, and the legitimate Arrow-batch Python hop (same discipline
    as the multimodal decoders): each partition computes its Gram matrix
    with ONE BLAS X^T·X per Arrow batch inside mapInPandas and emits
    d(d+1)/2 partial-moment rows; the final hash agg merges
    O(partitions × d²) rows — shuffle volume independent of corpus
    size, and every moment associative. Measured 3.6× faster at sf0.1
    than the pure-SQL explode formulation (each vector fanning out its
    2 080 upper-triangle pairs through a hash agg), which the history
    preserves; the explode shape pays per-pair codegen where BLAS pays a
    fused matrix multiply."""
    v = _vecs(spark, sf_dir).select("v")
    partials = v.mapInPandas(_gram_partials, schema=_COV_PARTIAL_SCHEMA)
    cnt = F.sum("cnt")
    sxy = F.sum("sxy")
    mi, mj = F.sum("sx_i") / cnt, F.sum("sx_j") / cnt
    m2i, m2j = F.sum("sx2_i") / cnt, F.sum("sx2_j") / cnt
    cov = sxy / cnt - mi * mj
    return partials.groupBy("di", "dj").agg(
        cnt.alias("n_vecs"),
        F.round(cov, 8).alias("cov"),
        F.round(
            cov / (F.sqrt(m2i - mi * mi) * F.sqrt(m2j - mj * mj)), 6
        ).alias("corr"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic (embedding-space) dedup inside coarse cells — the
# curation pass that removes meaning-level duplicates document dedup
# cannot see, bounded by the cell partition instead of all-pairs

SEMDEDUP_COSINE = 0.3  # fixture-scaled; production prunes at ~0.95+

_SEMDEDUP_SQL = f"""
WITH n AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
    FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
),
cent AS (
    SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < {N_CENTROIDS}
),
assign AS (
    SELECT n.vec_id, n.v, n.nrm,
           arg_max(c.cent_id, round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6)
                              - c.cent_id * 1e-12) AS cell
    FROM n, cent c
    GROUP BY n.vec_id, n.v, n.nrm
),
dups AS (
    SELECT a.cell, a.vec_id AS va, b.vec_id AS vb
    FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= {SEMDEDUP_COSINE}
),
cells AS (SELECT cell, count(*) AS n_vectors FROM assign GROUP BY cell),
stats AS (
    SELECT cell, count(*) AS n_dup_pairs, count(DISTINCT vb) AS n_removed
    FROM dups GROUP BY cell
)
SELECT cell,
       n_vectors,
       coalesce(n_dup_pairs, 0) AS n_dup_pairs,
       coalesce(n_removed, 0) AS n_removed,
       n_vectors - coalesce(n_removed, 0) AS n_kept
FROM cells LEFT JOIN stats USING (cell)
"""


@register("dedup_semantic_cells", oracle=_SEMDEDUP_SQL, tags=("dedup", "similarity", "semdedup"))
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al.): assign every embedding to its nearest
    coarse cell, find within-cell pairs above the cosine threshold, and
    remove the higher-id member of each pair (keep-lowest-id canonical) —
    per-cell duplicate pairs, removals, and survivors. Cross-cell
    duplicates are missed BY DESIGN; that approximation is what turns
    all-pairs semantic dedup into a partitionable per-cell job.

    Scale shape: cell assignment reuses the kmeans zero-shuffle pattern
    (centroids packed into a 1-row broadcast array, per-row argmax fold —
    tie semantics identical to ann_ivf_cells); the assignment is
    checkpointed once (three consumers), and the pair stage is an
    EQUI-join on cell — candidate volume is Σ|cell|²/2, bounded by the
    coarse partition, never corpus². At production scale cells come from
    the trained codebook (embedding_kmeans_iter) and hot cells split
    recursively; the join shape is unchanged."""
    n = _vecs(spark, sf_dir).select("vec_id", "v", _norm("v").alias("nrm"))
    cent = n.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
    )
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "cv", "cnrm"))).alias("cents")
    )

    def _score(c):
        dot = F.aggregate(
            F.zip_with(F.col("v"), c["cv"], lambda a, b: a * b),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        return F.round(dot / (F.col("nrm") * c["cnrm"]), 6) - c["cent_id"] * 1e-12

    best = F.array_max(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                _score(c).cast("double").alias("score"),
                c["cent_id"].cast("bigint").alias("cell"),
            ),
        )
    )
    assign = (
        n.crossJoin(F.broadcast(cent_row))
        .select("vec_id", "v", "nrm", best["cell"].alias("cell"))
        .localCheckpoint(eager=True)
    )
    a = assign.select(
        "cell", F.col("vec_id").alias("va"), F.col("v").alias("xa"), F.col("nrm").alias("na")
    )
    b = assign.select(
        "cell", F.col("vec_id").alias("vb"), F.col("v").alias("xb"), F.col("nrm").alias("nb")
    )
    dups = (
        a.join(b, "cell")
        .filter(F.col("va") < F.col("vb"))
        .filter(
            F.round(_dot("xa", "xb") / (F.col("na") * F.col("nb")), 6)
            >= SEMDEDUP_COSINE
        )
        .select("cell", "va", "vb")
    )
    cells = assign.groupBy("cell").agg(F.count("*").alias("n_vectors"))
    stats = dups.groupBy("cell").agg(
        F.count("*").alias("n_dup_pairs"), F.count_distinct("vb").alias("n_removed")
    )
    return cells.join(stats, "cell", "left").select(
        "cell",
        "n_vectors",
        F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        (F.col("n_vectors") - F.coalesce("n_removed", F.lit(0))).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# power-iteration PCA: dominant eigenvector of the covariance matrix — the
# fourth iterative family (after connected components, k-means, pagerank),
# this one a distributed matrix-vector recurrence

PCA_ITERS = 8
_PCA_V0 = 0.125  # 1/sqrt(64): uniform unit start vector


def _pca_power_sql() -> str:
    parts = [
        f"cov AS MATERIALIZED ({_COV_SQL.strip()})",
        """sym AS MATERIALIZED (
    SELECT di, dj, cov FROM cov
    UNION ALL
    SELECT dj AS di, di AS dj, cov FROM cov WHERE di != dj
)""",
        f"v0 AS (SELECT r.range AS dim, {_PCA_V0}::DOUBLE AS val FROM range({_EMB_DIM}) r)",
    ]
    for t in range(1, PCA_ITERS + 1):
        parts.append(f"""w{t} AS MATERIALIZED (
    SELECT s.di AS dim, sum(s.cov * v.val) AS wv
    FROM sym s JOIN v{t - 1} v ON v.dim = s.dj
    GROUP BY s.di
)""")
        parts.append(f"n{t} AS MATERIALIZED (SELECT sqrt(sum(wv * wv)) AS nrm FROM w{t})")
        parts.append(
            f"v{t} AS MATERIALIZED (SELECT dim, round(wv / nrm, 8) AS val FROM w{t}, n{t})"
        )
    final = f"""
,ray AS (
    SELECT round(sum(vi.val * s.cov * vj.val), 6) AS eigenvalue
    FROM sym s
    JOIN v{PCA_ITERS} vi ON vi.dim = s.di
    JOIN v{PCA_ITERS} vj ON vj.dim = s.dj
)
SELECT v.dim, v.val AS loading, ray.eigenvalue
FROM v{PCA_ITERS} v, ray
"""
    return "WITH " + ",\n".join(parts) + final


@register("embedding_pca_power", oracle=_pca_power_sql(), tags=("similarity", "pca", "iterative"))
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding corpus by power
    iteration over the (rounded) covariance matrix: v_{t+1} =
    normalize(C·v_t), 8 rounds from a uniform unit vector, plus the
    Rayleigh-quotient eigenvalue — the projection axis a dimensionality
    reducer or whitening transform uses first.

    Cross-engine determinism: both engines iterate over the IDENTICAL
    matrix (covariance entries rounded to 8 digits by
    embedding_covariance) and re-round the unit vector to 8 digits per
    round, so the recurrence cannot drift. (On the near-isotropic fixture
    spectrum 8 rounds are far from eigen-convergence — the contract is
    the recurrence itself; production runs iterate until the Rayleigh
    delta is small, same loop shape.)

    Scale shape: the corpus is touched ONCE (the BLAS covariance pass,
    checkpointed); every iteration is then a matrix-vector product on the
    d² grid — a broadcast-joined 64-row vector against the d²-row matrix,
    one tiny key-local agg per round, checkpointed so the loop plan stays
    flat. Iteration cost is independent of corpus size — exactly how
    power iteration should ride on a cluster."""
    # coalesce(1): the matrix is d² rows and every iteration artifact is
    # ≤ d rows — in a vanilla session (200 shuffle partitions) leaving
    # them at shuffle parallelism costs thousands of empty tiny tasks
    # across the 8 checkpointed rounds (measured 106 s → ~8 s at sf0.01)
    cov = (
        embedding_covariance(spark, sf_dir)
        .select("di", "dj", "cov")
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    swapped = cov.filter(F.col("di") != F.col("dj")).select(
        F.col("dj").alias("di"), F.col("di").alias("dj"), "cov"
    )
    sym = cov.unionByName(swapped)
    v = spark.range(_EMB_DIM).select(
        F.col("id").cast("int").alias("dim"), F.lit(_PCA_V0).alias("val")
    )
    for _ in range(PCA_ITERS):
        # checkpoint w: both nrm and the next v consume it, and without
        # the checkpoint the matvec join+agg executes twice per round
        w = (
            sym.join(F.broadcast(v), sym.dj == v.dim)
            .groupBy("di")
            .agg(F.sum(F.col("cov") * F.col("val")).alias("wv"))
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
        nrm = w.agg(F.sqrt(F.sum(F.col("wv") * F.col("wv"))).alias("nrm"))
        v = (
            w.join(F.broadcast(nrm))
            .select(
                F.col("di").alias("dim"),
                F.round(F.col("wv") / F.col("nrm"), 8).alias("val"),
            )
            .localCheckpoint(eager=True)
        )
    vi = v.select(F.col("dim").alias("i_dim"), F.col("val").alias("vi"))
    vj = v.select(F.col("dim").alias("j_dim"), F.col("val").alias("vj"))
    ray = (
        sym.join(F.broadcast(vi), sym.di == vi.i_dim)
        .join(F.broadcast(vj), sym.dj == vj.j_dim)
        .agg(F.round(F.sum(F.col("vi") * F.col("cov") * F.col("vj")), 6).alias("eigenvalue"))
    )
    return v.join(F.broadcast(ray)).select(
        "dim", F.col("val").alias("loading"), "eigenvalue"
    )


# ---------------------------------------------------------------------------
# the hygiene gate, surfaced as a first-class audit: how many vectors the
# similarity family's shared input filter drops, and why — run this before
# trusting any ANN/dedup output over a fresh embedding shard

_QUALITY_GATE_SQL = """
SELECT count(*) AS total_vectors,
       count(*) FILTER (WHERE embedding IS NULL) AS null_vectors,
       count(*) FILTER (WHERE embedding IS NOT NULL
                        AND (len(embedding) <> 64 OR
                             len(list_filter(embedding, x -> x IS NOT NULL)) <> 64))
           AS wrong_dim,
       count(*) FILTER (WHERE embedding IS NOT NULL AND len(embedding) = 64
                        AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64
                        AND len(list_filter(embedding, x -> x <> 0)) = 0)
           AS zero_vectors,
       count(*) FILTER (WHERE embedding IS NOT NULL AND len(embedding) = 64
                        AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64
                        AND len(list_filter(embedding, x -> x <> 0)) > 0)
           AS clean_vectors
FROM embeddings
"""


@register("embedding_quality_gate", oracle=_QUALITY_GATE_SQL,
          tags=("similarity", "data-quality", "gate"))
def embedding_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the shared vector-input hygiene gate (``_vecs``): counts
    of NULL, wrong-dimension, and all-zero embeddings vs the clean rows
    every vector-math query actually consumes. The four failure buckets
    partition the table exactly (total = null + wrong_dim + zero +
    clean), so the report doubles as a reconciliation check between the
    raw shard and the gated working set. One single-row aggregate —
    nothing here scales with anything but the scan."""
    emb = F.col("embedding")
    nonnull = emb.isNotNull()
    right_dim = F.size(emb) == 64
    nonzero = F.size(F.array_remove(emb, 0.0)) > 0
    no_null_elems = F.size(F.array_compact(emb)) == 64
    usable = nonnull & right_dim & no_null_elems
    return table(spark, sf_dir, "embeddings").agg(
        F.count("*").alias("total_vectors"),
        F.count(F.when(~nonnull, 1)).alias("null_vectors"),
        F.count(F.when(nonnull & ~(right_dim & no_null_elems), 1)).alias("wrong_dim"),
        F.count(F.when(usable & ~nonzero, 1)).alias("zero_vectors"),
        F.count(F.when(usable & nonzero, 1)).alias("clean_vectors"),
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection: 64 -> 16 dims with a
# deterministic ±1/√m sign matrix, self-graded by pairwise-distance
# distortion over the sampled verify set

_JL_M = 16  # target dimensionality
_JL_SCALE = 0.25  # 1/sqrt(_JL_M)


def _jl_sign(j: int, i: int) -> float:
    """±1 from the first hex char of md5('jl:<j>:<i>') — reproducible in
    Python (hashlib), Spark, and DuckDB; evaluated ONCE here and inlined
    as literals on both engines (the 100 TB analogue: a broadcast of the
    m×d sign matrix, never per-row hashing)."""
    import hashlib

    return 1.0 if int(hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0


def _jl_project(v) -> "Column":
    """array<double>[64] -> array<double>[16]: y_j = scale * Σ_i s_ji·x_i,
    sequential left-fold per dim so both engines accumulate identically."""
    dims = []
    for j in range(_JL_M):
        signs = F.array(*[F.lit(_jl_sign(j, i)) for i in range(64)])
        dims.append(
            F.aggregate(
                F.zip_with(v, signs, lambda x, s: x * s),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * _JL_SCALE
        )
    return F.array(*dims)


def _jl_sql() -> str:
    y_dims = []
    for j in range(_JL_M):
        terms = ", ".join(f"v[{i + 1}] * {_jl_sign(j, i)}" for i in range(64))
        y_dims.append(f"{_JL_SCALE} * list_sum([{terms}])")
    y = "[" + ",\n               ".join(y_dims) + "]"
    return f"""
WITH n AS (
    SELECT vec_id, embedding::DOUBLE[] AS v
    FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
    WHERE vec_id % 20 = 0
),
proj AS (
    SELECT vec_id, v,
           {y} AS y
    FROM n
),
pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           sqrt(list_sum(list_transform(range(1, 65),
                i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])))) AS d_orig,
           sqrt(list_sum(list_transform(range(1, {_JL_M + 1}),
                k -> (a.y[k] - b.y[k]) * (a.y[k] - b.y[k])))) AS d_proj
    FROM proj a JOIN proj b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       round(d_orig, 6) AS dist_orig,
       round(d_proj, 6) AS dist_proj,
       CASE WHEN d_orig > 0
            THEN floor(d_proj / d_orig * 10000 + 0.5) / 10000
       END AS distortion
FROM pairs
"""


@register("embedding_jl_projection", oracle=_jl_sql(),
          tags=("similarity", "dimensionality-reduction", "jl"))
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64→16 dims (±1/√m sign
    matrix à la Achlioptas, "Database-friendly random projections",
    PODS'01), self-graded: every sampled pair's L2 distance before vs
    after projection, with the distortion ratio the JL lemma bounds.
    The sign matrix is derived from md5 so Python, Spark, and DuckDB
    agree bit-for-bit; it is evaluated at plan-build time and inlined
    as literals — per-row work is 16 fused multiply-add folds, no
    hashing, no shuffle.

    Scale shape: the projection itself is a zero-shuffle per-row map
    (the step that makes downstream ANN/clustering 4× cheaper at
    100 TB); the all-pairs distortion check runs on the deterministic
    vec_id % 20 sample only — the same sampled-verify convention as
    embedding_cosine_pairs."""
    n = (
        _vecs(spark, sf_dir)
        .filter(F.col("vec_id") % 20 == 0)
        .select("vec_id", "v", _jl_project(F.col("v")).alias("y"))
    )
    a = n.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("y").alias("ya")
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("y").alias("yb")
    )
    sq = lambda u, w: F.aggregate(  # noqa: E731 — local alias, used twice
        F.zip_with(u, w, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d_orig = F.sqrt(sq(F.col("va"), F.col("vb")))
    d_proj = F.sqrt(sq(F.col("ya"), F.col("yb")))
    return a.join(b, F.col("vec_a") < F.col("vec_b")).select(
        "vec_a",
        "vec_b",
        F.round(d_orig, 6).alias("dist_orig"),
        F.round(d_proj, 6).alias("dist_proj"),
        F.when(d_orig > 0, F.floor(d_proj / d_orig * 10000 + 0.5) / 10000).alias(
            "distortion"
        ),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining: for each query vector, the most-similar CORPUS
# vectors with a DIFFERENT label — the contrastive-training data prep step
# (triplet/InfoNCE batches want negatives that are nearly positives)

_HARD_NEG_SQL = f"""
WITH n AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
    FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
),
scored AS (
    SELECT q.vec_id AS query_id, q.label AS query_label,
           c.vec_id AS neighbor_id, c.label AS neg_label,
           round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
    FROM n q JOIN n c ON c.vec_id != q.vec_id
    WHERE q.vec_id < {N_QUERIES}
),
pos AS (
    SELECT query_id, max(cosine) AS pos_best_cosine
    FROM scored WHERE neg_label = query_label GROUP BY query_id
),
negs AS (
    SELECT query_id, query_label, neighbor_id, neg_label, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored WHERE neg_label != query_label
)
SELECT g.query_id, g.query_label, g.neighbor_id, g.neg_label, g.cosine, g.rank,
       p.pos_best_cosine,
       CASE WHEN p.pos_best_cosine IS NULL THEN NULL
            ELSE g.cosine < p.pos_best_cosine END AS is_semi_hard
FROM negs g LEFT JOIN pos p ON p.query_id = g.query_id
WHERE g.rank <= {TOP_K}
"""


@register("ann_hard_negatives", oracle=_HARD_NEG_SQL,
          tags=("similarity", "topk", "contrastive", "training-data"))
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector
    (vec_id < N_QUERIES), the TOP_K highest-cosine corpus vectors whose
    label DIFFERS, each tagged semi-hard (Schroff et al., FaceNet,
    CVPR'15: a negative closer than the best positive is 'hard', one
    inside the margin band below it 'semi-hard') via the query's best
    same-label cosine riding along.

    Scale shape: identical to ann_cosine_topk — queries broadcast
    against the corpus (the corpus never shuffles), per-query top-k via
    the rank-pushdown window (WindowGroupLimit prunes to ≤k per
    partition pre-shuffle); the positives branch is a |queries|-row agg
    broadcast back. At production scale the scored candidates come from
    the IVF/LSH path instead of the brute-force join — the ranking and
    semi-hard tagging are unchanged."""
    n = _vecs(spark, sf_dir).select("vec_id", "label", "v", _norm("v").alias("nrm"))
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = n.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "query_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        F.round(_dot("qv", "v") / (F.col("qn") * F.col("nrm")), 6).alias(
            "cosine"
        ),
    )
    pos = (
        scored.filter(F.col("neg_label") == F.col("query_label"))
        .groupBy("query_id")
        .agg(F.max("cosine").alias("pos_best_cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    negs = (
        scored.filter(F.col("neg_label") != F.col("query_label"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )
    return negs.join(F.broadcast(pos), "query_id", "left").select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neg_label",
        "cosine",
        F.col("rank").cast("long").alias("rank"),
        "pos_best_cosine",
        F.when(
            F.col("pos_best_cosine").isNotNull(),
            F.col("cosine") < F.col("pos_best_cosine"),
        ).alias("is_semi_hard"),
    )


@register("ann_ivf_stored", oracle=_IVF_TOPK_SQL,
          tags=("similarity", "ivf", "topk", "stored-index"))
def ann_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-index twin of ``ann_ivf_topk`` (mirroring
    ``dedup_incremental_stored``): the build job writes the IVF layout to
    parquet — assignments partitioned BY CELL plus the centroid table —
    and the probe job answers queries from the store alone. Because the
    store is partitioned by cell and the probe joins on the partition
    column against a broadcast probe list, Catalyst inserts a dynamic
    partition-pruning filter: each query physically scans ~nprobe/ncells
    of the corpus files — the on-disk IVF promise, executed. Shares the
    one-pass oracle, so identical top-k results are value-hash-gated.

    Scale shape: the build is the one-pass assignment (broadcast
    centroids + argmax) paid once; each probe reads only the probed cells'
    partitions and ranks within them. The store is the production
    artifact a vector database calls the IVF index (appended per ingest
    via ``ann_ivf_append``; rebalance signal via
    ``ivf_cell_balance_audit``)."""
    prefix = _ivf_store_build(spark, sf_dir)
    stored_cent, stored_assign = _ivf_store_read(spark, prefix)
    return _ivf_probe_stored(spark, sf_dir, stored_cent, stored_assign)


_IVF_BUCKETS = 8  # vec_id bucket count inside each cell partition


def _ivf_store_location(sf_dir: str) -> tuple[str, str]:
    """Deterministic per-fixture IVF-store root + catalog-table prefix
    (shared definition: operators/storelock.py store_location)."""
    from e_commerce_click_stream_spark.operators.storelock import store_location

    return store_location("ivf", sf_dir)


def _ivf_assignments(n: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid cell per vector: packed-codebook broadcast +
    per-row argmax fold — vectors never shuffle for the assignment (one
    definition with the one-shot queries: ``_ivf_assign``)."""
    return _ivf_assign(n, cent, carry_vec=True)


def _ivf_store_build(
    spark: SparkSession, sf_dir: str, corpus_filter: "F.Column | None" = None,
    loc: "tuple[str, str] | None" = None,
) -> str:
    """(Re)build the stored IVF index as catalog tables under the build
    lock: ``<prefix>_assign`` partitioned BY CELL (probe-side dynamic
    partition pruning) and hash-bucketed+sorted on ``vec_id`` (the
    maintenance join key — append dedup / id lookups are exchange-free on
    the stored side), plus the tiny ``<prefix>_cent`` centroid table.
    ``corpus_filter`` restricts which vectors are indexed (the append
    path folds the rest in later); ``loc`` overrides the (index_dir,
    prefix) pair (the erasure query owns a separate store). Returns the
    table prefix."""
    from e_commerce_click_stream_spark.operators.storelock import (
        acquire_build_lock,
        downgrade_to_shared,
    )

    index_dir, prefix = loc if loc is not None else _ivf_store_location(sf_dir)
    n = _vecs(spark, sf_dir).select("vec_id", "v", _norm("v").alias("nrm"))
    cent = n.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
    )
    corpus = n.filter(corpus_filter) if corpus_filter is not None else n
    assign = _ivf_assignments(corpus, cent)

    import os

    acquire_build_lock(index_dir)

    def _write_assign() -> None:
        (
            # align writer tasks to the bucket layout (Murmur3-pmod on
            # vec_id, the exact function bucketBy applies —
            # operators/compaction.py precedent): each task holds exactly
            # one bucket's rows, so the store materializes one file per
            # (cell, bucket) instead of one per (upstream task, cell,
            # bucket)
            assign.repartition(_IVF_BUCKETS, F.col("vec_id"))
            .write.mode("overwrite")
            .format("parquet")
            .partitionBy("cell")
            .bucketBy(_IVF_BUCKETS, "vec_id")
            .sortBy("vec_id")
            .option("path", os.path.join(index_dir, "assignments"))
            .saveAsTable(f"{prefix}_assign")
        )

    def _write_cent() -> None:
        (
            cent.write.mode("overwrite")
            .format("parquet")
            .option("path", os.path.join(index_dir, "centroids"))
            .saveAsTable(f"{prefix}_cent")
        )

    # the two table writes are independent jobs (disjoint tables/dirs;
    # the centroid job is a tiny filtered corpus scan): overlap them so
    # the centroid write back-fills the assignment write's straggler
    # tail (guide §2.6 — the band store's _run_concurrently discipline)
    from e_commerce_click_stream_spark.operators.dedup_index import (
        _run_concurrently,
    )

    _run_concurrently(_write_assign, _write_cent)
    # a fresh build has no erasures: reset any tombstones a previous
    # generation of this store left behind (catalog AND directory —
    # operators/tombstones.py)
    from e_commerce_click_stream_spark.operators.tombstones import reset_tombstones

    reset_tombstones(spark, prefix, index_dir)
    downgrade_to_shared(index_dir)
    return prefix


def _ivf_store_append(spark: SparkSession, sf_dir: str, prefix: str,
                      arrivals_filter: "F.Column") -> None:
    """Production vector ingest: assign ONLY the arriving vectors against
    the STORED centroids (no corpus re-scan) and append them to their
    cells — the writer restates the table's partition/bucket spec, which
    Spark validates against the catalog. Upgrades this process's store
    lock to exclusive for the write (fails fast against a concurrent
    holder), then downgrades back for the probe's lazy reads."""
    from e_commerce_click_stream_spark.operators.storelock import (
        acquire_build_lock,
        downgrade_to_shared,
    )

    index_dir, _ = _ivf_store_location(sf_dir)
    n = _vecs(spark, sf_dir).select("vec_id", "v", _norm("v").alias("nrm"))
    stored_cent, _ = _ivf_store_read(spark, prefix)
    assign = _ivf_assignments(n.filter(arrivals_filter), stored_cent)
    acquire_build_lock(index_dir)
    (
        # bucket-aligned like the build: each append adds _IVF_BUCKETS
        # files per touched cell, not tasks × buckets
        assign.repartition(_IVF_BUCKETS, F.col("vec_id"))
        .write.mode("append")
        .format("parquet")
        .partitionBy("cell")
        .bucketBy(_IVF_BUCKETS, "vec_id")
        .sortBy("vec_id")
        .saveAsTable(f"{prefix}_assign")
    )
    downgrade_to_shared(index_dir)


def _ivf_store_read(spark: SparkSession, prefix: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) from the catalog store — partition column
    reprojected back into the probe's expected order; a catalog table
    keeps its schema when empty, so no explicit-schema workaround.

    Merge-on-read: when the store carries a tombstone table (a logical
    erasure ran and ``_apply_ivf_erasures`` hasn't yet), the assignments
    read anti-joins the broadcast deletion vector — erased vectors leave
    the searchable set with no shuffle. The centroid table is untouched:
    erasure does not re-fit the codebook (that is a rebuild), exactly as
    production IVF deployments defer re-clustering to the rebalance job."""
    from e_commerce_click_stream_spark.operators.tombstones import (
        anti_join_tombstones,
    )

    stored_cent = spark.table(f"{prefix}_cent").select("cent_id", "cv", "cnrm")
    stored_assign = anti_join_tombstones(
        spark,
        spark.table(f"{prefix}_assign").select("vec_id", "v", "nrm", "cell"),
        prefix,
        "vec_id",
    )
    return stored_cent, stored_assign


def _ivf_erase(
    spark: SparkSession, erased_vec_ids: DataFrame, prefix: str, index_dir: str
) -> None:
    """Logically erase vec_ids from the IVF store: one tombstone-table
    append (deduped against the existing vector —
    operators/tombstones.py; this store's statistics — the centroid
    table — are not count-mergeable and deliberately stay fixed, see
    _ivf_store_read). Nothing corpus-sized moves on the erasure path."""
    from e_commerce_click_stream_spark.operators.tombstones import append_tombstones

    append_tombstones(spark, erased_vec_ids, prefix, index_dir, "vec_id")


def _apply_ivf_erasures(
    spark: SparkSession, prefix: str, index_dir: str
) -> dict[str, int]:
    """Physically drop tombstoned rows from the assignments table and
    reset the tombstone set — same deferred merge-on-read contract as
    the BM25 and band stores; the rewrite restates the original
    partition+bucket spec with the repartition alignment from
    operators/compaction.py. No-ops when the store carries no deletion
    vector (ADVICE r12 — must not raise on the missing tombstone
    table)."""
    import os

    from e_commerce_click_stream_spark.operators.tombstones import (
        tombstones_table_name,
    )

    assign_t = f"{prefix}_assign"
    tomb_t = tombstones_table_name(prefix)
    if not spark.catalog.tableExists(tomb_t):
        return {"dropped": 0, "kept": spark.table(assign_t).count()}
    tomb = spark.table(tomb_t).localCheckpoint(eager=True)
    if tomb.isEmpty():
        return {"dropped": 0, "kept": spark.table(assign_t).count()}
    before = spark.table(assign_t).count()
    snap = (
        spark.table(assign_t)
        .select("vec_id", "v", "nrm", "cell")
        .join(F.broadcast(tomb), "vec_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    kept = snap.count()
    (
        snap.repartition(_IVF_BUCKETS, F.col("vec_id"))
        .write.mode("overwrite")
        .format("parquet")
        .partitionBy("cell")
        .bucketBy(_IVF_BUCKETS, "vec_id")
        .sortBy("vec_id")
        .option("path", os.path.join(index_dir, "assignments"))
        .saveAsTable(assign_t)
    )
    from e_commerce_click_stream_spark.operators.tombstones import (
        truncate_tombstones,
    )

    truncate_tombstones(spark, prefix, index_dir)
    return {"dropped": before - kept, "kept": kept}


def _ivf_probe_stored(
    spark: SparkSession, sf_dir: str, stored_cent: DataFrame, stored_assign: DataFrame
) -> DataFrame:
    n = _vecs(spark, sf_dir).select("vec_id", "v", _norm("v").alias("nrm"))
    # same narrow per-row probe selection as _ivf_probes, against the
    # STORED centroid table (sorted-slice of the packed codebook — no
    # window exchange in the broadcast-build subtree)
    probes = _ivf_probes(n, stored_cent, carry_query_vec=True)
    scored = (
        stored_assign.join(F.broadcast(probes), on="cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "vec_id AS neighbor_id",
            "round(aggregate(zip_with(qv, v, (x, y) -> x * y), 0D,"
            " (acc, x) -> acc + x) / (qn * nrm), 6) AS cosine",
        )
    )
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id"
            " ORDER BY cosine DESC, neighbor_id ASC) AS rank",
        )
        .filter(F.col("rank") <= TOP_K)
        .selectExpr("query_id", "neighbor_id", "cosine",
                    "CAST(rank AS BIGINT) AS rank")
    )


@register("ann_ivf_probe_only", oracle=_IVF_TOPK_SQL,
          tags=("similarity", "ivf", "topk", "stored-index", "bench"))
def ann_ivf_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARM-STORE half of ``ann_ivf_stored`` (mirroring
    ``dedup_stored_probe_only``, VERDICT r8 #6): reuse the persisted IVF
    catalog tables if this session already built them (build only on a
    cold start) and time just the probe — the marginal per-query cost a
    100 TB vector store is judged by.
    Shares the one-pass oracle: the warm path must return bit-identical
    top-k.

    Scale shape: per query batch, |queries| × ncentroids broadcast
    scoring picks the probe cells, DPP restricts the store scan to
    ~nprobe/ncells of its files, and WindowGroupLimit prunes per-query
    candidates pre-shuffle; the corpus is never re-assigned."""
    from e_commerce_click_stream_spark.operators.storelock import acquire_read_lock

    index_dir, prefix = _ivf_store_location(sf_dir)
    if not spark.catalog.tableExists(f"{prefix}_assign"):
        # cold start (fresh session): pay the build once, outside any
        # timed steady-state iteration
        _ivf_store_build(spark, sf_dir)
    else:
        acquire_read_lock(index_dir)
    stored_cent, stored_assign = _ivf_store_read(spark, prefix)
    return _ivf_probe_stored(spark, sf_dir, stored_cent, stored_assign)


def _ivf_arrivals() -> "F.Column":
    """Every 4th vector plays the arriving ingest batch for the append
    path (built lazily — Column construction needs an active session)."""
    return (F.col("vec_id") % 4) == 3


@register("ann_ivf_append", oracle=_IVF_TOPK_SQL,
          tags=("similarity", "ivf", "stored-index", "incremental"))
def ann_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF store maintenance — the vector-side production ingest
    (mirroring ``append_to_band_index``, precedent: the reference's keyed
    upsert S4, /root/reference/processor/streaming_processor.py:197-274):
    build the store WITHOUT every 4th vector, then fold those arrivals in
    by assigning them against the STORED centroids (no corpus re-scan)
    and appending to their cell partitions. The probe then runs against
    the appended store and shares ``ann_ivf_topk``'s oracle — a green
    driver row proves append-then-probe ≡ from-scratch build, because
    cell assignment depends only on the (stable) centroid table.

    Scale shape: per ingest batch the work is |batch| × ncentroids
    broadcast scoring + an append of |batch| rows into existing cell
    partitions; the bucketed-by-vec_id layout keeps id-keyed maintenance
    joins exchange-free on the stored side."""
    prefix = _ivf_store_build(spark, sf_dir, corpus_filter=~_ivf_arrivals())
    _ivf_store_append(spark, sf_dir, prefix, _ivf_arrivals())
    stored_cent, stored_assign = _ivf_store_read(spark, prefix)
    return _ivf_probe_stored(spark, sf_dir, stored_cent, stored_assign)


# Erasure oracle: IVF search where every 4th vector was erased — the
# candidate set must exclude them while centroids, cell probes, and the
# query set stay exactly the full-corpus plan's.
_IVF_ERASE_SQL = _ivf_topk_sql(" AND a.vec_id % 4 != 3")


@register("ann_ivf_erase", oracle=_IVF_ERASE_SQL,
          tags=("similarity", "ivf", "stored-index", "erasure"))
def ann_ivf_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR erasure against the warm IVF store — the vector-side third of
    the erasure family (BM25 postings, band store, IVF), run as the
    append path in reverse: build the store over the FULL corpus, ERASE
    every 4th vector (the same split ann_ivf_append folds in) via the
    tombstone deletion vector, then probe merge-on-read. The oracle
    searches an assignment set that excludes the erased vectors while
    keeping the full-corpus CODEBOOK — erasure deliberately does not
    re-fit centroids (that is the rebalance job's rebuild; see
    _ivf_store_read) — so the green row proves erased vectors leave the
    searchable set with every surviving cosine/rank bit-identical.

    Scale shape: the erase pass appends |batch| ids to the tombstone
    table — nothing corpus-sized moves; the probe pays one
    BroadcastHashJoin LeftAnti on the assignments scan (DPP against the
    probed cells still applies; no new shuffle). Physical rewrite is
    ``_apply_ivf_erasures``, deferred and pinned probe-identical in
    tests. Own store kind ("ivfe"): this query erodes the index by
    design, which the shared warm IVF store must never observe."""
    from e_commerce_click_stream_spark.operators.storelock import (
        acquire_build_lock,
        downgrade_to_shared,
        store_location,
    )

    loc = store_location("ivfe", sf_dir)
    prefix = _ivf_store_build(spark, sf_dir, loc=loc)
    n = _vecs(spark, sf_dir)
    # the tombstone append is a store WRITE: re-upgrade this process's
    # shared lock for it (same discipline as the compaction rewrite)
    acquire_build_lock(loc[0])
    _ivf_erase(spark, n.filter(_ivf_arrivals()).select("vec_id"), prefix, loc[0])
    downgrade_to_shared(loc[0])
    stored_cent, stored_assign = _ivf_store_read(spark, prefix)
    return _ivf_probe_stored(spark, sf_dir, stored_cent, stored_assign)


@register("ann_ivf_apply_erase", oracle=_IVF_ERASE_SQL,
          tags=("similarity", "ivf", "stored-index", "erasure"))
def ann_ivf_apply_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF erase→APPLY→probe cycle under the oracle hash (VERDICT
    r12 #2): build over the full corpus, tombstone every 4th vector, run
    ``_apply_ivf_erasures`` (assignments rewritten under the original
    cell-partition+bucket spec, tombstones truncated; the codebook stays
    fixed — erasure never re-fits centroids), then probe. Shares
    ``ann_ivf_erase``'s surviving-assignments oracle, so the green row
    proves the physical rewrite keeps every surviving cosine/rank
    bit-identical. The builder RAISES unless assignment rows physically
    dropped, no erased vec_id survives, and the tombstone vector is
    truncated — physical state the oracle hash cannot see.

    Scale shape: ``ann_ivf_erase`` plus one broadcast-anti-join rewrite
    of the assignments table (repartition-aligned to the vec_id bucket
    spec within cell partitions). Own store kind ("ivfea")."""
    from e_commerce_click_stream_spark.operators.storelock import (
        acquire_build_lock,
        downgrade_to_shared,
        store_location,
    )
    from e_commerce_click_stream_spark.operators.tombstones import (
        tombstones_table_name,
    )

    loc = store_location("ivfea", sf_dir)
    prefix = _ivf_store_build(spark, sf_dir, loc=loc)
    n = _vecs(spark, sf_dir)
    erased = n.filter(_ivf_arrivals()).select("vec_id")
    acquire_build_lock(loc[0])
    _ivf_erase(spark, erased, prefix, loc[0])
    stats = _apply_ivf_erasures(spark, prefix, loc[0])
    downgrade_to_shared(loc[0])

    assign_t = f"{prefix}_assign"
    # vacuous on an empty fixture (no vectors, so nothing drops)
    if erased.limit(1).count() > 0 and stats["dropped"] <= 0:
        raise RuntimeError(f"_apply_ivf_erasures dropped nothing: {stats}")
    if spark.table(assign_t).join(erased, "vec_id", "left_semi").count() != 0:
        raise RuntimeError("assignments still hold erased vec_ids after apply")
    if spark.table(tombstones_table_name(prefix)).count() != 0:
        raise RuntimeError("tombstone vector not truncated after apply")
    stored_cent, stored_assign = _ivf_store_read(spark, prefix)
    return _ivf_probe_stored(spark, sf_dir, stored_cent, stored_assign)


_CELL_BALANCE_SQL = f"""
WITH n AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
    FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
),
cent AS (
    SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < {N_CENTROIDS}
),
assign AS (
    SELECT n.vec_id,
           arg_max(c.cent_id, round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6)
                              - c.cent_id * 1e-12) AS cell
    FROM n, cent c
    GROUP BY n.vec_id
)
SELECT cell, count(*) AS n_vecs,
       round(count(*)::DOUBLE / sum(count(*)) OVER (), 4) AS pct_of_corpus,
       round(count(*)::DOUBLE * {N_CENTROIDS} / sum(count(*)) OVER (), 4)
           AS balance_ratio
FROM assign GROUP BY cell
"""


@register("ivf_cell_balance_audit", oracle=_CELL_BALANCE_SQL,
          tags=("similarity", "ivf", "stored-index", "governance"))
def ivf_cell_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-occupancy audit over the STORED IVF assignments — the signal
    that triggers re-clustering: per cell, its row count, share of the
    corpus, and balance ratio vs the ideal corpus/ncentroids occupancy
    (ratio ≫ 1 = a hot cell every probe pays to scan, ratio ≪ 1 = wasted
    codebook capacity). The Spark side reads the persisted store, the
    oracle re-derives assignments from scratch — so a green row ALSO
    re-validates the stored artifact's contents, not just this agg.

    Scale shape: one partial+final count per cell (ncells rows out of the
    agg) + a grand-total window over ncells rows — nothing scales with
    corpus size except the store scan, which reads only (vec_id, cell)."""
    prefix = _ivf_store_build(spark, sf_dir)
    _, stored_assign = _ivf_store_read(spark, prefix)
    per_cell = stored_assign.groupBy("cell").agg(F.count("*").alias("n_vecs"))
    total = F.sum("n_vecs").over(Window.partitionBy())
    return per_cell.select(
        "cell",
        "n_vecs",
        F.round(F.col("n_vecs") / total, 4).alias("pct_of_corpus"),
        F.round(F.col("n_vecs") * N_CENTROIDS / total, 4).alias("balance_ratio"),
    )


# ---------------------------------------------------------------------------
# Coreset selection: greedy k-center (farthest-point / Gonzalez) — the
# diversity-sampling primitive behind coreset-based data selection

COR_K = 8


def _kcenter_sql() -> str:
    def rd(x: str, c: str) -> str:
        return (f"round(sqrt(list_sum(list_transform(range(1, 65), "
                f"i -> ({x}.v[i] - {c}.cv[i]) * ({x}.v[i] - {c}.cv[i])))), 6)")

    ctes = ["""n AS (
    SELECT vec_id, embedding::DOUBLE[] AS v
    FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
    WHERE vec_id IS NOT NULL
)""",
        """c0 AS (
    SELECT vec_id, v AS cv, CAST(0.0 AS DOUBLE) AS dist
    FROM n ORDER BY vec_id LIMIT 1
)""",
        f"""d1 AS (
    SELECT n.vec_id, n.v, {rd('n', 'c0')} AS mind FROM n, c0
)""",
    ]
    for i in range(1, COR_K):
        ctes.append(f"""c{i} AS (
    SELECT vec_id, v AS cv, mind AS dist
    FROM d{i} ORDER BY mind DESC, vec_id LIMIT 1
)""")
        if i < COR_K - 1:
            ctes.append(f"""d{i + 1} AS (
    SELECT s.vec_id, s.v, least(s.mind, {rd('s', f'c{i}')}) AS mind
    FROM d{i} s, c{i}
)""")
    selects = "\nUNION ALL\n".join(
        f"SELECT {i + 1} AS sel_rank, vec_id, dist FROM c{i}" for i in range(COR_K)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


@register("embedding_coreset_kcenter", oracle=_kcenter_sql(),
          tags=("similarity", "coreset", "sampling", "iterative"))
def embedding_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (Gonzalez farthest-point): seed with the
    lowest vec_id, then COR_K-1 times pick the vector farthest from the
    chosen set (max of the running min-distance, min-id tiebreak) — the
    2-approximation to k-center that diversity-based data selection
    (Sener & Savarese, "Active Learning for CNNs: A Core-Set Approach",
    ICLR'18) is built on. Emits each center with its selection rank and
    the coverage distance at selection — a decreasing sequence that IS
    the coreset's radius profile.

    Scale shape: each round is one broadcast of the single new center
    against the corpus (update the running min-distance in place — never
    re-scan the chosen set) + a 1-row argmax; rounds are checkpointed so
    round k's plan doesn't re-derive rounds 1..k-1 (the same
    linear-not-quadratic discipline as the k-means/PageRank loops).
    Distances round to 6 before the min-fold so both engines walk an
    identical selection path."""
    # NULL vec_id would diverge the seed pick (Spark min(struct) sorts
    # NULL fields first; the oracle's ORDER BY defaults NULLS LAST) —
    # an id-less vector can't be selected or cited anyway, so both
    # sides drop it explicitly
    n = _vecs(spark, sf_dir).filter(F.col("vec_id").isNotNull()).select("vec_id", "v")

    def rdist(vcol, ccol):
        return F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(vcol, ccol, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        )

    seed = (
        n.agg(F.min(F.struct("vec_id", "v")).alias("c"))
        .select(
            F.col("c.vec_id").alias("vec_id"),
            F.col("c.v").alias("cv"),
            F.lit(0.0).alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    chosen = [seed]
    state = (
        n.crossJoin(F.broadcast(seed.select("cv")))
        .select("vec_id", "v", rdist(F.col("v"), F.col("cv")).alias("mind"))
        .localCheckpoint(eager=True)
    )
    for _ in range(1, COR_K):
        nxt = (
            state.agg(
                F.max(
                    F.struct(
                        F.col("mind"),
                        (-F.col("vec_id")).alias("nid"),
                        F.col("v").alias("cv"),
                    )
                ).alias("m")
            )
            .select(
                (-F.col("m.nid")).alias("vec_id"),
                F.col("m.cv").alias("cv"),
                F.col("m.mind").alias("dist"),
            )
            .localCheckpoint(eager=True)
        )
        chosen.append(nxt)
        state = (
            state.crossJoin(F.broadcast(nxt.select("cv")))
            .select(
                "vec_id",
                "v",
                F.least("mind", rdist(F.col("v"), F.col("cv"))).alias("mind"),
            )
            .localCheckpoint(eager=True)
        )
    out = None
    for i, c in enumerate(chosen):
        row = c.select(
            F.lit(i + 1).alias("sel_rank"), "vec_id", F.col("dist")
        )
        out = row if out is None else out.unionByName(row)
    # empty/fully-gated corpus: the global aggs above still emit one row
    # each with NULL vec_id, but the oracle's LIMIT-1 CTEs emit nothing;
    # drop the placeholders so both engines agree and the empty-input
    # contract holds
    return out.filter(F.col("vec_id").isNotNull())


# ---------------------------------------------------------------------------
# Cosine RANGE search: all corpus vectors within a similarity radius of
# each query — the epsilon-ball complement of ann_cosine_topk (fixed-k).
# Retrieval pipelines use range queries for near-dup candidate pull and
# "everything at least this related" joins, where k is unknowable a
# priori. The threshold applies to the ROUNDED cosine so the boundary is
# engine-exact (same discipline as ann_cosine_topk's rounded ranking).

RANGE_TAU = 0.25

_RANGE_SEARCH_SQL = f"""
WITH n AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
    FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
),
scored AS (
    SELECT q.vec_id AS query_id,
           c.vec_id AS neighbor_id,
           round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
    FROM n q JOIN n c ON c.vec_id != q.vec_id
    WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, cosine,
       count(*) OVER (PARTITION BY query_id) AS n_in_range
FROM scored WHERE cosine >= {RANGE_TAU}
"""


@register("ann_range_search", oracle=_RANGE_SEARCH_SQL,
          tags=("similarity", "range"))
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine range search for the query vectors (vec_id <
    10): every neighbor with rounded cosine >= RANGE_TAU, plus the
    per-query result count (the statistic that tells a caller whether the
    radius is too loose before it materializes a huge candidate set).

    Scale shape: queries broadcast against the corpus scan (corpus never
    shuffles — same shape as ann_cosine_topk), the radius filter prunes
    before the only shuffle (the per-query count window over the small
    in-range result). The IVF store (ann_ivf_stored) supplies the
    partition-pruned variant when the corpus is indexed; this is the
    exact baseline it approximates."""
    n = _vecs(spark, sf_dir).select("vec_id", "v", _norm("v").alias("nrm"))
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    scored = n.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_dot("qv", "v") / (F.col("qn") * F.col("nrm")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id")
    return (
        scored.filter(F.col("cosine") >= RANGE_TAU)
        .withColumn("n_in_range", F.count("*").over(w))
    )


_IVF_RANGE_SQL = f"""
WITH {_IVF_N_CENT_CTE},
{_IVF_ASSIGN_WIDE_CTE},
{_IVF_PROBES_CTE},
scored AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           round(list_dot_product(q.v, a.v) / (q.nrm * a.nrm), 6) AS cosine
    FROM (SELECT query_id, cell FROM probes WHERE probe_rank <= {N_PROBE}) p
    JOIN assign a ON a.cell = p.cell
    JOIN n q ON q.vec_id = p.query_id
    WHERE a.vec_id != p.query_id
)
SELECT query_id, neighbor_id, cosine,
       count(*) OVER (PARTITION BY query_id) AS n_in_range
FROM scored WHERE cosine >= {RANGE_TAU}
"""


@register("ann_ivf_range_search", oracle=_IVF_RANGE_SQL,
          tags=("similarity", "ivf", "range"))
def ann_ivf_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-accelerated twin of ``ann_range_search``: each query
    range-scans only its 3 nearest cells instead of the whole corpus —
    the scale path for epsilon-ball retrieval (a neighbor in an unprobed
    cell is missed, the recall trade every IVF index makes; compare the
    two queries' n_in_range for the observed recall). Same inclusive
    ROUNDED-cosine radius as the exact baseline.

    Scale shape: identical probe plumbing to ann_ivf_topk — broadcast
    centroids, equi-join on cell (at 100 TB the stored cell-partitioned
    assignment makes this a DPP-pruned scan of ~nprobe/ncells of the
    corpus, see ann_ivf_stored), radius filter prunes before the only
    shuffle (the per-query count window)."""
    n, cent = _ivf_corpus(spark, sf_dir)
    assign = _ivf_assign(n, cent, carry_vec=True)
    probes = _ivf_probes(n, cent, carry_query_vec=True)
    scored = (
        assign.join(F.broadcast(probes), on="cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_dot("qv", "v") / (F.col("qn") * F.col("nrm")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id")
    return (
        scored.filter(F.col("cosine") >= RANGE_TAU)
        .withColumn("n_in_range", F.count("*").over(w))
    )


# ---------------------------------------------------------------------------
# near-dup threshold calibration: how aggressive is a given cosine cutoff?
# The vector-side twin of quality_threshold_sweep — pairs and distinct
# documents implicated at each candidate threshold, from ONE pass over the
# verified LSH pair relation

NEARDUP_THR_GRID = (30, 40, 50, 60, 70, 80, 90)  # integer percents: no
# decimal literals in the grid (DuckDB types bare 0.30 as DECIMAL(3,2),
# which the driver hasher stringifies differently from Spark's double)

_NEARDUP_CURVE_SQL = f"""
WITH grid AS (
    SELECT unnest([{", ".join(str(t) for t in NEARDUP_THR_GRID)}]) AS thr_pct
),
hits AS (
    SELECT g.thr_pct, p.vec_a, p.vec_b
    FROM ({_NEARDUP_LSH_SQL}) p
    JOIN grid g ON p.cosine >= g.thr_pct / 100.0
),
u AS (SELECT thr_pct, unnest([vec_a, vec_b]) AS d FROM hits),
agg AS (
    SELECT thr_pct,
           CAST(count(*) / 2 AS BIGINT) AS n_pairs,
           count(DISTINCT d) AS n_docs
    FROM u GROUP BY thr_pct
)
SELECT g.thr_pct,
       coalesce(a.n_pairs, 0) AS n_pairs,
       coalesce(a.n_docs, 0) AS n_docs
FROM grid g LEFT JOIN agg a ON a.thr_pct = g.thr_pct
"""


@register("neardup_threshold_curve", oracle=_NEARDUP_CURVE_SQL,
          tags=("similarity", "near-dup", "calibration"))
def neardup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-volume curve over the near-dup cosine threshold: for each
    grid cutoff, how many verified LSH pairs survive and how many distinct
    vectors they implicate — the readout that calibrates the dedup
    aggressiveness knob BEFORE a 100 TB pass commits to one (the vector
    twin of quality_threshold_sweep; thresholds ride as integer percents
    so no bare decimal literal can type-drift between engines, and a
    cutoff that kills every pair still reports a zero row).

    Scale shape: reuses the verified pair relation (bounded by band-bucket
    occupancy, not n²), broadcast-joins the 7-row grid, explodes each pair
    into its two endpoint ids, and aggregates the (threshold) grain in one
    shuffle. Pair volume × |grid| × 2 rows total — never a corpus scan."""
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in NEARDUP_THR_GRID])).alias("thr_pct")
    )
    pairs = embedding_neardup_lsh(spark, sf_dir).select("vec_a", "vec_b", "cosine")
    hits = pairs.crossJoin(F.broadcast(grid)).filter(
        F.col("cosine") >= F.col("thr_pct") / 100.0
    )
    u = hits.select("thr_pct", F.explode(F.array("vec_a", "vec_b")).alias("d"))
    agg = u.groupBy("thr_pct").agg(
        (F.count("*") / 2).cast("long").alias("n_pairs"),
        F.countDistinct("d").alias("n_docs"),
    )
    # LEFT join from the grid AFTER aggregation (the agg side is |grid|
    # rows, so the outer join broadcasts): a cutoff that kills every pair
    # still reports its zero row — that IS the calibration signal
    return grid.join(F.broadcast(agg), "thr_pct", "left").select(
        "thr_pct",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Matryoshka-style truncation eval: how much retrieval quality survives if
# only the first k dimensions are stored/searched (MRL embeddings ship
# exactly this trade; the curve below is the evidence for choosing k).

TRUNC_DIMS = (8, 16, 32)


def _trunc_recall_sql() -> str:
    gate = (
        "SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding "
        "FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 "
        "AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 "
        "AND len(list_filter(embedding, x -> x <> 0)) > 0"
    )
    parts = [f"""n AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
    FROM ({gate}) embeddings
),
base AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) DESC,
                            c.vec_id) AS rank
        FROM n q JOIN n c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {N_QUERIES})
    WHERE rank <= {TOP_K}
),
qids AS (SELECT DISTINCT query_id FROM base)"""]
    for k in TRUNC_DIMS:
        parts.append(f"""tn{k} AS (
    SELECT vec_id, v[1:{k}] AS tv,
           sqrt(list_sum(list_transform(v[1:{k}], x -> x * x))) AS tnrm
    FROM n
    WHERE sqrt(list_sum(list_transform(v[1:{k}], x -> x * x))) > 0
),
tp{k} AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.tv, c.tv) / (q.tnrm * c.tnrm), 6) DESC,
                            c.vec_id) AS rank
        FROM tn{k} q JOIN tn{k} c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {N_QUERIES})
    WHERE rank <= {TOP_K}
),
h{k} AS (
    SELECT b.query_id, count(*)::BIGINT AS n_hits
    FROM base b JOIN tp{k} t
      ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
)""")
    selects = "\nUNION ALL\n".join(
        f"""SELECT {k} AS trunc_dim, q.query_id,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       coalesce(h.n_hits, 0) / {TOP_K}.0 AS recall
FROM qids q LEFT JOIN h{k} h USING (query_id)"""
        for k in TRUNC_DIMS
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects


_TRUNC_RECALL_SQL = _trunc_recall_sql()


@register("embedding_truncation_recall", oracle=_TRUNC_RECALL_SQL,
          tags=("similarity", "matryoshka", "evaluation"))
def embedding_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of truncated-dimension retrieval vs the full-64-dim exact
    top-5, per query and truncation width (8/16/32 leading dims) — the
    Matryoshka curve that justifies storing/searching a prefix of each
    vector (8x-2x memory/IO savings) at a measured recall cost. Vectors
    whose TRUNCATED prefix is all-zero are excluded from that width's
    search (no direction: the cosine denominator would raise/NULL-diverge
    between engines); a query with no surviving truncated pairs reports
    recall 0 rather than dropping out.

    Scale shape: one hygiene-gated scan feeds the baseline and every
    truncation width; each width is the standard broadcast-queries
    brute-force ranking over PREFIX slices (cheaper per candidate by
    64/k), and recall is a semi-equi-join + per-query count. The full-dim
    baseline pairs are checkpointed once and reused by all widths."""
    n = _vecs(spark, sf_dir).select("vec_id", "v", _norm("v").alias("nrm"))
    base = (
        ann_cosine_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    qids = base.select("query_id").distinct()

    parts = []
    for k in TRUNC_DIMS:
        tv = F.slice(F.col("v"), 1, k)
        tn = (
            n.select("vec_id", tv.alias("tv"), _norm(tv).alias("tnrm"))
            .filter(F.col("tnrm") > 0)
        )
        tq = tn.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("tv").alias("qv"),
            F.col("tnrm").alias("qn"),
        )
        scored = tn.join(F.broadcast(tq), F.col("vec_id") != F.col("query_id")).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_dot("qv", "tv") / (F.col("qn") * F.col("tnrm")), 6).alias(
                "cosine"
            ),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        pairs = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id")
        )
        # both sides are <= N_QUERIES * TOP_K rows — broadcast explicitly
        # (at EXPLAIN time the post-window sizes are unknown and the
        # planner would otherwise pick a sort-merge join)
        hits = (
            base.join(F.broadcast(pairs), ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").alias("n_hits"))
        )
        parts.append(
            qids.join(F.broadcast(hits), "query_id", "left").select(
                F.lit(k).alias("trunc_dim"),
                "query_id",
                F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
                (F.coalesce("n_hits", F.lit(0)) / float(TOP_K)).alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Top principal direction by power iteration: the spectral-structure
# readout (dominant axis of variance-ish structure — uncentered, i.e. the
# top right-singular vector of the data matrix) that PCA-whitening,
# ABTT-style embedding post-processing, and drift monitoring start from.
# Every cross-engine float hazard is handled the way the k-means family
# does: per-row coefficients and per-dimension sums round to 6 before
# they feed the next stage, and every whole-vector reduction happens as a
# sequential fold over a dim-sorted packed array (identical accumulation
# order in both engines).

POWER_ITERS = 5


def _power_iter_sql() -> str:
    gate = (
        "SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding "
        "FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 "
        "AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 "
        "AND len(list_filter(embedding, x -> x <> 0)) > 0"
    )
    parts = [f"""n AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM ({gate}) embeddings
),
w0 AS (SELECT list_transform(range({_EMB_DIM}), i -> 0.125) AS vv)"""]
    for t in range(1, POWER_ITERS + 1):
        parts.append(f"""c{t} AS (
    SELECT n.vec_id, n.v, round(list_dot_product(n.v, w.vv), 6) AS c
    FROM n, w{t - 1} w
),
d{t} AS (
    SELECT r.range AS dim, round(sum(c * v[r.range + 1]), 6) AS u
    FROM c{t}, range({_EMB_DIM}) r
    GROUP BY r.range
),
u{t} AS (SELECT list(u ORDER BY dim) AS uu FROM d{t}),
w{t} AS (
    SELECT list_transform(uu, x -> round(
               x / sqrt(list_sum(list_transform(uu, y -> y * y))), 6)) AS vv,
           round(sqrt(list_sum(list_transform(uu, y -> y * y))), 6) AS lam
    FROM u{t}
)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT r.range::BIGINT AS dim, vv[r.range + 1] AS loading, lam AS eigenvalue_est
FROM w{POWER_ITERS}, range({_EMB_DIM}) r
"""
    )


_POWER_ITER_SQL = _power_iter_sql()


@register("embedding_top_component", oracle=_POWER_ITER_SQL,
          tags=("similarity", "pca", "iterative"))
def embedding_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant singular direction of the UNCENTERED embedding matrix by
    5 rounds of power iteration from the uniform unit vector: coefficient
    per vector (rounded fold-dot), per-dimension weighted sums (one hash
    agg over the posexploded components, rounded), renormalize, repeat.
    Emits the 64 loadings plus the eigenvalue estimate ||A v|| from the
    final round. Deliberately the COMPLEMENT of embedding_pca_power
    (centered covariance spectrum): uncentered, the top direction is the
    mean-dominated "common direction" that All-But-The-Top-style
    embedding post-processing removes BEFORE any PCA. The only
    order-sensitive float reductions are the per-dimension sums, rounded
    to 6 like the k-means centroid means; everything whole-vector is a
    sequential fold over a dim-sorted packed array, bit-identical across
    engines.

    Scale shape: the architectural alternative to embedding_pca_power's
    one-covariance-pass-then-iterate-on-d² design — here each round
    touches the corpus with one zero-shuffle coefficient projection (the
    direction rides in as a broadcast 1-row array) and one posexplode ->
    64-group hash agg, and NO d x d grid ever materializes. At d=64 the
    covariance route is cheaper; at modern embedding widths (d >= 4096,
    d² = 16M+ cells) this per-round corpus matvec is the shape that
    scales. State between rounds is one 64-double row."""
    n = _vecs(spark, sf_dir).select("vec_id", "v")
    vrow = spark.range(1).select(
        F.expr(f"transform(sequence(0, {_EMB_DIM - 1}), i -> 0.125d)").alias("vv")
    )
    for _ in range(POWER_ITERS):
        coef = n.crossJoin(F.broadcast(vrow)).select(
            "v", F.round(_dot("v", "vv"), 6).alias("c")
        )
        dims = (
            coef.select("c", F.posexplode("v").alias("dim", "x"))
            .groupBy("dim")
            .agg(F.round(F.sum(F.col("c") * F.col("x")), 6).alias("u"))
        )
        packed = dims.agg(
            F.array_sort(F.collect_list(F.struct("dim", "u"))).alias("du")
        ).select(F.expr("transform(du, s -> s.u)").alias("uu"))
        nrm = F.sqrt(
            F.aggregate(
                F.transform("uu", lambda y: y * y), F.lit(0.0), lambda a, y: a + y
            )
        )
        vrow = packed.select(
            F.transform("uu", lambda x: F.round(x / nrm, 6)).alias("vv"),
            F.round(nrm, 6).alias("lam"),
        ).localCheckpoint(eager=True)
    return vrow.select(
        F.posexplode("vv").alias("dim", "loading"), "lam"
    ).select(
        F.col("dim").cast("long").alias("dim"),
        "loading",
        F.col("lam").alias("eigenvalue_est"),
    )


@register("ann_ivf_compact", oracle=_IVF_TOPK_SQL,
          tags=("similarity", "ivf", "stored-index", "compaction"))
def ann_ivf_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF store compaction (the vector-side twin of bm25_stored_compact):
    build the store without the arriving quarter, append the arrivals
    into their cell partitions (each ingest leaves its own file per
    (cell, bucket)), REWRITE the assignments table in place under the
    same partition+bucket spec (operators/compaction.py — one file per
    (cell, bucket) after), then probe. Sharing the one-pass oracle makes
    compaction's no-op-ness the theorem: the compacted store must return
    bit-identical top-k, with the probe plan unchanged (DPP against the
    same cell partitions — pinned in the plan audit and byte-stable in
    test_round12_ops).

    Scale shape: the rewrite reads and re-writes only (vec_id, v, nrm,
    cell) — one repartition shuffle on the bucket column; the centroid
    table is untouched. At 100 TB this is the OPTIMIZE job a vector
    store runs off the ingest path, under the store's build lock."""
    import os as _os

    from e_commerce_click_stream_spark.operators.compaction import (
        compact_bucketed_table,
    )
    from e_commerce_click_stream_spark.operators.storelock import (
        acquire_build_lock,
        downgrade_to_shared,
    )

    index_dir, _ = _ivf_store_location(sf_dir)
    prefix = _ivf_store_build(spark, sf_dir, corpus_filter=~_ivf_arrivals())
    _ivf_store_append(spark, sf_dir, prefix, _ivf_arrivals())
    acquire_build_lock(index_dir)
    compact_bucketed_table(
        spark, f"{prefix}_assign", "vec_id", _IVF_BUCKETS,
        location=_os.path.join(index_dir, "assignments"),
        sort_col="vec_id", partition_col="cell",
    )
    downgrade_to_shared(index_dir)
    stored_cent, stored_assign = _ivf_store_read(spark, prefix)
    return _ivf_probe_stored(spark, sf_dir, stored_cent, stored_assign)


# ---------------------------------------------------------------------------
# Semantic eval-set decontamination (r12): the embedding-space complement
# of eval_gram_decontamination (plans/text.py). N-gram fingerprints catch
# verbatim benchmark leakage; paraphrased or templated leakage survives
# them — the published mitigation is cosine similarity against the eval
# set's embeddings (e.g. the contamination audits in the Llama/Phi
# technical reports). Same deterministic md5-bucket eval/train split as
# the gram pass, so the two reports describe the SAME split and a
# curation run can drop the union of both verdicts.
#
# SEM_DECON_COSINE is fixture-calibrated (the synthetic embeddings are
# near-orthogonal, so production-style 0.95+ would make every verdict
# vacuously false); a deployment tunes it against a labeled leak set.
SEM_DECON_COSINE = 0.3

_SEM_DECON_SQL = f"""
WITH n AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm,
           CASE WHEN ascii(substr(md5(vec_id::VARCHAR), 1, 1)) % 10 < 2
                THEN 'eval' ELSE 'train' END AS split
    FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NOT NULL)) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0) embeddings
),
scored AS (
    SELECT t.vec_id,
           e.vec_id AS eval_id,
           round(list_dot_product(t.v, e.v) / (t.nrm * e.nrm), 6) AS cosine
    FROM n t JOIN n e ON t.split = 'train' AND e.split = 'eval'
),
best AS (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine DESC, eval_id ASC) AS rn
    FROM scored
)
SELECT vec_id, eval_id AS nearest_eval_id, cosine AS eval_cosine,
       cosine >= {SEM_DECON_COSINE} AS contaminated
FROM best WHERE rn = 1
"""


@register("eval_semantic_decontamination", oracle=_SEM_DECON_SQL,
          tags=("similarity", "contamination", "leakage"))
def eval_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-TRAIN-vector semantic contamination report: nearest eval-split
    vector by exact cosine and a drop verdict at SEM_DECON_COSINE — the
    embedding-space complement of eval_gram_decontamination, on the same
    deterministic md5-bucket split, catching paraphrased leakage that
    verbatim n-gram fingerprints miss.

    Scale shape: the eval side (a fixed eval suite — small by nature,
    ~20% of the fixture) BROADCASTS against the train corpus, which
    never shuffles; per-train best-match is a partial-aggregating
    max(struct(cosine, -eval_id)) — map-side collapse to one row per
    train vector, then ONE small shuffle. No corpus x corpus pair ever
    materializes; at real scale the eval suite stays broadcastable by
    definition (benchmarks are thousands of rows, not billions)."""
    split_is_eval = (
        F.ascii(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)) % 10 < 2
    )
    v = _vecs(spark, sf_dir).withColumn("nrm", _norm("v"))
    train = v.filter(~split_is_eval).select("vec_id", "v", "nrm")
    ev = v.filter(split_is_eval).select(
        F.col("vec_id").alias("eval_id"),
        F.col("v").alias("ev"),
        F.col("nrm").alias("enrm"),
    )
    scored = train.join(F.broadcast(ev)).select(
        "vec_id",
        "eval_id",
        F.round(
            _dot("v", "ev") / (F.col("nrm") * F.col("enrm")), 6
        ).alias("cosine"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(F.col("cosine"), (-F.col("eval_id")).alias("neg_id"))
        ).alias("b")
    )
    return best.select(
        "vec_id",
        (-F.col("b.neg_id")).alias("nearest_eval_id"),
        F.col("b.cosine").alias("eval_cosine"),
        (F.col("b.cosine") >= SEM_DECON_COSINE).alias("contaminated"),
    )
