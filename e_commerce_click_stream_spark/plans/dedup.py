"""Document deduplication operators over the ``documents`` table.

The reference has no dedup capability; these are the north-star
training-data-pipeline operators (BASELINE.json) built Spark-first:

- exact dedup: hash-groupBy on content fingerprint;
- MinHash + LSH near-dup: shingle → 16 md5-minhashes → 4 bands × 4 rows →
  bucket self-join for candidates → exact jaccard verify. At 100 TB the
  band-bucket join is the scale path: candidates ≪ all-pairs, the bucket
  key is high-cardinality (md5) so the shuffle distributes evenly, and the
  verify join touches only candidate pairs;
- exact n-gram jaccard: candidate generation by shared shingle (inverted
  index join), the brute-force baseline the LSH path approximates;
- SimHash: 32-bit parity fingerprint; identical fingerprints = near-dups.

All hashing is md5-hex-string based so every step is reproducible in the
DuckDB oracles (see plans/registry.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_click_stream_spark.io import spread, table
from e_commerce_click_stream_spark.operators.dedup_index import (
    band_buckets,
    best_match_per_probe,
    build_band_index,
    build_band_index_tables,
    minhash_signature,
    probe_band_index,
    probe_band_index_tables,
)
from e_commerce_click_stream_spark.operators.textops import (
    fingerprint,
    shingles,
    signature_bands,
    tokens,
)
from e_commerce_click_stream_spark.plans.registry import register

NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
JACCARD_THRESHOLD = 0.8
# Shingles appearing in more than this many documents are "stop-shingles":
# they generate quadratic candidate fan-out in the inverted-index self-join
# while contributing almost no discriminating power (any pair above a real
# jaccard threshold shares rare shingles too). Dropping them bounds the
# candidate stage at ≤ CAP² pairs per shingle regardless of corpus size.
NGRAM_DF_CAP = 100

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB). [t[i] ... for i in range(...)] is DuckDB's
# list comprehension; i is 1-based.

_SHINGLED_CTE = """
toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
shingled AS (
    SELECT doc_id,
           CASE WHEN len(t) >= 3
                THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                    for i in range(1, len(t) - 1)])
                ELSE [] END AS s
    FROM toks
)
"""


SH_EST_BYTES_PER_DOC = 8192  # generous: ~3x the fixtures' avg text size


def _shingle_ckpt_level(spark: SparkSession, sf_dir: str):
    """Size-derived storage level for the corpus-sized shingle
    checkpoints (one k-word-string array per doc, ~3x the text bytes;
    see operators/ckptlevel.py). These checkpoints outlive their query
    through the returned relations and cannot be evicted, so in a
    one-session many-query run — the driver gate's shape — they
    accumulate: the r14 x10 probe (vanilla 1 GiB session) caught
    dedup_stored_apply_erase's broadcast build and the CC-store family
    starving under them. Small fixtures keep the in-memory latency
    (bench-neutral at sf0.1 on the 16g session: 5k docs ~ 40 MiB,
    inside the quarter-pool cap). Doc count EXACT from parquet footers
    (operators/ckptlevel.py::parquet_row_count — still no Spark job):
    the former footprint // 100 estimate undercounted docs 5-10x on the
    dictionary-compressing scale fixtures, handing a MEMORY level to a
    real ~400 MB checkpoint and starving the r15 x10 sweep's broadcast
    builds (dedup_incremental_minhash / dedup_ngram_jaccard)."""
    from e_commerce_click_stream_spark.operators.ckptlevel import (
        corpus_checkpoint_level,
        parquet_row_count,
    )

    n_docs = parquet_row_count(sf_dir, "documents")
    return corpus_checkpoint_level(spark, n_docs * SH_EST_BYTES_PER_DOC)


def _docs_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + shingle every document, materialized once.

    The LSH pipeline references this relation from several join branches
    (signatures, candidate pairs, both sides of the verify join); without
    materialization Catalyst re-derives the whole shingle+md5 pipeline in
    each branch — including inside scan-level DataFilters — which turned a
    ~10 s query into ~300 s at sf0.1. ``localCheckpoint`` cuts the lineage
    so the expensive expression tree runs exactly once. At cluster scale
    the equivalent is persisting the shingled corpus to storage (it is
    re-read by every dedup round anyway)."""
    sh = (
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", tokens().alias("toks"))
        .select("doc_id", shingles("toks", 3).alias("s"))
    )
    # filter AFTER materialization: pushed below the checkpoint it would be
    # cloned into the scan's DataFilters, doubling the monster shingle
    # expression per row (and occasionally falling off the JIT fast path —
    # measured 45× run-to-run swings)
    return sh.localCheckpoint(
        eager=True, storageLevel=_shingle_ckpt_level(spark, sf_dir)
    ).filter(F.size("s") > 0)


# ---------------------------------------------------------------------------
# exact dedup

_EXACT_SQL = """
SELECT md5(lower(translate(regexp_replace(trim(text), '\\s+', ' ', 'g'), 'İΣ', 'iσ'))) AS fp,
       min(doc_id) AS canonical_doc_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
HAVING count(*) > 1
"""


@register("dedup_exact", oracle=_EXACT_SQL, tags=("dedup",))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by normalized-content fingerprint: one
    hash-shuffle on the md5 key (uniformly distributed — no skew at any
    scale), min(doc_id) as the kept canonical row."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy(fingerprint().alias("fp"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
    )


_EXACT_STATS_SQL = """
SELECT count(*) AS total_docs,
       count(DISTINCT text) AS distinct_texts,
       count(DISTINCT md5(lower(translate(regexp_replace(trim(text), '\\s+', ' ', 'g'), 'İΣ', 'iσ'))))
           AS distinct_fingerprints,
       count(*) - count(DISTINCT md5(lower(translate(regexp_replace(trim(text), '\\s+', ' ', 'g'), 'İΣ', 'iσ'))))
           AS removable_docs
FROM documents
"""


@register("dedup_exact_stats", oracle=_EXACT_STATS_SQL, tags=("dedup",))
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup summary: total vs distinct (raw and normalized)."""
    docs = table(spark, sf_dir, "documents")
    fp = fingerprint()
    return docs.agg(
        F.count("*").alias("total_docs"),
        F.countDistinct("text").alias("distinct_texts"),
        F.countDistinct(fp).alias("distinct_fingerprints"),
        (F.count("*") - F.countDistinct(fp)).alias("removable_docs"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup

def _minhash_sql() -> str:
    mh_cols = ",\n           ".join(
        f"min(md5('{s}:' || sh)) AS mh{s}" for s in range(NUM_HASHES)
    )
    band_rows = []
    for b in range(NUM_BANDS):
        cols = " || '|' || ".join(
            f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
        )
        # band-seeded bucket: the bucket string alone is the complete LSH
        # key (operators/dedup_index.py band_buckets), so candidate joins
        # are single-column
        band_rows.append(
            f"SELECT doc_id, {b} AS band, md5('{b}|' || {cols}) AS bucket FROM mh"
        )
    bands = "\n    UNION ALL\n    ".join(band_rows)
    return f"""
WITH {_SHINGLED_CTE},
exploded AS (
    SELECT doc_id, unnest(s) AS sh FROM shingled WHERE len(s) > 0
),
mh AS (
    SELECT doc_id,
           {mh_cols}
    FROM exploded GROUP BY doc_id
),
buckets AS (
    {bands}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
scored AS (
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(sa.s, sb.s))::DOUBLE
                 / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 4)
               AS jaccard
    FROM cand c
    JOIN shingled sa ON sa.doc_id = c.doc_a
    JOIN shingled sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
"""


@register("dedup_minhash_lsh", oracle=_minhash_sql(),
          tags=("dedup", "minhash", "lsh"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) near-duplicate pairs with exact
    jaccard verification of candidates. Spark plan: tokenize/shingle
    (codegen, no shuffle) → per-doc signature via array_min (no explode,
    no shuffle) → explode 4 band buckets → self-join on (band, bucket) →
    verify join on the two shingle sets."""
    sh = _docs_shingled(spark, sf_dir)
    # Signature via explode + codegen'd min-aggs: higher-order array
    # functions (array_min∘transform) are interpreted per element and
    # measured 2.4× slower. Checkpointed because BOTH sides of the bucket
    # self-join reference it.
    ex = sh.select("doc_id", F.explode("s").alias("sh_"))
    # shared signing helpers (operators/dedup_index.py): identical
    # expression trees to the loops this builder used to inline — the
    # band-seeded bucket alone is the full LSH key, so the self-join
    # below is a single-column equi-join — built as parsed SQL
    # expressions (one gateway roundtrip each instead of a Column chain
    # per hash component; ~1.1k roundtrips off this builder's plan
    # construction, which every timed run pays).
    sig = minhash_signature(ex, NUM_HASHES).localCheckpoint(eager=True)
    buckets = band_buckets(sig, NUM_BANDS, ROWS_PER_BAND)

    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b")
        .distinct()
    )

    sa = sh.selectExpr("doc_id AS doc_a", "s AS sa")
    sb = sh.selectExpr("doc_id AS doc_b", "s AS sb")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "round(CAST(size(array_intersect(sa, sb)) AS DOUBLE)"
            " / (size(sa) + size(sb) - size(array_intersect(sa, sb))), 4)"
            " AS jaccard",
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# exact n-gram jaccard via inverted-index candidate join

_NGRAM_SQL = f"""
WITH {_SHINGLED_CTE},
prefixed AS (
    SELECT doc_id, len(s) AS n,
           list_sort(s)[1 : cast(floor(len(s) * {1 - JACCARD_THRESHOLD}) AS INT) + 1]
               AS pfx
    FROM shingled WHERE len(s) > 0
),
exploded AS (
    SELECT doc_id, n, unnest(pfx) AS sh FROM prefixed
),
kept AS (
    SELECT sh FROM exploded GROUP BY sh HAVING count(*) <= {NGRAM_DF_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM exploded a JOIN exploded b
      ON a.sh = b.sh AND a.doc_id < b.doc_id
     AND least(a.n, b.n) >= {JACCARD_THRESHOLD} * greatest(a.n, b.n)
    WHERE a.sh IN (SELECT sh FROM kept)
),
scored AS (
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(sa.s, sb.s))::DOUBLE
                 / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 4)
               AS jaccard
    FROM cand c
    JOIN shingled sa ON sa.doc_id = c.doc_a
    JOIN shingled sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# The exact brute-force-ish baseline that dedup_minhash_lsh approximates —
# its candidate stage is Σ df² over prefix shingles, intrinsically heavier
# than banded LSH.
# Rarest-first (ascending-df) PPJoin ordering was measured here: the two
# extra shuffles it needs (df count + per-doc reorder) cost more at this
# scale than the ~2× candidate reduction saves (~6.5 s vs ~5.0 s at
# sf0.1), so the lexicographic prefix + df-cap stands.
@register("dedup_ngram_jaccard", oracle=_NGRAM_SQL, tags=("dedup", "jaccard"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-jaccard near-dup pairs with PPJoin-style candidate
    pruning, all provably lossless at threshold t=0.8:

    - prefix filtering: if jaccard(A,B) >= t, the first
      floor((1-t)·|A|)+1 elements of each doc's sorted shingle list must
      share an element — so the inverted index is built over ~20% of each
      doc's shingles, shrinking self-join fan-out ~25× (each engine may
      use a different sort order; ANY consistent global order yields a
      candidate superset of the true pairs, so results are identical);
    - size compatibility: jaccard <= min(|A|,|B|)/max(|A|,|B|), so
      mismatched sizes are dropped inside the join condition;
    - a document-frequency cap on prefix shingles (df > NGRAM_DF_CAP =
      stop-shingles) bounds worst-case fan-out at any corpus size.

    Scoring is the exact jaccard over FULL shingle sets (array_intersect).
    This is the exact baseline dedup_minhash_lsh approximates."""
    sh = _docs_shingled(spark, sf_dir)
    # prefix index: size + first floor((1-t)·n)+1 sorted shingles per doc
    pfx_len = (F.floor(F.size("s") * (1 - JACCARD_THRESHOLD)) + 1).cast("int")
    ex = sh.select(
        "doc_id",
        F.size("s").alias("n"),
        F.explode(F.slice(F.array_sort("s"), F.lit(1), pfx_len)).alias("sh"),
    )
    # df per prefix-shingle via a single shuffle on sh; the candidate
    # self-join below reuses the same key so the exchange is shared
    kept = (
        ex.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= NGRAM_DF_CAP)
        .select("sh")
    )
    exk = ex.join(kept, "sh")
    a = exk.alias("a")
    b = exk.alias("b")
    size_ok = (
        F.least(F.col("a.n"), F.col("b.n"))
        >= JACCARD_THRESHOLD * F.greatest(F.col("a.n"), F.col("b.n"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ok,
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verify on full shingle arrays — identical to the LSH verify stage
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union_sz = F.size("sa") + F.size("sb") - common
    # Scale regime (same chooser gate as the band-store probe): AQE
    # auto-broadcasts the post-distinct candidate relation, and at the
    # x10 probe (duplication-quadratic candidates on a 1 GiB session)
    # that build died with notEnoughMemoryToBuildAndBroadcastTable.
    # SHUFFLE_HASH builds on the ids-only candidates (j1) resp. the
    # per-partition-bounded shingle side (j2) — nothing array-heavy is
    # broadcast or sorted. Small fixtures keep AQE's broadcast plan.
    if _band_cand_dedupe(spark, sf_dir):
        cand = cand.hint("shuffle_hash")
        sb = sb.hint("shuffle_hash")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(common.cast("double") / union_sz, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# SimHash

_SIMHASH_BITS = 32

_SIMHASH_CTE = f"""
toks AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
    FROM documents
),
hashed AS (
    SELECT doc_id, md5(tok) AS h FROM toks
),
bitvals AS (
    SELECT doc_id, b.range AS bit,
           CASE WHEN ascii(substr(h, b.range::INT + 1, 1)) % 2 = 1
                THEN 1 ELSE -1 END AS v
    FROM hashed, range({_SIMHASH_BITS}) b
),
sums AS (
    SELECT doc_id, bit, sum(v) AS s FROM bitvals GROUP BY doc_id, bit
),
sigs AS (
    SELECT doc_id,
           string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY bit)
               AS simhash
    FROM sums GROUP BY doc_id
)
"""

_SIMHASH_SQL = f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sigs"


def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One md5 per token; the d-th bit is the parity of the d-th hex char.
    # All 32 bit-sums are conditional aggregates in ONE groupBy — no
    # per-bit row explosion (32× shuffle volume, measured 6-130 s flaky
    # under disk contention) and no collect_list reassembly.
    docs = spread(table(spark, sf_dir, "documents")).select("doc_id", tokens().alias("toks"))
    hashed = docs.select("doc_id", F.explode("toks").alias("tok")).select(
        "doc_id", F.md5("tok").alias("h")
    )
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN ascii(substr(h, {d + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END")
            ).alias(f"b{d}")
            for d in range(_SIMHASH_BITS)
        ]
    )
    bitchars = [
        F.when(F.col(f"b{d}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for d in range(_SIMHASH_BITS)
    ]
    return sums.select("doc_id", F.concat(*bitchars).alias("simhash"))


@register("dedup_simhash", oracle=_SIMHASH_SQL, tags=("dedup", "simhash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document (token-frequency weighted,
    md5-parity bit hashes). Identical fingerprints flag near-duplicate token
    multisets; at scale, group by simhash (or by band substrings for
    hamming<=k) instead of pairwise compare."""
    return _simhash_sigs(spark, sf_dir)


_SIMHASH_DUPES_SQL = f"""
WITH {_SIMHASH_CTE}
SELECT simhash, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
FROM sigs GROUP BY simhash HAVING count(*) > 1
"""


@register("dedup_simhash_groups", oracle=_SIMHASH_DUPES_SQL, tags=("dedup", "simhash"))
def dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash collision groups — the grouped (not pairwise) dedup output."""
    return (
        _simhash_sigs(spark, sf_dir)
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# End-to-end corpus cleaning: the composition a pretraining pipeline runs

_CLEAN_PIPELINE_SQL = """
WITH fp AS (
    SELECT doc_id, source, lang,
           md5(lower(translate(regexp_replace(trim(text), '\\s+', ' ', 'g'), 'İΣ', 'iσ'))) AS fp,
           string_split_regex(trim(text), '\\s+') AS t
    FROM documents
),
canon AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM fp
    ) WHERE rn = 1
),
clean AS (
    SELECT * FROM canon
    WHERE len(t) >= 5 AND len(list_distinct(t))::DOUBLE / len(t) > 0.3
)
SELECT source,
       count(*) AS kept_docs,
       cast(sum(len(t)) AS BIGINT) AS total_tokens,
       round(avg(len(t)), 4) AS avg_tokens,
       count(*) FILTER (WHERE lang = 'en') AS en_docs
FROM clean
GROUP BY source
"""


@register("corpus_clean_pipeline", oracle=_CLEAN_PIPELINE_SQL, tags=("dedup", "pipeline", "text"))
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning in one plan: exact dedup (keep the
    min-doc_id row per normalized fingerprint, via a window over the
    uniformly-distributed md5 key — skew-free at any scale), then the
    quality gate (>=5 tokens, >0.3 unique ratio), then per-source corpus
    stats. Two shuffles total (fp window, source agg); every stage is
    codegen'd column expressions, so at 100 TB this is scan-bound."""
    from pyspark.sql import Window

    from e_commerce_click_stream_spark.operators.textops import tokens

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", fingerprint().alias("fp"), tokens().alias("t")
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    canon = docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    n = F.size("t")
    uniq_ratio = F.size(F.array_distinct(F.col("t"))).cast("double") / n
    clean = canon.filter((n >= 5) & (uniq_ratio > 0.3))
    return clean.groupBy("source").agg(
        F.count("*").alias("kept_docs"),
        F.sum(F.size("t")).cast("long").alias("total_tokens"),
        F.round(F.avg(F.size("t")), 4).alias("avg_tokens"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("en_docs"),
    )


# ---------------------------------------------------------------------------
# Connected components: resolve near-dup PAIRS into canonical GROUPS
#
# A pipeline that keeps one doc per near-dup cluster needs the transitive
# closure of the pairwise matches (A~B, B~C => {A,B,C} even if A,C never
# matched). Spark side: iterative min-label propagation (one hop per round,
# converges in O(cluster diameter) rounds — near-dup clusters are shallow;
# for graphs with long chains the two-phase large-star/small-star scheme of
# Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC'14),
# drops rounds to O(log n) with the same join-groupBy primitives). Oracle:
# DuckDB recursive CTE over the identical pair set.

def _cc_sql(pair_filter: str = "") -> str:
    mh = _minhash_sql().strip()
    # reuse the full minhash pipeline as the edge source; wrap its SELECT.
    # ``pair_filter`` splices extra conjuncts onto the pair relation's
    # final WHERE (e.g. the erasure twin's surviving-pairs predicate);
    # the default empty string keeps every existing oracle byte-identical.
    body = mh[len("WITH") :].rsplit("SELECT", 1)
    return f"""
WITH RECURSIVE {body[0].rstrip().rstrip(',')},
pairs AS (
    SELECT{body[1]}{pair_filter}
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, r) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
),
comp AS (
    SELECT node, min(r) AS component_id FROM reach GROUP BY node
)
SELECT component_id,
       count(*) AS n_docs,
       array_to_string(list_sort(list(node)), ',') AS members
FROM comp
GROUP BY component_id
"""


def _cc_fixpoint(pairs: DataFrame, max_rounds: int = 64) -> DataFrame:
    """(node, label) min-label fixpoint over an undirected pair relation
    (doc_a, doc_b) — the shared CC kernel: one edges⋈labels join + min
    groupBy per round, checkpointed, exact-fixpoint terminated.

    Convergence needs ~graph-diameter rounds; the LSH fixture graphs
    converge in <=4 but dedup_cc_incremental feeds this kernel quotient
    graphs whose diameter is bounded only by an ingest batch's edge
    count, so non-convergence within ``max_rounds`` RAISES instead of
    silently returning split components (a chain of >max_rounds bridge
    edges would otherwise emit wrong labels with no error)."""
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = fwd.union(rev).distinct().localCheckpoint(eager=True)

    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    ).localCheckpoint(eager=True)

    for _ in range(max_rounds):
        via_edges = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
        )
        # r15 (guide §2.4): the node's previous label rides the SAME
        # propagation agg — min(label) over the union is unchanged, and
        # max(prev) picks the unique old-label row (every node has
        # exactly one: labels is distinct-by-node and symmetric edges
        # make every dst a src) — so the convergence check is a
        # filter-count scan of the just-materialized checkpoint instead
        # of the old per-round new_labels⋈labels join job (2 exchanges
        # + 1 scheduler job per round, ~30% of the fixpoint's jobs).
        new_labels = (
            via_edges.unionByName(
                labels.withColumn("prev", F.col("label")),
                allowMissingColumns=True,
            )
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("prev").alias("prev"))
            .localCheckpoint(eager=True)
        )
        # `label != prev` null-filters any node whose prev is NULL; the
        # check is only sound because prev is non-null for EVERY node:
        # labels spans every dst (this function builds the symmetric
        # edge union itself, so every dst appears as a src). A caller
        # passing pre-built directed edges would break that invariant —
        # keep the union/distinct above in-function (ADVICE r15).
        changed = new_labels.where("label != prev").count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"min-label propagation did not converge within {max_rounds} rounds "
        f"({changed} labels still changing) — graph diameter exceeds the "
        f"round budget; raise max_rounds or switch this component family "
        f"to the O(log n) large-star/small-star scheme"
    )


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, label) min-label fixpoint over the MinHash-LSH pair graph —
    shared by dedup_connected_components (cluster report) and
    dedup_quality_keep (canonical selection)."""
    return _cc_fixpoint(dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b"))


def _cc_incremental_merge(stored: DataFrame, new_pairs: DataFrame) -> DataFrame:
    """Fold a batch of undirected edges (doc_a, doc_b) into stored CC
    labels (node, label): project each edge onto its endpoints' base
    labels (stored label, or the node itself when unlabeled), run the
    min-label fixpoint on that QUOTIENT graph — bounded by the new-edge
    count, never the corpus — and broadcast the resolution back over the
    stored labels. Returns (node, label) identical to a from-scratch
    fixpoint over old+new edges (pinned by randomized-graph equivalence
    in tests and the shared driver oracle)."""
    la = stored.select(F.col("node").alias("doc_a"), F.col("label").alias("la"))
    lb = stored.select(F.col("node").alias("doc_b"), F.col("label").alias("lb"))
    base_edges = (
        new_pairs.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce("la", F.col("doc_a")).alias("doc_a"),
            F.coalesce("lb", F.col("doc_b")).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    resolution = _cc_fixpoint(base_edges).select(
        F.col("node").alias("label"), F.col("label").alias("merged")
    )
    # every clustered node: stored-labeled, plus new-edge endpoints that
    # had no stored label (self-labeled until the resolution remaps them)
    new_nodes = (
        new_pairs.select(F.col("doc_a").alias("node"))
        .union(new_pairs.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    all_nodes = stored.unionByName(
        new_nodes.join(stored, "node", "left_anti").select(
            "node", F.col("node").alias("label")
        )
    )
    return all_nodes.join(F.broadcast(resolution), "label", "left").select(
        "node", F.coalesce("merged", F.col("label")).alias("label")
    )


@register("dedup_connected_components", oracle=_cc_sql(), tags=("dedup", "graph", "iterative"))
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: transitive closure of the MinHash-LSH pair
    relation via iterative min-label propagation. Each round is one
    edges⋈labels hash join + a min groupBy (both key-local shuffles on
    doc_id — skew-free), checkpointed so lineage stays flat; convergence is
    an exact fixpoint, so the result is deterministic regardless of round
    count. Singleton documents (no near-dup edge) are not components and
    are excluded by construction. The member list is emitted as a sorted
    comma-joined string: the correctness gate canonicalizes through pandas,
    which cannot hash list cells, so array outputs are serialized on both
    sides (same discipline as session_cart_contents, driver-green r4)."""
    labels = _cc_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("label").alias("component_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("node")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("members"),
        )
    )


@register("dedup_cc_incremental", oracle=_cc_sql(),
          tags=("dedup", "graph", "iterative", "incremental"))
def dedup_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected components: fold an ingest batch's near-dup
    edges into stored cluster labels WITHOUT re-clustering the corpus —
    the maintenance operator every incremental dedup deployment needs
    once it keeps cluster state (the stored band index answers "which
    doc does this match"; this answers "which CLUSTER is it, after the
    batch's edges may have bridged old clusters"). Sharing
    dedup_connected_components' from-scratch oracle makes the merge
    algebra the theorem: stored labels + new edges must reproduce the
    full re-clustering exactly, including min-member component ids.

    Merge algebra: project each new edge onto its endpoints' BASE labels
    (stored component id, or the node itself when previously unlabeled)
    — equal-label edges vanish; run the min-label fixpoint on that
    QUOTIENT graph, whose size is bounded by the new-edge count, never
    the corpus; broadcast the ≤2·|new edges| resolution rows back over
    the stored labels. Per-ingest incremental work is therefore O(|new
    edges|) plus one broadcast relabel projection — the from-scratch
    labeler revisits every edge of the corpus every ingest, and its
    round count is bound by the full graph's diameter instead of the
    quotient's (typically 1-2). The old-pair fixpoint computed here
    plays the stored-label table a deployment reads from its catalog
    (the same amortized-build convention as the stored-index queries).

    The split is the shared ingest convention: sources src16+ are the
    batch; old-old pairs build the stored labels, pairs touching ≥1 new
    doc are the batch's edges — their union is exactly the full pair
    set, which is why the from-scratch oracle applies verbatim."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    flags = table(spark, sf_dir, "documents").select(
        "doc_id", is_new_source().alias("is_new")
    )
    p = (
        pairs.join(
            flags.select(F.col("doc_id").alias("doc_a"), F.col("is_new").alias("a_new")),
            "doc_a",
        )
        .join(
            flags.select(F.col("doc_id").alias("doc_b"), F.col("is_new").alias("b_new")),
            "doc_b",
        )
        .localCheckpoint(eager=True)  # feeds the old split AND the new split
    )
    old_pairs = p.filter(~F.col("a_new") & ~F.col("b_new")).select("doc_a", "doc_b")
    new_pairs = (
        p.filter(F.col("a_new") | F.col("b_new"))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)  # feeds base-label edges AND the node set
    )

    stored = _cc_fixpoint(old_pairs)  # the catalog state a deployment reads
    final = _cc_incremental_merge(stored, new_pairs)
    return (
        final.groupBy(F.col("label").alias("component_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("node")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("members"),
        )
    )


def _cc_store_location(sf_dir: str) -> tuple[str, str]:
    from e_commerce_click_stream_spark.operators.storelock import store_location

    return store_location("ccl", sf_dir)


def _cc_erase_relabel(
    stored: DataFrame, surviving_pairs: DataFrame, erased: DataFrame
) -> DataFrame:
    """Erase nodes from persisted cluster labels — the CC store's
    rightful erasure is NOT a deletion vector alone: removing a bridge
    node SPLITS its component, and removing the min-id member changes
    the component id, so hidden-row reads would emit labels no
    surviving-corpus re-cluster produces. The honest contract: drop the
    erased nodes, RE-CLUSTER only the AFFECTED components (those that
    contained an erased node) from their surviving edges, and keep every
    untouched component verbatim. Returns the new (node, label) state ≡
    a from-scratch fixpoint over the surviving pair set (pinned by a
    constructed component-split test and the driver oracle).

    Scale shape: ``affected`` is the erased nodes' label set (broadcast
    — erasure batches are small); untouched labels pass through a
    broadcast anti-join; the re-clustered edge set is bounded by the
    affected components' sizes, never the corpus."""
    affected = (
        stored.join(F.broadcast(erased), "node", "left_semi")
        .select("label")
        .distinct()
    )
    keep = stored.join(F.broadcast(affected), "label", "left_anti")
    # pairs inside affected components (every pair endpoint is clustered,
    # so doc_a's stored label decides membership), both endpoints alive
    la = stored.select(F.col("node").alias("doc_a"), "label")
    aff_pairs = (
        surviving_pairs.join(la, "doc_a")
        .join(F.broadcast(affected), "label", "left_semi")
        .select("doc_a", "doc_b")
    )
    # the USING-column anti-join moved `label` first; restate the
    # (node, label) order every label relation carries
    return keep.select("node", "label").unionByName(_cc_fixpoint(aff_pairs))


def _cc_labels_table(prefix: str) -> str:
    return f"{prefix}_labels"


def _write_cc_labels(labels: DataFrame, labels_t: str, location: str) -> None:
    """Persist (node, label) bucketed+sorted on node — id-keyed
    maintenance joins (erasure semi-joins, membership probes) stay
    exchange-free on the stored side, the same layout discipline as the
    shingle table. The relation is checkpointed by every caller before
    this overwrite (it may read from the very table it replaces)."""
    import os as _os

    from e_commerce_click_stream_spark.operators.dedup_index import (
        NUM_STORE_BUCKETS,
    )

    (
        labels.write.mode("overwrite")
        .format("parquet")
        .bucketBy(NUM_STORE_BUCKETS, "node")
        .sortBy("node")
        .option("path", _os.path.join(location, "labels"))
        .saveAsTable(labels_t)
    )


@register("dedup_cc_stored", oracle=_cc_sql(),
          tags=("dedup", "graph", "iterative", "incremental", "stored-index"))
def dedup_cc_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED cluster labels (VERDICT r12 #3): the incremental-CC
    state as a bucketed catalog table with the build/merge/probe
    discipline of the other three stores — the real deployment shape,
    where cluster state OUTLIVES the ingest job instead of being
    recomputed in-query per run (``dedup_cc_incremental`` proves the
    merge algebra; this proves the state round-trips through storage).
    Cold start: the old-old pair fixpoint is written to
    ``<prefix>_labels`` (node, label), bucketed+sorted on node. Every
    run then MERGES the ingest batch's edges into the labels READ FROM
    THE STORE (the quotient-graph fold of ``_cc_incremental_merge``),
    writes the merged state back (checkpointed first — it reads from
    the table it replaces), and emits the component report FROM the
    stored table — so the driver's green row proves
    disk → merge → disk → report ≡ one from-scratch re-cluster.
    Warm runs re-merge the same batch against the ALREADY-merged store:
    every edge projects onto equal labels, the quotient graph is empty,
    and the merge is a proven no-op (idempotent ingest retry; pinned in
    tests along with files-only cross-session equality).

    Scale shape: per ingest the incremental work is O(|new edges|)
    quotient fixpoint + one broadcast relabel + one |labels| bucketed
    rewrite; the corpus' edges are never revisited. The label table is
    the smallest store in the repo (one row per clustered doc), so the
    per-ingest rewrite is the cheap path a deployment actually takes —
    at trillion-doc scale the overwrite becomes a partitioned MERGE,
    same algebra. Own store kind ("ccl")."""
    from e_commerce_click_stream_spark.operators.storelock import (
        acquire_build_lock,
        downgrade_to_shared,
    )

    index_dir, prefix = _cc_store_location(sf_dir)
    labels_t = _cc_labels_table(prefix)

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    flags = table(spark, sf_dir, "documents").select(
        "doc_id", is_new_source().alias("is_new")
    )
    p = (
        pairs.join(
            flags.select(F.col("doc_id").alias("doc_a"), F.col("is_new").alias("a_new")),
            "doc_a",
        )
        .join(
            flags.select(F.col("doc_id").alias("doc_b"), F.col("is_new").alias("b_new")),
            "doc_b",
        )
        .localCheckpoint(eager=True)
    )
    new_pairs = (
        p.filter(F.col("a_new") | F.col("b_new"))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )

    acquire_build_lock(index_dir)
    if not spark.catalog.tableExists(labels_t):
        # cold start: persist the pre-batch cluster state
        old_pairs = p.filter(~F.col("a_new") & ~F.col("b_new")).select(
            "doc_a", "doc_b"
        )
        _write_cc_labels(
            _cc_fixpoint(old_pairs).localCheckpoint(eager=True),
            labels_t, index_dir,
        )
    merged = _cc_incremental_merge(
        spark.table(labels_t), new_pairs
    ).localCheckpoint(eager=True)
    _write_cc_labels(merged, labels_t, index_dir)
    downgrade_to_shared(index_dir)

    return _cc_store_report(spark, labels_t)


def _cc_store_report(spark: SparkSession, labels_t: str) -> DataFrame:
    """Component report read FROM a persisted label table."""
    return (
        spark.table(labels_t)
        .groupBy(F.col("label").alias("component_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("node")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("members"),
        )
    )


# Erasure split for the CC store: every 7th doc (mod residue 3) is the
# GDPR batch; the oracle re-clusters from scratch over pairs whose BOTH
# endpoints survive.
_CC_ERASE_FILTER = " AND doc_a % 7 != 3 AND doc_b % 7 != 3"


@register("dedup_cc_stored_erase", oracle=_cc_sql(_CC_ERASE_FILTER),
          tags=("dedup", "graph", "iterative", "stored-index", "erasure"))
def dedup_cc_stored_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR erasure against the persisted cluster-label store — the CC
    family's lifecycle twin of the three index stores' erase queries,
    but with the contract deletion vectors alone CANNOT honor: erasing a
    bridge node must SPLIT its component, and erasing a min-id member
    must renumber it, so the store re-clusters the AFFECTED components
    from their surviving edges (``_cc_erase_relabel``) and keeps every
    untouched component verbatim. The oracle re-clusters the whole
    corpus from scratch with the erased docs' pairs excluded, so the
    green row proves erase ≡ never-clustered down to every component id
    and member list. Tombstones still commit FIRST (the crash-ordering
    discipline: a death before the rewrite leaves the erased ids hidden
    from any merge-on-read reader) and truncate after the rewrite.

    Scale shape: tombstone append + two broadcast anti-joins + a
    fixpoint bounded by the affected components' edge counts + one
    |labels| bucketed rewrite; the corpus' pair relation is filtered,
    never re-derived per component. Own store kind ("ccle")."""
    from e_commerce_click_stream_spark.operators.storelock import (
        acquire_build_lock,
        downgrade_to_shared,
        store_location,
    )
    from e_commerce_click_stream_spark.operators.tombstones import (
        append_tombstones,
        reset_tombstones,
        tombstones_table_name,
        truncate_tombstones,
    )

    index_dir, prefix = store_location("ccle", sf_dir)
    labels_t = _cc_labels_table(prefix)

    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)  # feeds the cold build AND survivors
    )
    acquire_build_lock(index_dir)
    if not spark.catalog.tableExists(labels_t):
        _write_cc_labels(
            _cc_fixpoint(pairs).localCheckpoint(eager=True), labels_t, index_dir
        )
        reset_tombstones(spark, prefix, index_dir)
    stored = spark.table(labels_t)
    erased = stored.filter(F.col("node") % 7 == 3).select("node")
    append_tombstones(spark, erased, prefix, index_dir, "node")
    tomb = spark.table(tombstones_table_name(prefix))
    surviving = pairs.join(
        F.broadcast(tomb.withColumnRenamed("node", "doc_a")), "doc_a", "left_anti"
    ).join(
        F.broadcast(tomb.withColumnRenamed("node", "doc_b")), "doc_b", "left_anti"
    )
    new_state = _cc_erase_relabel(stored, surviving, tomb).localCheckpoint(
        eager=True
    )
    _write_cc_labels(new_state, labels_t, index_dir)
    truncate_tombstones(spark, prefix, index_dir)
    downgrade_to_shared(index_dir)
    return _cc_store_report(spark, labels_t)


@register("dedup_cc_stored_compact", oracle=_cc_sql(),
          tags=("dedup", "graph", "stored-index", "compaction"))
def dedup_cc_stored_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction for the CC label store, completing the family's
    lifecycle (build/merge/probe/erase/COMPACT): the per-ingest merged
    rewrite leaves up to one file per (task, bucket) —
    ``compact_bucketed_table`` collapses the label table to one file per
    bucket under the same Murmur3-aligned repartition as the other three
    stores. Shares the from-scratch oracle with ``dedup_cc_stored``
    (whose build+merge flow runs first here, against the shared "ccl"
    store — compaction is content-preserving by contract), so the green
    row proves the rewrite is a report-level no-op; file collapse is
    pinned in tests."""
    from e_commerce_click_stream_spark.operators.compaction import (
        compact_bucketed_table,
    )
    from e_commerce_click_stream_spark.operators.dedup_index import (
        NUM_STORE_BUCKETS,
    )
    from e_commerce_click_stream_spark.operators.storelock import (
        acquire_build_lock,
        downgrade_to_shared,
    )
    import os as _os

    # ensure the store exists and carries this run's merged state
    dedup_cc_stored(spark, sf_dir)
    index_dir, prefix = _cc_store_location(sf_dir)
    labels_t = _cc_labels_table(prefix)
    acquire_build_lock(index_dir)
    compact_bucketed_table(
        spark, labels_t, "node", NUM_STORE_BUCKETS,
        location=_os.path.join(index_dir, "labels"), sort_col="node",
    )
    downgrade_to_shared(index_dir)
    return _cc_store_report(spark, labels_t)


# ---------------------------------------------------------------------------
# approximation-quality evaluation: MinHash-LSH vs the exact jaccard pairs
# — the engine measures its own approximate operator against ground truth

_LSH_EVAL_SQL = f"""
WITH lsh AS (SELECT doc_a, doc_b FROM ({_minhash_sql()}) x),
ex AS (SELECT doc_a, doc_b FROM ({_NGRAM_SQL}) y),
j AS (
    SELECT coalesce(ex.doc_a, lsh.doc_a) AS doc_a,
           (ex.doc_a IS NOT NULL) AS in_exact,
           (lsh.doc_a IS NOT NULL) AS in_lsh
    FROM ex FULL OUTER JOIN lsh
      ON ex.doc_a = lsh.doc_a AND ex.doc_b = lsh.doc_b
)
SELECT count(*) FILTER (WHERE in_exact AND in_lsh) AS true_pos,
       count(*) FILTER (WHERE in_lsh AND NOT in_exact) AS false_pos,
       count(*) FILTER (WHERE in_exact AND NOT in_lsh) AS false_neg,
       round(count(*) FILTER (WHERE in_exact AND in_lsh)
             * 1.0 / greatest(count(*) FILTER (WHERE in_lsh), 1), 6)
           AS lsh_precision,
       round(count(*) FILTER (WHERE in_exact AND in_lsh)
             * 1.0 / greatest(count(*) FILTER (WHERE in_exact), 1), 6)
           AS lsh_recall
FROM j
"""


@register("dedup_lsh_vs_exact_eval", oracle=_LSH_EVAL_SQL, tags=("dedup", "evaluation"))
def dedup_lsh_vs_exact_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH near-dup pairs against the
    exact PPJoin jaccard pairs at the same threshold — the acceptance
    report a pipeline produces before trusting the approximate path at
    scale (where exact runs only on a sample). Both pair sets come from
    the registered operators themselves; a full outer join on the pair
    key classifies TP / FP / FN in one pass."""
    lsh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").withColumn(
        "in_lsh", F.lit(True)
    )
    ex = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").withColumn(
        "in_exact", F.lit(True)
    )
    j = ex.join(lsh, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_exact", F.lit(False)).alias("in_exact"),
        F.coalesce("in_lsh", F.lit(False)).alias("in_lsh"),
    )
    tp = F.count(F.when(F.col("in_exact") & F.col("in_lsh"), 1))
    fp = F.count(F.when(F.col("in_lsh") & ~F.col("in_exact"), 1))
    fn = F.count(F.when(F.col("in_exact") & ~F.col("in_lsh"), 1))
    n_lsh = F.count(F.when(F.col("in_lsh"), 1))
    n_ex = F.count(F.when(F.col("in_exact"), 1))
    return j.agg(
        tp.alias("true_pos"),
        fp.alias("false_pos"),
        fn.alias("false_neg"),
        F.round(tp * 1.0 / F.greatest(n_lsh, F.lit(1)), 6).alias("lsh_precision"),
        F.round(tp * 1.0 / F.greatest(n_ex, F.lit(1)), 6).alias("lsh_recall"),
    )


# ---------------------------------------------------------------------------
# cross-source contamination: near-dup pairs that SPAN corpus sources —
# the benchmark-leakage / train-test-contamination check (a near-dup
# inside one source is redundancy; across sources it is leakage)

_CONTAMINATION_SQL = f"""
WITH pairs AS ({_minhash_sql()})
SELECT da.source AS source_a,
       db.source AS source_b,
       count(*) AS contaminated_pairs,
       -- order-independent mean: each jaccard is already a round(.,4)
       -- value, so its 1e4-scaled form is integral; summing exact
       -- BIGINTs then dividing ONCE gives a bit-identical double in any
       -- summation order (a double avg() flips the 4th decimal between
       -- engines once groups grow — seen at sf0.1)
       round(sum(CAST(floor(p.jaccard * 10000 + 0.5) AS BIGINT))
             / (count(*) * 10000.0), 4) AS avg_jaccard,
       max(p.jaccard) AS max_jaccard
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
WHERE da.source <> db.source
GROUP BY da.source, db.source
"""


@register("dedup_cross_source_contamination", oracle=_CONTAMINATION_SQL,
          tags=("dedup", "contamination", "leakage"))
def dedup_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage report: MinHash-LSH near-dup pairs whose two
    documents belong to DIFFERENT sources, aggregated per source pair
    with similarity stats — the contamination check run before a corpus
    split is trusted (within-source near-dups are mere redundancy;
    cross-source ones leak). The doc→source attachment is two broadcast
    joins of the (tiny) pair set against the documents dimension."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    da = docs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "source_a")
    db = docs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "source_b")
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("contaminated_pairs"),
            # integer-sum mean — see the oracle comment: avg() over
            # doubles is summation-order-dependent across engines
            F.round(
                F.sum(F.floor(F.col("jaccard") * 10000 + 0.5).cast("bigint"))
                / (F.count("*") * 10000.0),
                4,
            ).alias("avg_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# split leakage: assign a deterministic train/eval split, then audit the
# near-dup pair relation for pairs that CROSS it — the reason dedup runs
# before a split is trusted (an eval doc with a train near-twin is a
# leaked answer, invisible to source-level checks when both docs share a
# source)

_SPLIT_LEAKAGE_SQL = f"""
WITH pairs AS ({_minhash_sql()}),
lab AS (
    SELECT CASE WHEN ascii(substring(md5(CAST(doc_a AS VARCHAR)), 1, 1)) % 10 < 2
                THEN 'eval' ELSE 'train' END AS sa,
           CASE WHEN ascii(substring(md5(CAST(doc_b AS VARCHAR)), 1, 1)) % 10 < 2
                THEN 'eval' ELSE 'train' END AS sb,
           doc_a, doc_b
    FROM pairs
),
ex AS (
    SELECT concat_ws('-', least(sa, sb), greatest(sa, sb)) AS pair_class,
           unnest([doc_a, doc_b]) AS doc_id
    FROM lab
)
SELECT pair_class,
       CAST(count(*) / 2 AS BIGINT) AS n_pairs,
       count(DISTINCT doc_id) AS n_docs
FROM ex
GROUP BY pair_class
"""


@register("train_eval_split_leakage", oracle=_SPLIT_LEAKAGE_SQL,
          tags=("dedup", "leakage", "sampling"))
def train_eval_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup leakage ACROSS a holdout split: documents get the same
    deterministic md5-bucket split a 100 TB pipeline would use (the
    deterministic_sample discipline — reproducible across engines, runs,
    and partitionings, unlike rand()), and the MinHash-LSH pair relation
    is classified by the splits it touches. 'eval-train' rows are leaked
    eval answers; n_docs counts the distinct documents implicated. The
    labeling is a per-row hash on the (bounded, banded-LSH) pair set —
    no joins beyond the reused pair pipeline, one grid aggregation."""
    split_of = lambda c: F.when(  # noqa: E731
        F.ascii(F.substring(F.md5(c.cast("string")), 1, 1)) % 10 < 2, "eval"
    ).otherwise("train")
    lab = dedup_minhash_lsh(spark, sf_dir).select(
        split_of(F.col("doc_a")).alias("sa"),
        split_of(F.col("doc_b")).alias("sb"),
        "doc_a",
        "doc_b",
    )
    ex = lab.select(
        F.concat_ws("-", F.least("sa", "sb"), F.greatest("sa", "sb")).alias("pair_class"),
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
    )
    return ex.groupBy("pair_class").agg(
        (F.count("*") / 2).cast("long").alias("n_pairs"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# containment (doc-in-doc) near-dup: the asymmetric complement of jaccard

CONTAINMENT_THRESHOLD = 0.9
# Rarer cap than the jaccard index: a contained document shares ALL its
# shingles with its container, including its rare ones, so indexing only
# rare shingles (df <= 20) keeps candidate fan-out tiny without losing
# real containments (only a doc composed ENTIRELY of corpus-common
# shingles could hide — same documented caveat as the jaccard df cap).
CONTAINMENT_DF_CAP = 20

_CONTAINMENT_SQL = f"""
WITH {_SHINGLED_CTE},
exploded AS (
    SELECT doc_id, len(s) AS n, unnest(s) AS sh FROM shingled WHERE len(s) > 0
),
kept AS (
    SELECT sh FROM exploded GROUP BY sh HAVING count(*) <= {CONTAINMENT_DF_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM exploded a JOIN exploded b
      ON a.sh = b.sh AND a.doc_id < b.doc_id
    WHERE a.sh IN (SELECT sh FROM kept)
),
scored AS (
    SELECT c.doc_a, c.doc_b,
           len(sa.s) AS size_a, len(sb.s) AS size_b,
           round(len(list_intersect(sa.s, sb.s))::DOUBLE
                 / least(len(sa.s), len(sb.s)), 4) AS containment
    FROM cand c
    JOIN shingled sa ON sa.doc_id = c.doc_a
    JOIN shingled sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, size_a, size_b, containment
FROM scored WHERE containment >= {CONTAINMENT_THRESHOLD}
"""


@register("dedup_containment", oracle=_CONTAINMENT_SQL, tags=("dedup", "containment"))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-in-doc duplication: |A∩B| / min(|A|,|B|) >= 0.9 over shingle
    sets — catches a short document embedded in a long one, which jaccard
    NEVER flags (jaccard <= min/max, so a 10x size mismatch caps it at
    0.1 and the PPJoin size filter drops the pair by design). The standard
    quote/boilerplate/subset-dup detector a pretraining pipeline runs
    alongside jaccard dedup.

    Candidates come from a rare-shingle inverted index (df <=
    CONTAINMENT_DF_CAP): at containment = 1.0 the smaller doc shares EVERY
    shingle with its container, so any rare shingle it has co-occurs and
    the generator is lossless for full containments (with >= 1 rare
    shingle). At the 0.9 output threshold it is a high-recall heuristic,
    not lossless: a pair with 0.9 <= containment < 1 is missed iff the
    smaller doc's rare shingles all fall in its unshared <= 10% (or it has
    none) — the same documented-recall-cap style as SIMHASH_BUCKET_CAP.
    The self-join stays bounded at cap²/shingle. Verification is the exact
    intersection over full shingle arrays, reusing the materialized
    shingled corpus."""
    sh = _docs_shingled(spark, sf_dir)
    ex = sh.select("doc_id", F.explode("s").alias("sh"))
    kept = (
        ex.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= CONTAINMENT_DF_CAP)
        .select("sh")
    )
    exk = ex.join(kept, "sh")
    cand = (
        exk.alias("a")
        .join(
            exk.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("sa").cast("long").alias("size_a"),
            F.size("sb").cast("long").alias("size_b"),
            F.round(
                common.cast("double") / F.least(F.size("sa"), F.size("sb")), 4
            ).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# banded SimHash: hamming<=k pairs (dedup_simhash_groups only catches k=0)

HAMMING_MAX = 3
_SIMHASH_BANDS = 4  # pigeonhole: hamming<=3 over 4 bands => >=1 band equal
_SIMHASH_BAND_BITS = _SIMHASH_BITS // _SIMHASH_BANDS
# A 32-bit simhash is weakly discriminating on short documents: hot band
# values (all-zeros-ish, from common-token-dominated docs) collect
# thousands of members and occupancy² explodes — measured 362k candidate
# pairs / 52 s at sf0.1 uncapped. Dropping buckets over the cap bounds
# fan-out at cap²/bucket; a pair lost to one hot band usually shares a
# rarer band, and truly-informative near-dups live in cool buckets — the
# same documented recall tradeoff as the stop-shingle NGRAM_DF_CAP.
SIMHASH_BUCKET_CAP = 100

_SIMHASH_HAMMING_SQL = f"""
WITH {_SIMHASH_CTE},
bands AS (
    SELECT doc_id, b.band_id,
           substr(simhash, b.band_id * {_SIMHASH_BAND_BITS} + 1,
                  {_SIMHASH_BAND_BITS}) AS band_sig
    FROM sigs, (SELECT unnest(range({_SIMHASH_BANDS})) AS band_id) b
),
kept AS (
    SELECT band_id, band_sig FROM bands
    GROUP BY band_id, band_sig HAVING count(*) <= {SIMHASH_BUCKET_CAP}
),
kb AS (
    SELECT b.* FROM bands b
    JOIN kept k ON k.band_id = b.band_id AND k.band_sig = b.band_sig
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM kb a
    JOIN kb b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
            AND a.doc_id < b.doc_id
),
scored AS (
    SELECT c.doc_a, c.doc_b,
           cast(list_sum(list_transform(range(1, {_SIMHASH_BITS} + 1), i ->
               CASE WHEN substr(sa.simhash, i::INT, 1) != substr(sb.simhash, i::INT, 1)
                    THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, hamming FROM scored WHERE hamming <= {HAMMING_MAX}
"""


@register("dedup_simhash_hamming", oracle=_SIMHASH_HAMMING_SQL, tags=("dedup", "simhash", "lsh"))
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3 — the banded
    extension of dedup_simhash_groups (which only catches distance 0).
    Pigeonhole guarantee: any pair differing in <=3 of 32 bits must agree
    EXACTLY on at least one of 4 8-bit bands, so the candidate stage is a
    band equi-join (2^8-bucket keys per band, the same OR-of-bands shape
    as embedding_neardup_lsh / dedup_minhash_lsh) — lossless for the
    distance bound up to the hot-bucket cap (see SIMHASH_BUCKET_CAP),
    never an all-pairs scan. Verification computes the exact Hamming
    distance on the two 32-bit signatures — a 32-char compare, far
    cheaper than the shingle-set intersections the jaccard verifiers
    pay."""
    sigs = _simhash_sigs(spark, sf_dir).localCheckpoint(eager=True)
    bands = sigs.select(
        "doc_id",
        F.explode(signature_bands("simhash", _SIMHASH_BANDS, _SIMHASH_BAND_BITS)).alias("b"),
    ).select("doc_id", "b.band_id", "b.band_sig")
    kept = (
        bands.groupBy("band_id", "band_sig")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") <= SIMHASH_BUCKET_CAP)
        .select("band_id", "band_sig")
    )
    bands = bands.join(kept, ["band_id", "band_sig"])
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    hamming = F.aggregate(
        F.expr(
            f"transform(sequence(1, {_SIMHASH_BITS}), i -> "
            f"CASE WHEN substring(ha, i, 1) != substring(hb, i, 1) THEN 1 ELSE 0 END)"
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


# ---------------------------------------------------------------------------
# dedup savings report: what the cluster resolution is worth in bytes

def _savings_sql() -> str:
    return f"""
WITH comp AS (
    SELECT component_id, members FROM ({_cc_sql()}) x
),
m AS (
    SELECT component_id, unnest(string_split(members, ',')) AS doc_s FROM comp
),
j AS (
    SELECT m.component_id, d.doc_id, d.n_chars
    FROM m JOIN documents d ON d.doc_id = CAST(m.doc_s AS BIGINT)
)
SELECT component_id,
       count(*) AS n_docs,
       sum(n_chars)::BIGINT AS chars_total,
       sum(CASE WHEN doc_id = component_id THEN 0 ELSE n_chars END)::BIGINT AS chars_saved
FROM j
GROUP BY component_id
"""


@register("dedup_savings_report", oracle=_savings_sql(), tags=("dedup", "reporting"))
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number a dedup pipeline is judged by: per near-dup cluster, how
    many documents and characters are removed when only the canonical
    (min-doc_id == component_id) member is kept. Composes
    dedup_connected_components with a documents join on doc_id — the
    report stage every curation run emits before committing a delete."""
    comp = dedup_connected_components(spark, sf_dir).select(
        "component_id", F.explode(F.split("members", ",")).alias("doc_s")
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = comp.join(docs, comp.doc_s.cast("long") == docs.doc_id)
    return j.groupBy("component_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
        F.sum(
            F.when(F.col("doc_id") == F.col("component_id"), 0).otherwise(F.col("n_chars"))
        ).alias("chars_saved"),
    )


# ---------------------------------------------------------------------------
# incremental near-dedup: a new batch of documents checked against the
# already-indexed corpus (plus earlier docs in the same batch) — the
# production shape: at 100 TB you never re-dedup the whole corpus per
# ingest, you probe the stored band index with just the new partition

NEW_SRC_MIN = 16  # sources srcNN with NN >= this are the "incoming batch"


def is_new_source():
    """The ingest-split predicate (Column): sources srcNN with
    NN >= NEW_SRC_MIN are the incoming batch; malformed/NULL tags are
    old corpus. ONE definition — the dedup stores, their one-pass twin,
    and the BM25 append path must all split identically, and the NULL
    coalesce is load-bearing (try_cast returns NULL on junk)."""
    return F.coalesce(
        F.expr("substring(source, 4)").try_cast("int") >= NEW_SRC_MIN, F.lit(False)
    )


def sql_is_new(col: str = "source") -> str:
    """``is_new_source``'s DuckDB twin, as a composable SQL fragment —
    one definition so oracle-side ingest splits can't drift from the
    Spark predicate (same TRY_CAST + coalesce(…, false) NULL handling)."""
    return f"coalesce(TRY_CAST(substr({col}, 4) AS INT) >= {NEW_SRC_MIN}, false)"


def _incremental_minhash_sql(index_excl: str = "") -> str:
    """``index_excl`` appends an extra predicate to the candidate join's
    ON clause (the erasure oracle excludes tombstoned INDEX docs from the
    match side); default "" keeps the shared oracle byte-identical."""
    mh_cols = ",\n           ".join(
        f"min(md5('{s}:' || sh)) AS mh{s}" for s in range(NUM_HASHES)
    )
    band_rows = []
    for b in range(NUM_BANDS):
        cols = " || '|' || ".join(
            f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
        )
        # band-seeded bucket — single-column LSH key, see _minhash_sql
        band_rows.append(
            f"SELECT doc_id, {b} AS band, md5('{b}|' || {cols}) AS bucket FROM mh"
        )
    bands = "\n    UNION ALL\n    ".join(band_rows)
    return f"""
WITH toks AS (
    SELECT doc_id,
           {sql_is_new()}
               AS is_new,
           string_split_regex(trim(text), '\\s+') AS t
    FROM documents
),
shingled AS (
    SELECT doc_id, is_new,
           CASE WHEN len(t) >= 3
                THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                    for i in range(1, len(t) - 1)])
                ELSE [] END AS s
    FROM toks
),
exploded AS (
    SELECT doc_id, unnest(s) AS sh FROM shingled WHERE len(s) > 0
),
mh AS (
    SELECT doc_id,
           {mh_cols}
    FROM exploded GROUP BY doc_id
),
buckets AS (
    {bands}
),
fb AS (
    SELECT b.doc_id, b.band, b.bucket, s.is_new
    FROM buckets b JOIN shingled s ON s.doc_id = b.doc_id
),
cand AS (
    SELECT DISTINCT p.doc_id AS probe_id, m.doc_id AS match_id, m.is_new AS match_is_new
    FROM fb p JOIN fb m
      ON p.bucket = m.bucket
     AND p.is_new
     AND (NOT m.is_new OR m.doc_id < p.doc_id){index_excl}
),
scored AS (
    SELECT c.probe_id, c.match_id, c.match_is_new,
           round(len(list_intersect(sa.s, sb.s))::DOUBLE
                 / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 4)
               AS jaccard
    FROM cand c
    JOIN shingled sa ON sa.doc_id = c.probe_id
    JOIN shingled sb ON sb.doc_id = c.match_id
),
best AS (
    SELECT probe_id, match_id, match_is_new, jaccard,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY jaccard DESC, match_is_new ASC, match_id ASC)
               AS rn
    FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
)
SELECT d.doc_id,
       CASE WHEN b.match_id IS NULL THEN 'novel'
            WHEN b.match_is_new THEN 'dup_in_batch'
            ELSE 'dup_of_index' END AS verdict,
       b.match_id AS match_doc_id,
       b.jaccard AS jaccard
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.probe_id = d.doc_id
WHERE {sql_is_new('d.source')}
"""


@register("dedup_incremental_minhash", oracle=_incremental_minhash_sql(),
          tags=("dedup", "minhash", "lsh", "incremental"))
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup: sources src16+ play the incoming
    ingest batch, the rest the already-indexed corpus. Every new document
    gets exactly one verdict row: ``dup_of_index`` (matches a stored
    doc), ``dup_in_batch`` (matches an EARLIER doc of the same batch —
    later doc loses, mirroring the min-id-canonical convention), or
    ``novel``. The best match is chosen by (jaccard desc, index-before-
    batch, min id) — a total order, so both engines pick the same row.

    Scale shape: in production the index side is a PRE-STORED band-bucket
    table (appended per ingest), so per batch only the new docs are
    shingled/signed — the probe is an equi-join of |batch| band rows
    against the store, never a corpus self-join; candidates-only
    verification as in dedup_minhash_lsh. Here both sides are built from
    the fixture in one pass (the store doesn't exist yet), carrying an
    ``is_new`` flag through one shared signature stage instead of
    signing twice."""
    docs = spread(table(spark, sf_dir, "documents")).select(
        "doc_id",
        is_new_source().alias("is_new"),
        tokens().alias("toks"),
    )
    sh = docs.select(
        "doc_id", "is_new", shingles("toks", 3).alias("s")
    ).localCheckpoint(eager=True, storageLevel=_shingle_ckpt_level(spark, sf_dir))
    nonempty = sh.filter(F.size("s") > 0)
    ex = nonempty.select("doc_id", "is_new", F.explode("s").alias("sh_"))
    sig = minhash_signature(ex, NUM_HASHES, carry=("is_new",))
    buckets = band_buckets(
        sig, NUM_BANDS, ROWS_PER_BAND, carry=("is_new",)
    ).localCheckpoint(eager=True)

    p = buckets.filter("is_new").alias("p")
    m = buckets.alias("m")
    cand = (
        p.join(
            m,
            (F.col("p.bucket") == F.col("m.bucket"))
            & (~F.col("m.is_new") | (F.col("m.doc_id") < F.col("p.doc_id"))),
        )
        .selectExpr(
            "p.doc_id AS probe_id",
            "m.doc_id AS match_id",
            "m.is_new AS match_is_new",
        )
        # no .distinct(): duplicates from multi-band collisions are
        # invisible to the terminal min_by (see _probe_against,
        # operators/dedup_index.py — same trade, one fewer shuffle)
    )
    sa = sh.selectExpr("doc_id AS probe_id", "s AS sa")
    sb = sh.selectExpr("doc_id AS match_id", "s AS sb")
    scored = (
        cand.join(sa, "probe_id")
        .join(sb, "match_id")
        .selectExpr(
            "probe_id",
            "match_id",
            "match_is_new",
            "round(CAST(size(array_intersect(sa, sb)) AS DOUBLE)"
            " / (size(sa) + size(sb) - size(array_intersect(sa, sb))), 4)"
            " AS jaccard",
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    # post-agg size unknown at plan time (SMJ otherwise) — broadcast the
    # <= |batch|-row verdict relation, same as _probe_against
    best = F.broadcast(best_match_per_probe(scored))
    new_docs = table(spark, sf_dir, "documents").filter(
        is_new_source()
    ).select("doc_id")
    return new_docs.join(
        best, new_docs["doc_id"] == best["probe_id"], "left"
    ).selectExpr(
        "doc_id",
        "CASE WHEN match_id IS NULL THEN 'novel'"
        " WHEN match_is_new THEN 'dup_in_batch'"
        " ELSE 'dup_of_index' END AS verdict",
        "match_id AS match_doc_id",
        "jaccard",
    )


@register("dedup_incremental_stored", oracle=_incremental_minhash_sql(),
          tags=("dedup", "minhash", "lsh", "incremental", "stored-index"))
def dedup_incremental_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-index twin of ``dedup_incremental_minhash``: build the
    band index for the already-indexed corpus as CATALOG TABLES —
    ``bands`` partitioned by band and hash-bucketed+sorted on the probe
    join key ``bucket``, ``shingles`` bucketed on ``doc_id`` — then probe
    with ONLY the incoming batch: two jobs, the way a production ingest
    actually runs (operators/dedup_index.py). Shares the one-pass query's
    oracle: the stored path must produce bit-identical verdicts, so a
    green driver row here proves the store/probe round-trip end to end.

    Scale shape: the index is written once and re-read per batch; because
    it is bucketed on exactly the single-column join key, the stored side
    of every probe is EXCHANGE-FREE — only the |batch|-sized probe side
    shuffles (plan-pinned in tests/test_bucketing.py; the plain-parquet
    fallback layout is partition-pruned only). Per batch only |batch|
    docs are shingled and signed; the one-pass twin re-signs the whole
    corpus every run — this is the shape that amortizes at 100 TB
    (the probe-only cost is dedup_stored_probe_only)."""
    index_dir, prefix = _band_store_location(sf_dir)
    sh, batch_sh, all_batch_ids = _band_store_build(spark, sf_dir, index_dir, prefix)
    return probe_band_index_tables(
        spark, batch_sh, all_batch_ids, prefix,
        NUM_HASHES, NUM_BANDS, JACCARD_THRESHOLD,
        dedupe_candidates=_band_cand_dedupe(spark, sf_dir),
    )


def _band_cand_dedupe(spark: SparkSession, sf_dir: str) -> bool:
    """Whether band-store probes should dedupe candidate pairs before the
    verify joins (see operators/dedup_index.py::_probe_against): on in
    the scale regime the shingle-level chooser already detects — a
    corpus whose shingle checkpoint is DISK_ONLY is one whose
    duplication-driven candidate stream is worth shrinking before it
    picks up array payloads (the r15 x30 probe OOM); small fixtures
    keep the one-fewer-shuffle fast path, so bench lines are
    unchanged."""
    from pyspark.storagelevel import StorageLevel

    return _shingle_ckpt_level(spark, sf_dir) == StorageLevel.DISK_ONLY


def _band_store_location(sf_dir: str) -> tuple[str, str]:
    """Deterministic per-fixture band-store root + catalog-table prefix
    (shared definition: operators/storelock.py store_location)."""
    from e_commerce_click_stream_spark.operators.storelock import store_location

    return store_location("band", sf_dir)


def _band_store_build(spark, sf_dir, index_dir, prefix):
    """Shingle the corpus and (re)build the bucketed band-index tables
    under an exclusive build lock (fail-fast if another process holds the
    store — see operators/storelock.py), downgraded to shared for the
    probe's lazy reads. Returns (all shingled, batch shingled, batch ids).

    The shingle checkpoint takes the size-derived storage level (see
    ``_shingle_ckpt_level``): the r14 x10 probe caught a vanilla 1 GiB
    session failing dedup_stored_apply_erase's broadcast build while
    this checkpoint pinned the unified pool."""
    from e_commerce_click_stream_spark.operators.storelock import (
        acquire_build_lock,
        downgrade_to_shared,
    )

    level = _shingle_ckpt_level(spark, sf_dir)
    is_new = is_new_source()
    docs = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", is_new.alias("is_new"), tokens().alias("toks")
    )
    sh = docs.select(
        "doc_id", "is_new", shingles("toks", 3).alias("s")
    ).localCheckpoint(eager=True, storageLevel=level)

    acquire_build_lock(index_dir)
    build_band_index_tables(
        sh.filter(~F.col("is_new")).select("doc_id", "s"),
        prefix, NUM_HASHES, NUM_BANDS, location=index_dir,
    )
    downgrade_to_shared(index_dir)
    batch_sh = sh.filter("is_new").select("doc_id", "s")
    # id list from the checkpointed shingle relation (row-preserving
    # projections upstream), not a second documents scan
    all_batch_ids = sh.filter("is_new").select("doc_id")
    return sh, batch_sh, all_batch_ids


@register("dedup_stored_probe_only", oracle=_incremental_minhash_sql(),
          tags=("dedup", "minhash", "lsh", "incremental", "stored-index", "bench"))
def dedup_stored_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARM-STORE half of ``dedup_incremental_stored``: reuse the
    persisted band index if this session already built it (build only on
    a cold start), shingle+sign NOTHING but the incoming batch, and
    probe. This is the number a production user actually pays per ingest
    batch — the build is amortized across every batch — so it is timed
    on its own (perfbench's batch_pipeline). Shares the one-pass oracle:
    the warm-store path must still produce bit-identical verdicts.

    Scale shape: per batch, |batch| docs tokenized/shingled/signed ONCE
    (the signed batch is checkpointed inside _probe_against — it feeds
    three candidate branches; the corpus is NEVER re-read), one
    bucket-layout-preserving equi-join per candidate stage (no Exchange
    on the stored side), candidates-only exact verification, and the
    best-verdict relation broadcasts into the final left join. After the
    r10 pass the whole probe carries ONE shuffle exchange (the signature
    aggregation, pinned).

    Local-latency floor (r10 controlled A/B at sf0.1, interleaved reps):
    the r9 plan medians 1.38 s, this plan 1.22 s (−12%, verdicts
    bit-identical). The remainder is fixed per-query scheduling, not
    per-row work: forcing spark.sql.adaptive.enabled=false session-wide
    measures the AQE stage-materialization overhead at ~0.26 s, and
    dropping spark.sql.shuffle.partitions 32 -> 8 saves another ~0.2 s of
    task dispatch on an 85-candidate batch (medians 1.48/1.22/1.05 for
    on-32/off-32/off-8). Neither knob is scoped per-query in a shared
    session, and both would regress real-scale parallelism — so ~1.0 s
    is this harness's scheduling floor for a 12-stage probe; at
    production batch sizes the fixed cost amortizes to noise."""
    from e_commerce_click_stream_spark.operators.storelock import acquire_read_lock

    index_dir, prefix = _band_store_location(sf_dir)
    if not spark.catalog.tableExists(f"{prefix}_bands"):
        # cold start (fresh session): pay the build once, outside any
        # timed steady-state iteration
        _band_store_build(spark, sf_dir, index_dir, prefix)
    else:
        acquire_read_lock(index_dir)
    is_new = is_new_source()
    batch = table(spark, sf_dir, "documents").filter(is_new)
    batch_sh = (
        spread(batch)
        .select("doc_id", tokens().alias("toks"))
        .select("doc_id", shingles("toks", 3).alias("s"))
        .localCheckpoint(eager=True)
    )
    # id list from the checkpoint (row-preserving projections upstream),
    # not a second documents scan per probe batch
    return probe_band_index_tables(
        spark, batch_sh, batch_sh.select("doc_id"), prefix,
        NUM_HASHES, NUM_BANDS, JACCARD_THRESHOLD,
        dedupe_candidates=_band_cand_dedupe(spark, sf_dir),
    )


# Erasure oracle: incremental dedup where every THIRD index doc was
# erased (m.doc_id % 3 = 0) — the candidate join must never match a
# tombstoned index doc, while in-batch matches are untouched.
_BAND_ERASE_EXCL = "\n     AND (m.is_new OR m.doc_id % 3 != 0)"


@register("dedup_stored_erase", oracle=_incremental_minhash_sql(_BAND_ERASE_EXCL),
          tags=("dedup", "minhash", "lsh", "incremental", "stored-index", "erasure"))
def dedup_stored_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR erasure against the warm band store, driver-proven: build the
    index over the already-indexed corpus half, ERASE every third index
    doc (deletion-vector tombstones — operators/dedup_index.py), then
    probe the incoming batch merge-on-read. The oracle re-runs the
    one-pass incremental dedup with those index docs excluded from the
    candidate join, so the green row proves the logical-deletion
    contract: tombstoned docs stop matching (probes that matched them
    re-verdict to their next-best candidate or to novel), in-batch
    matches are untouched, and every verdict/jaccard is bit-identical
    to a store that never indexed the erased docs.

    Scale shape: the band store carries no global statistics, so
    erasure is ONE tombstone-table append — nothing corpus-sized moves;
    the probe pays one BroadcastHashJoin LeftAnti on each stored read
    (bands: erased docs leave the candidate space; shingles: their sets
    are never read for verification). The physical rewrite is
    ``apply_band_erasures`` (both tables, original partition+bucket
    specs), deferred off the erasure path and pinned probe-identical in
    tests. Own store kind ("bande"): this query erodes the index by
    design, which the shared warm band store must never observe."""
    from e_commerce_click_stream_spark.operators.dedup_index import (
        erase_from_band_index_tables,
        probe_band_index_tables,
    )
    from e_commerce_click_stream_spark.operators.storelock import (
        acquire_build_lock,
        downgrade_to_shared,
        store_location,
    )

    index_dir, prefix = store_location("bande", sf_dir)
    sh, batch_sh, all_batch_ids = _band_store_build(spark, sf_dir, index_dir, prefix)
    # the tombstone append is a store WRITE: re-upgrade this process's
    # shared lock for it (same discipline as the compaction rewrite), or
    # a concurrent reader could probe a half-committed deletion vector
    acquire_build_lock(index_dir)
    erase_from_band_index_tables(
        spark,
        sh.filter(~F.col("is_new") & (F.col("doc_id") % 3 == 0)).select("doc_id"),
        prefix, location=index_dir,
    )
    downgrade_to_shared(index_dir)
    return probe_band_index_tables(
        spark, batch_sh, all_batch_ids, prefix,
        NUM_HASHES, NUM_BANDS, JACCARD_THRESHOLD,
        dedupe_candidates=_band_cand_dedupe(spark, sf_dir),
    )


@register("dedup_stored_apply_erase", oracle=_incremental_minhash_sql(_BAND_ERASE_EXCL),
          tags=("dedup", "minhash", "lsh", "incremental", "stored-index", "erasure"))
def dedup_stored_apply_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band-store erase→APPLY→probe cycle under the oracle hash
    (VERDICT r12 #2): build over the indexed half, tombstone every third
    index doc, run ``apply_band_erasures`` (both stored tables rewritten
    under their original partition+bucket specs, tombstones truncated),
    then probe the incoming batch. Shares ``dedup_stored_erase``'s
    oracle, so the green row proves the physical rewrite changes no
    verdict/jaccard. The builder RAISES unless rows physically dropped
    from BOTH tables, no erased id survives in either, and the tombstone
    vector is truncated — physical state the oracle hash cannot see.

    Scale shape: ``dedup_stored_erase`` plus one broadcast-anti-join
    rewrite per stored table (bands, shingles), each repartition-aligned
    to its bucket spec. Own store kind ("bandea")."""
    from e_commerce_click_stream_spark.operators.dedup_index import (
        apply_band_erasures,
        band_table_names,
        band_tombstones_table_name,
        erase_from_band_index_tables,
        probe_band_index_tables,
    )
    from e_commerce_click_stream_spark.operators.storelock import (
        acquire_build_lock,
        downgrade_to_shared,
        store_location,
    )

    index_dir, prefix = store_location("bandea", sf_dir)
    sh, batch_sh, all_batch_ids = _band_store_build(spark, sf_dir, index_dir, prefix)
    erased = sh.filter(
        ~F.col("is_new") & (F.col("doc_id") % 3 == 0)
    ).select("doc_id")
    acquire_build_lock(index_dir)
    erase_from_band_index_tables(spark, erased, prefix, location=index_dir)
    stats = apply_band_erasures(spark, prefix, location=index_dir)
    downgrade_to_shared(index_dir)

    # only an erased doc that actually shingles (>= 3 tokens) contributes
    # band/shingle rows to drop — the physical assertion is vacuous
    # otherwise (mirrors the bm25 twin's F.size("ts") > 0 guard; a
    # regenerated fixture where every erased doc is shingle-less must
    # not spuriously fail the gate — ADVICE r13)
    any_erased_shingled = (
        sh.filter(~F.col("is_new") & (F.col("doc_id") % 3 == 0))
        .filter(F.size("s") > 0)
        .limit(1)
        .count()
        > 0
    )
    if any_erased_shingled and (
        stats["dropped_bands"] <= 0 or stats["dropped_shingles"] <= 0
    ):
        raise RuntimeError(f"apply_band_erasures dropped nothing: {stats}")
    for t in band_table_names(prefix):
        if spark.table(t).join(erased, "doc_id", "left_semi").count() != 0:
            raise RuntimeError(f"{t} still holds erased doc_ids after apply")
    if spark.table(band_tombstones_table_name(prefix)).count() != 0:
        raise RuntimeError("tombstone vector not truncated after apply")
    return probe_band_index_tables(
        spark, batch_sh, all_batch_ids, prefix,
        NUM_HASHES, NUM_BANDS, JACCARD_THRESHOLD,
        dedupe_candidates=_band_cand_dedupe(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Quality-aware canonical selection: which document each near-dup cluster
# KEEPS. Min-id keeps (the CC label) are what toy dedups do; production
# pipelines keep the best representative — here the longest document
# (whitespace tokens), ties to the lowest doc_id. The keep/drop manifest
# is the artifact a rewrite pass actually consumes.

_QUALITY_KEEP_SQL = f"""
WITH cc AS ({_cc_sql()}),
nodes AS (
    SELECT component_id, unnest(string_split(members, ','))::BIGINT AS doc_id
    FROM cc
),
q AS (
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
    FROM documents
),
j AS (
    SELECT n.component_id, n.doc_id, q.n_tokens
    FROM nodes n JOIN q USING (doc_id)
),
mx AS (
    SELECT component_id, max(n_tokens) AS max_tokens FROM j GROUP BY component_id
),
canon AS (
    SELECT j.component_id, min(j.doc_id) AS canonical_doc
    FROM j JOIN mx ON mx.component_id = j.component_id
               AND j.n_tokens = mx.max_tokens
    GROUP BY j.component_id
)
SELECT j.component_id, j.doc_id, j.n_tokens,
       j.doc_id = c.canonical_doc AS is_canonical,
       c.canonical_doc
FROM j JOIN canon c USING (component_id)
"""


@register("dedup_quality_keep", oracle=_QUALITY_KEEP_SQL,
          tags=("dedup", "graph", "canonical"))
def dedup_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop manifest for every near-dup cluster member: the cluster's
    canonical document is its LONGEST member (whitespace token count),
    ties broken toward the lowest doc_id — the quality-aware selection a
    production dedup ships instead of keep-min-id. Each clustered doc
    reports its component, token count, whether it is the canonical, and
    which doc it deduplicates INTO (the mapping a rewrite/redirect pass
    consumes). Composes the shared min-label CC fixpoint; the oracle
    re-derives membership from the CC members string so the two queries
    can never disagree about clusters.

    Scale shape: CC labels (checkpointed fixpoint, key-local rounds) +
    one token-count projection joined by doc_id, the per-component
    argmax as max-then-min-id (two key-local aggs — DuckDB's arg_max
    rejects struct ordering keys, and this shape avoids a SortAggregate
    on the Spark side too), and a component-keyed equi-join back;
    nothing corpus-sized shuffles more than once."""
    from e_commerce_click_stream_spark.operators.textops import tokens

    labels = _cc_labels(spark, sf_dir)
    q = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens()).cast("long").alias("n_tokens")
    )
    # three consumers (max-tokens agg, canonical filter-join, output) —
    # checkpoint so the documents scan + tokenize + label join run once
    j = labels.join(q, labels.node == q.doc_id).select(
        F.col("label").alias("component_id"), "doc_id", "n_tokens"
    ).localCheckpoint(eager=True)
    # max tokens per component, then min doc_id among the maxima — the
    # (n_tokens desc, doc_id asc) argmax without a struct ordering key
    # (DuckDB's arg_max can't take one)
    mx = j.groupBy("component_id").agg(F.max("n_tokens").alias("max_tokens"))
    canon = (
        j.join(mx, "component_id")
        .filter(F.col("n_tokens") == F.col("max_tokens"))
        .groupBy("component_id")
        .agg(F.min("doc_id").alias("canonical_doc"))
    )
    return j.join(canon, "component_id").select(
        "component_id",
        "doc_id",
        "n_tokens",
        (F.col("doc_id") == F.col("canonical_doc")).alias("is_canonical"),
        "canonical_doc",
    )


@register("dedup_stored_compact", oracle=_incremental_minhash_sql(),
          tags=("dedup", "minhash", "lsh", "stored-index", "compaction"))
def dedup_stored_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-store compaction — the third store family proven under the
    shared compaction helper (after bm25_stored_compact and
    ann_ivf_compact): build the bucketed band index for the
    already-indexed corpus half (the 32-task bucketed write fragments
    the shingle buckets heavily — measured up to 29 files per bucket at
    sf0.01 — and any later ingest appends fragment the bands the same
    way), REWRITE both catalog tables in place under their exact
    partition/bucket specs (operators/compaction.py — one file per
    (band, bucket) resp. per doc_id bucket after), then probe the
    incoming batch. Sharing the
    one-pass incremental oracle makes compaction's no-op-ness the
    theorem: the compacted store must produce bit-identical verdicts
    through the bucket-local candidate joins the probe plan pins.

    Scale shape: each rewrite is one repartition shuffle on its bucket
    column over the stored relation only; the probe afterward is the
    unchanged warm-probe plan (exchange-free on the stored side). At
    100 TB this is the OPTIMIZE pass a dedup catalog runs between
    ingest waves, under the store's build lock."""
    import os as _os

    from e_commerce_click_stream_spark.operators.compaction import (
        compact_bucketed_table,
    )
    from e_commerce_click_stream_spark.operators.dedup_index import (
        BANDS_SUBDIR,
        NUM_STORE_BUCKETS,
        SHINGLES_SUBDIR,
        band_table_names,
    )
    from e_commerce_click_stream_spark.operators.storelock import (
        acquire_build_lock,
        downgrade_to_shared,
    )

    index_dir, prefix = _band_store_location(sf_dir)
    sh, batch_sh, all_batch_ids = _band_store_build(spark, sf_dir, index_dir, prefix)
    bands_t, shingles_t = band_table_names(prefix)
    acquire_build_lock(index_dir)  # re-upgrade this process's shared lock
    compact_bucketed_table(
        spark, bands_t, "bucket", NUM_STORE_BUCKETS,
        location=_os.path.join(index_dir, BANDS_SUBDIR),
        sort_col="bucket", partition_col="band",
    )
    compact_bucketed_table(
        spark, shingles_t, "doc_id", NUM_STORE_BUCKETS,
        location=_os.path.join(index_dir, SHINGLES_SUBDIR),
        sort_col="doc_id",
    )
    downgrade_to_shared(index_dir)
    return probe_band_index_tables(
        spark, batch_sh, all_batch_ids, prefix,
        NUM_HASHES, NUM_BANDS, JACCARD_THRESHOLD,
        dedupe_candidates=_band_cand_dedupe(spark, sf_dir),
    )
