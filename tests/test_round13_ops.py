"""Round-13 pins: ADVICE r12 hardening of the store-erasure lifecycle
(self-healing apply, missing-vector no-op guards) ahead of the round's
driver-gated apply-erase queries."""

from __future__ import annotations

import os
import tempfile

import pytest

from e_commerce_click_stream_spark.plans.registry import all_specs

SPECS = all_specs()


def test_apply_erasures_heals_crashed_stats(spark):
    """ADVICE r12 (medium): if an erase dies after its tombstone append
    commits but before the terms/scalars overwrite, every RETRY of the
    same batch returns an empty id set (idempotent dedup), so the
    decrements are never re-attempted — the stats stay at full-corpus
    values. apply_erasures must reconcile them by recomputing
    terms/scalars from the surviving postings snapshot.

    Simulated crash: append the tombstones directly (the committed
    half), skip the decrement, retry the real erase (must no-op on the
    dedup), then apply — after which terms/scalars and the probe must
    equal a fresh survivor-only build's."""
    import e_commerce_click_stream_spark.plans.text as textplans
    from e_commerce_click_stream_spark.operators.bm25_index import (
        apply_erasures,
        build_postings_index,
        erase_from_postings_index,
        postings_table_names,
    )
    from e_commerce_click_stream_spark.operators.tombstones import (
        append_tombstones,
    )
    from tests.conftest import SF_SMOKE

    index_dir, prefix = textplans._bm25_store_location(SF_SMOKE)
    ref_prefix, ref_dir = prefix + "_healref", index_dir + "_healref"
    prefix, index_dir = prefix + "_heal", index_dir + "_heal"
    docs = textplans._bm25_docs(spark, SF_SMOKE).localCheckpoint(eager=True)
    keep = docs.filter("doc_id % 2 = 0")
    gone = docs.filter("doc_id % 2 = 1")

    build_postings_index(keep, ref_prefix, location=ref_dir)
    ref_rows = sorted(
        map(tuple, textplans._bm25_probe(spark, ref_prefix).collect())
    )
    _, rterms_t, rscal_t = postings_table_names(ref_prefix)

    build_postings_index(docs, prefix, location=index_dir)
    post_t, terms_t, scal_t = postings_table_names(prefix)
    full_scalars = spark.table(scal_t).collect()

    # the crash: tombstones commit, stats overwrite never runs
    append_tombstones(spark, gone.select("doc_id"), prefix, index_dir, "doc_id")
    assert spark.table(scal_t).collect() == full_scalars, (
        "crash simulation must leave stats at full-corpus values"
    )
    # probes already hide the docs (merge-on-read) but score against the
    # STALE full-corpus stats — the divergence the advice names
    assert (
        sorted(map(tuple, textplans._bm25_probe(spark, prefix).collect()))
        != ref_rows
    ), "stale-stats probe unexpectedly matched the survivor rebuild"

    # the retry: idempotent dedup returns an empty set, decrements still
    # never land — the gap is real, not self-fixing
    erase_from_postings_index(
        spark, gone.select("doc_id"), prefix, location=index_dir
    )
    assert spark.table(scal_t).collect() == full_scalars, (
        "retried erase must not decrement (idempotent dedup)"
    )

    # the heal: apply recomputes terms/scalars from the surviving
    # snapshot — store and probe now equal the survivor-only build
    stats = apply_erasures(spark, prefix, location=index_dir)
    assert stats["dropped"] > 0 and stats["kept"] > 0  # postings rows
    assert spark.table(scal_t).collect() == spark.table(rscal_t).collect()
    assert sorted(map(tuple, spark.table(terms_t).collect())) == sorted(
        map(tuple, spark.table(rterms_t).collect())
    )
    assert (
        sorted(map(tuple, textplans._bm25_probe(spark, prefix).collect()))
        == ref_rows
    )


def test_apply_paths_noop_without_deletion_vector(spark):
    """ADVICE r12 (low): all three apply paths must no-op — not raise
    AnalysisException — on a store that has seen no erasures this
    session (no tombstone table in the catalog)."""
    import e_commerce_click_stream_spark.plans.text as textplans
    from e_commerce_click_stream_spark.operators.bm25_index import (
        apply_erasures,
        build_postings_index,
        postings_table_names,
    )
    from tests.conftest import SF_SMOKE

    index_dir, prefix = textplans._bm25_store_location(SF_SMOKE)
    prefix, index_dir = prefix + "_noop", index_dir + "_noop"
    docs = textplans._bm25_docs(spark, SF_SMOKE).localCheckpoint(eager=True)
    build_postings_index(docs, prefix, location=index_dir)
    post_t, _, _ = postings_table_names(prefix)
    n = spark.table(post_t).count()
    assert apply_erasures(spark, prefix, location=index_dir) == {
        "dropped": 0,
        "kept": n,
    }
    # the postings table was not rewritten (same file set)
    assert spark.table(post_t).count() == n


def test_cc_stored_matches_from_scratch_idempotent_and_on_disk(spark):
    """The persisted-label contract (VERDICT r12 #3): (A) cold
    build+merge through the store equals the from-scratch re-cluster;
    (B) a warm re-run re-merges the same batch against the already-
    merged store — the quotient graph is empty and the merge is a
    proven no-op (idempotent ingest retry); (C) the merged state lives
    FULLY on disk: rebuilding the report from the raw parquet files
    (no catalog, no lineage) reproduces it — the cross-session shape
    where cluster state outlives the ingest job."""
    from pyspark.sql import functions as F

    from e_commerce_click_stream_spark.plans.dedup import _cc_store_location
    from tests.conftest import SF_SMOKE

    r1 = sorted(
        map(tuple, SPECS["dedup_cc_stored"].builder(spark, SF_SMOKE).collect())
    )
    assert r1, "smoke fixture must produce components"
    full = sorted(
        map(
            tuple,
            SPECS["dedup_connected_components"].builder(spark, SF_SMOKE).collect(),
        )
    )
    assert r1 == full, "stored round-trip != from-scratch re-cluster"

    r2 = sorted(
        map(tuple, SPECS["dedup_cc_stored"].builder(spark, SF_SMOKE).collect())
    )
    assert r2 == r1, "warm re-merge of the same batch must be a no-op"

    index_dir, _prefix = _cc_store_location(SF_SMOKE)
    disk = spark.read.parquet(os.path.join(index_dir, "labels"))
    from_disk = sorted(
        map(
            tuple,
            disk.groupBy(F.col("label").alias("component_id"))
            .agg(
                F.count("*").alias("n_docs"),
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("node")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ).alias("members"),
            )
            .collect(),
        )
    )
    assert from_disk == r1, "label state not fully materialized on disk"


@pytest.mark.slow  # randomized-reference sweep: opt out with -m "not slow"
def test_cc_erase_relabel_splits_and_renumbers(spark):
    """The property deletion vectors cannot express (the reason the CC
    store's erasure re-clusters): erasing a bridge node SPLITS its
    component, and erasing a min-id member RENUMBERS the component. Hand
    graph: edges 2-1, 1-3, 2-4, 3-5 form ONE component labeled 1; erasing
    node 1 must yield components {2,4} and {3,5} — and node 1 (the old
    label) must vanish. A randomized sweep then pins erase ≡ from-scratch
    on the surviving edge set."""
    import random

    from e_commerce_click_stream_spark.plans.dedup import (
        _cc_erase_relabel,
        _cc_fixpoint,
    )

    def run(edges, erased_ids):
        edf = spark.createDataFrame(edges, "doc_a long, doc_b long")
        stored = _cc_fixpoint(edf)
        er = spark.createDataFrame([(i,) for i in erased_ids], "node long")
        surviving = (
            edf.join(er.withColumnRenamed("node", "doc_a"), "doc_a", "left_anti")
            .join(er.withColumnRenamed("node", "doc_b"), "doc_b", "left_anti")
        )
        got = sorted(map(tuple, _cc_erase_relabel(stored, surviving, er).collect()))
        exp = sorted(map(tuple, _cc_fixpoint(surviving).collect()))
        return got, exp

    got, exp = run([(2, 1), (1, 3), (2, 4), (3, 5)], [1])
    assert got == exp
    assert got == [(2, 2), (3, 3), (4, 2), (5, 3)], f"split/renumber wrong: {got}"

    rng = random.Random(13)
    for _trial in range(4):
        n = 20
        edges = sorted({
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(rng.randint(5, 18))
        })
        erased = rng.sample(range(n), rng.randint(1, 5))
        got, exp = run(edges, erased)
        assert got == exp, f"edges={edges} erased={erased}"


def test_cc_stored_compact_collapses_files(spark):
    """Compaction of the label store is a report-level no-op (the shared
    driver oracle proves that); here: the file count per bucket actually
    collapses to one and the on-disk state is unchanged."""
    from e_commerce_click_stream_spark.operators.compaction import (
        bucket_file_counts,
    )
    from e_commerce_click_stream_spark.plans.dedup import (
        _cc_labels_table,
        _cc_store_location,
    )
    from tests.conftest import SF_SMOKE

    before = sorted(
        map(tuple, SPECS["dedup_cc_stored"].builder(spark, SF_SMOKE).collect())
    )
    out = sorted(
        map(tuple, SPECS["dedup_cc_stored_compact"].builder(spark, SF_SMOKE).collect())
    )
    assert out == before
    index_dir, prefix = _cc_store_location(SF_SMOKE)
    after = bucket_file_counts(os.path.join(index_dir, "labels"))
    assert after and all(n == 1 for n in after.values()), f"not compacted: {after}"
    # state unchanged on disk
    disk = spark.read.parquet(os.path.join(index_dir, "labels"))
    labels_t = _cc_labels_table(prefix)
    assert sorted(map(tuple, disk.collect())) == sorted(
        map(tuple, spark.table(labels_t).collect())
    )


_CUR_A = ("alpha", "bravo", "carta", "delta", "ember", "fjord",
          "gleam", "haven", "inlet", "joule", "karma", "lumen")
_CUR_B = ("click", "free", "winner", "prize", "claim", "bonus",
          "urgent", "offer", "deal", "cash")
_CUR_C = ("zephyr", "quartz", "vortex", "nimbus", "raster",
          "tundra", "umbral", "velour", "wicker", "xylem")
_CUR_L = "contact us at example dot com"


def _cur_words(vocab, seed, k):
    return " ".join(vocab[(seed + j) % len(vocab)] for j in range(k))


def _cur_inc_corpus():
    """Constructed corpus where EVERY incremental stage cuts (the real
    fixture only exercises the gate, DSIR, and tail continuation —
    unique single-line docs give dedup and NB nothing to drop). Batch
    ids are ≡ 2 (mod 7); the split-lines trick (same collapsed
    fingerprint, different lines) keeps exact-dup pairs alive through
    the line scrub so the dedup stages are the ones that cut."""
    a700 = lambda seed: _cur_words(_CUR_A, seed, 700)
    split2 = lambda t: (lambda w: " ".join(w[:350]) + "\n" + " ".join(w[350:]))(
        t.split(" ")
    )
    k1 = a700(0)
    d2 = a700(5)
    rows = [
        # base (ids not ≡ 2 mod 7)
        (0, k1, "en", "sA"),                       # keep-class
        (1, a700(1), "en", "sA"),
        (3, a700(3), "en", "sA"),
        (4, _cur_words(_CUR_C, 0, 100), "xx", "sA"),   # DSIR-low class
        (5, _cur_words(_CUR_B, 0, 12), "en", "sA"),    # gate-fail -> NB neg
        (6, _cur_words(_CUR_B, 1, 12), "en", "sA"),
        (7, _CUR_L + "\n" + _cur_words(_CUR_A, 7, 60), "en", "sA"),  # holds L
        # batch (ids ≡ 2 mod 7)
        (2, split2(k1), "en", "sA"),    # fp == base doc 0 -> store dedup
        (9, d2, "en", "sA"),            # SURVIVOR
        (16, split2(d2), "en", "sA"),   # fp == doc 9 -> in-batch dedup
        (23, _cur_words(_CUR_A, 2, 12), "en", "sA"),   # gate fail
        (30, _cur_words(_CUR_B, 2, 700), "en", "sA"),  # NB cut
        (37, _cur_words(_CUR_C, 3, 100), "en", "sA"),  # DSIR cut
        (44, _CUR_L, "en", "sA"),       # merged line-df kills at scrub
        (51, a700(9), "en", "sA"),      # SURVIVOR
    ]
    return rows


def test_curation_incremental_every_stage_cuts(spark):
    """Spark store-routed path vs the independent DuckDB from-scratch
    oracle on the constructed corpus, plus per-stage cut assertions the
    driver's fixture run can't provide: the merged line statistics kill
    a batch doc whose only line the BASE kept (df crossed the threshold
    only with the batch), dedup-vs-store and in-batch dedup each drop an
    exact duplicate the scrub cannot see, the gate/NB/DSIR each cut one
    doc, and both survivors' seq_ids continue from the nonzero stored
    base tail."""
    import duckdb

    from e_commerce_click_stream_spark.plans.text import _CUR_INC_SQL

    rows = _cur_inc_corpus()
    out = tempfile.mkdtemp(prefix="curinc_")
    spark.createDataFrame(
        [(i, t, l, s, len(t) if t else 0) for i, t, l, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )

    got = sorted(
        map(
            tuple,
            SPECS["corpus_curation_incremental"].builder(spark, out).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        # Spark writes a directory; DuckDB needs the part-file glob
        f"CREATE VIEW documents AS SELECT * FROM '{out}/documents.parquet/*.parquet'"
    )
    exp = sorted(map(tuple, con.execute(_CUR_INC_SQL).fetchall()))
    assert got == exp, f"\ngot: {got}\nexp: {exp}"

    # survivors and tail continuation: without the stored base tail both
    # seq_ids would be 0 (each survivor is only 700 tokens)
    assert [(r[0], r[3]) for r in got] == [(9, 1), (51, 1)], got

    # per-stage cuts, read off the oracle's own CTEs
    base = _CUR_INC_SQL[: _CUR_INC_SQL.rindex("SELECT c.doc_id")]
    cnt = lambda rel: con.execute(base + f"SELECT count(*) FROM {rel}").fetchone()[0]
    assert cnt("n1k") == 7, "merged line-df must kill doc 44 at the scrub"
    assert cnt("n2a") == 6, "in-batch dedup must drop doc 16"
    assert cnt("n2") == 5, "dedup-vs-store must drop doc 2"
    assert cnt("n3") == 4, "gate must drop doc 23"
    assert cnt("n4") == 3, "stored-NB scoring must drop doc 30"
    assert cnt("n5") == 2, "stored-DSIR scoring must drop doc 37"
    # the asymmetry that makes the merge real: the base KEPT the shared
    # line (base-only df was 1) while the batch doc died on merged df
    (m1_text,) = con.execute(
        base + "SELECT text FROM b1k WHERE doc_id = 7"
    ).fetchone()
    assert _CUR_L in m1_text


def test_band_apply_noop_without_deletion_vector(spark):
    """Band-store twin of the missing-vector guard: a fresh build
    carries no tombstone table; apply must return a zero-drop readout
    instead of raising."""
    import tempfile

    from e_commerce_click_stream_spark.operators.dedup_index import (
        apply_band_erasures,
        band_table_names,
        build_band_index_tables,
    )
    from e_commerce_click_stream_spark.plans.dedup import (
        NUM_BANDS,
        NUM_HASHES,
        _docs_shingled,
    )
    from tests.conftest import SF_SMOKE

    prefix = "r13noopband"
    loc = tempfile.mkdtemp(prefix="r13noopband_")
    docs = _docs_shingled(spark, SF_SMOKE).select("doc_id", "s").limit(40)
    build_band_index_tables(docs, prefix, NUM_HASHES, NUM_BANDS, location=loc)
    assert apply_band_erasures(spark, prefix, location=loc) == {
        "dropped_bands": 0,
        "dropped_shingles": 0,
    }
    bands_t, _ = band_table_names(prefix)
    assert spark.table(bands_t).count() > 0


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SCALE_PROBE"),
    reason="scale probe is a ~6 min opt-in sweep: SPARK_GRAFT_SCALE_PROBE=1",
)
def test_headline_queries_survive_3x_scale(spark):
    """The scale probe as a committed runnable: build the 3x re-keyed
    concatenation of sf0.1 and run a representative slice builder-vs-oracle at
    ~sf0.3-equivalent — catching constants-that-should-be-functions
    before the driver regenerates bigger fixtures."""
    import subprocess
    import sys as _sys

    out = "/tmp/spark_graft_scale_x3_test"
    r = subprocess.run(
        [_sys.executable, "scripts/scale_probe.py", "3",
         "/root/testdata/sf0.1", out],
        capture_output=True, text=True, cwd="/root/repo", timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    names = [
        "q1_pricing_summary", "hourly_metrics", "dedup_minhash_lsh",
        "bm25_stored_probe_only", "ann_ivf_probe_only", "session_metrics",
    ]
    env = dict(os.environ, SPARK_GRAFT_STORE_NS="scaletest")
    r2 = subprocess.run(
        [_sys.executable, "scripts/driver_sim.py", out, *names],
        capture_output=True, text=True, cwd="/root/repo", timeout=900,
        env=env,
    )
    assert r2.returncode == 0 and "0 failures" in r2.stdout, r2.stdout[-3000:]


_CUR_L2 = "click here to read the full article"


def test_streaming_curation_diverges_from_oneshot_and_matches_oracle(spark):
    """The streaming ingest's semantics are REAL, not a relabeled
    one-shot: a boilerplate line absent from the base that appears in
    micro-batch 0 and again in micro-batch 3 crosses the df threshold
    MID-STREAM — the early document keeps the line (immutable emission),
    the late one loses it, while the one-shot run scrubs it from both.
    Also pins cross-micro-batch dedup THROUGH the fingerprint store (a
    wb-3 exact dup of a wb-0 doc, split-lines so the scrub can't see
    it). Corpus: 8 batch docs -> wb = 0,0,1,1,2,2,3,3 under
    CUR_STREAM_NBATCHES=4."""
    import duckdb

    from e_commerce_click_stream_spark.plans.text import (
        _CUR_INC_SQL,
        _CUR_STREAM_SQL,
    )

    a700 = lambda seed: _cur_words(_CUR_A, seed, 700)
    a60 = lambda seed: _cur_words(_CUR_A, seed, 60)
    dc_text = a60(4)
    split2 = lambda t: (lambda w: " ".join(w[:30]) + "\n" + " ".join(w[30:]))(
        t.split(" ")
    )
    rows = [
        # base: three keep-class docs + the DSIR-low contrast
        (0, a700(0), "en", "sA"),
        (1, a700(1), "en", "sA"),
        (3, a700(3), "en", "sA"),
        (4, _cur_words(_CUR_C, 0, 100), "xx", "sA"),
        # batch (ids ≡ 2 mod 7; ranks 1..8 -> wb 0,0,1,1,2,2,3,3)
        (2, _CUR_L2 + "\n" + a60(0), "en", "sA"),    # dA: keeps L2 (wb0)
        (9, dc_text, "en", "sA"),                     # dC: dup source (wb0)
        (16, a60(1), "en", "sA"),
        (23, a60(2), "en", "sA"),
        (30, a60(3), "en", "sA"),
        (37, a60(5), "en", "sA"),
        (44, _CUR_L2 + "\n" + a60(6), "en", "sA"),   # dB: loses L2 (wb3)
        (51, split2(dc_text), "en", "sA"),           # dD: store-dedup drop (wb3)
    ]
    out = tempfile.mkdtemp(prefix="curs_div_")
    spark.createDataFrame(
        [(i, t, l, s, len(t) if t else 0) for i, t, l, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )

    got = sorted(
        map(
            tuple,
            SPECS["streaming_curation_ingest"].builder(spark, out).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{out}/documents.parquet/*.parquet'"
    )
    exp = sorted(map(tuple, con.execute(_CUR_STREAM_SQL).fetchall()))
    assert got == exp, f"\ngot: {got}\nexp: {exp}"

    oneshot = sorted(map(tuple, con.execute(_CUR_INC_SQL).fetchall()))
    assert got != oneshot, (
        "streaming and one-shot semantics must diverge on the "
        "mid-stream df crossing"
    )
    by_id = {r[0]: r for r in got}
    one_by_id = {r[0]: r for r in oneshot}
    # dA (doc 2): streaming keeps L2's 7 tokens, the one-shot scrubs them
    assert by_id[2][2] == one_by_id[2][2] + len(_CUR_L2.split()), (
        by_id[2], one_by_id[2],
    )
    # dB (doc 44) lost the line in BOTH (cum df already 2 at wb3)
    assert by_id[44][2] == one_by_id[44][2]
    # cross-micro-batch store dedup: dC survives, its wb3 twin never emits
    assert 9 in by_id and 51 not in by_id


def test_scale_probe_builder_keeps_joins_consistent():
    """scripts/scale_probe.py is load-bearing (the 3x scale test above
    rides on it): a K-copy fixture must scale every fact table
    by exactly K, keep dims single-copy, and — the part that silently
    breaks if two columns of one key domain get different offsets —
    preserve join cardinality: lineitem⋈orders and lineitem⋈part must
    also scale by exactly K."""
    import duckdb

    from scripts.scale_probe import build

    src = "/root/testdata/sf0.001"
    out = tempfile.mkdtemp(prefix="scale_unit_")
    stats = build(src, out, 2)
    con = duckdb.connect()

    def n(path, t):
        return con.execute(f"SELECT count(*) FROM '{path}/{t}.parquet'").fetchone()[0]

    for t in ("documents", "embeddings", "events", "orders", "lineitem",
              "customer", "supplier", "part"):
        assert n(out, t) == 2 * n(src, t), t
    for t in ("nation", "region"):
        assert n(out, t) == n(src, t), t

    def joined(path, cond):
        return con.execute(
            f"SELECT count(*) FROM '{path}/lineitem.parquet' l "
            f"JOIN '{path}/orders.parquet' o ON {cond}"
            if "orderkey" in cond
            else f"SELECT count(*) FROM '{path}/lineitem.parquet' l "
                 f"JOIN '{path}/part.parquet' p ON {cond}"
        ).fetchone()[0]

    assert joined(out, "l.l_orderkey = o.o_orderkey") == 2 * joined(
        src, "l.l_orderkey = o.o_orderkey"
    )
    assert joined(out, "l.l_partkey = p.p_partkey") == 2 * joined(
        src, "l.l_partkey = p.p_partkey"
    )
    # copies never collide: key ranges are disjoint per copy
    hi = con.execute(
        f"SELECT max(o_orderkey), min(o_orderkey) FROM '{out}/orders.parquet'"
    ).fetchone()
    base_hi = con.execute(
        f"SELECT max(o_orderkey) FROM '{src}/orders.parquet'"
    ).fetchone()[0]
    assert hi[0] > stats["offsets"]["orderkey"] >= base_hi
