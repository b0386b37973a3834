"""Round-12 operator pins.

quality_nb_classifier / quality_nb_confusion: the fixture corpus draws
every document from one shared 31-word pool, so no label is lexically
separable there (the driver row proves engine parity, not learning).
Real learning is pinned HERE on a constructed corpus with disjoint
class vocabularies, against an independent pure-Python Naive Bayes
reference that replicates the committed pipeline end to end: structural
label battery, folded tokenize, md5 bucket hash, add-one smoothing,
micro-rounded integer log-odds.
"""

from __future__ import annotations

import pytest

import hashlib
import math
import os
import re
import tempfile

from e_commerce_click_stream_spark.plans.registry import all_specs
from e_commerce_click_stream_spark.plans.text import NB_BUCKETS

SPECS = all_specs()


def _ref_tokens(text):
    """Builder's exact feature tokenization: İ/Σ pre-fold, lower,
    space-only trim, ASCII-class \\s+ split (see _ref_dsir's notes)."""
    folded = text.translate(str.maketrans("İΣ", "iσ")).lower()
    return [w for w in re.split(r"\s+", folded.strip(" "), flags=re.ASCII) if w]


def _ref_label(text):
    """The committed structural label: the Gopher battery minus the
    required-stopword rule, computed independently. Only valid for the
    corpora this test constructs (single-line, no '#'/'...'/'…', no
    bullet starts or ellipsis ends — those rules reduce to ratios of 0)."""
    if text is None:
        return False
    words = [w for w in re.split(r"\s+", text.strip(" "), flags=re.ASCII) if w]
    if not words:
        return False
    n = len(words)
    mean_wlen = sum(len(w) for w in words) / n
    alpha = sum(1 for w in words if re.search("[a-zA-Z]", w)) / n
    assert "#" not in text and "..." not in text and "…" not in text
    assert not text.startswith(("-", "*", "•")) and "\n" not in text
    return 50 <= n <= 100000 and 3.0 <= mean_wlen <= 10.0 and alpha >= 0.8


def _bucket(w):
    return int(hashlib.md5(w.encode()).hexdigest()[:4], 16) % NB_BUCKETS


def _ref_nb(rows):
    """Independent NB reference. rows = [(doc_id, text)]. Returns
    {doc_id: (label, n_tokens, n_feat_buckets, log_odds_micro, pred)}."""
    docs = []
    for doc_id, text in rows:
        if text is None or not text.strip():
            continue
        toks = _ref_tokens(text)
        if toks:
            docs.append((doc_id, _ref_label(text), toks))
    pos, neg = {}, {}
    for _d, label, toks in docs:
        side = pos if label else neg
        for w in toks:
            b = _bucket(w)
            side[b] = side.get(b, 0) + 1
    p_total, n_total = sum(pos.values()), sum(neg.values())
    buckets = set(pos) | set(neg)
    w_micro = {
        b: math.floor(
            math.log(
                ((pos.get(b, 0) + 1) * (n_total + NB_BUCKETS))
                / ((neg.get(b, 0) + 1.0) * (p_total + NB_BUCKETS))
            )
            * 1_000_000
            + 0.5
        )
        for b in buckets
    }
    n_pos = sum(1 for _d, label, _t in docs if label)
    n_neg = len(docs) - n_pos
    prior = math.floor(math.log((n_pos + 1.0) / (n_neg + 1)) * 1_000_000 + 0.5)
    out = {}
    for doc_id, label, toks in docs:
        dot = sum(w_micro[_bucket(w)] for w in toks)
        lo = dot + prior
        out[doc_id] = (label, len(toks), len({_bucket(w) for w in toks}), lo, lo > 0)
    return out


# 5 long editorial-vocabulary docs (label True: >= 50 words, mean word
# length in [3, 10], >= 80% alphabetic) vs 7 short junk-vocabulary docs
# (label False: < 50 words). Vocabularies are DISJOINT, so a working NB
# must separate them perfectly at training fit.
_GOOD_VOCAB = ["İstanbul", "quality", "signal", "corpus", "editorial", "prose"]
_BAD_VOCAB = ["spam", "junk", "blah", "noise", "clickbait"]


def _nb_corpus():
    rows = []
    for i in range(5):
        words = [(_GOOD_VOCAB[(i + j) % len(_GOOD_VOCAB)]) for j in range(60)]
        if i == 0:
            # 10/60 non-alphabetic words: alpha_frac 0.833 still passes,
            # and the Σ fold path gets exercised on the positive class
            words[:10] = ["ΣΟΦΟΣ"] * 10
        rows.append((100 + i, " ".join(words)))
    for i in range(7):
        words = [(_BAD_VOCAB[(i + j) % len(_BAD_VOCAB)]) for j in range(12)]
        if i == 0:
            # NBSP inside a token: one token to the ASCII-class split
            words[0] = "non breaking"
        rows.append((200 + i, " ".join(words)))
    rows.append((300, None))  # NULL text -> excluded
    rows.append((301, "   "))  # whitespace-only -> excluded
    return rows


def test_quality_nb_matches_reference(spark):
    rows = _nb_corpus()
    out = tempfile.mkdtemp(prefix="nbq_")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t) if t else 0) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    expected = _ref_nb(rows)
    got = {
        r["doc_id"]: r
        for r in SPECS["quality_nb_classifier"].builder(spark, out).collect()
    }
    assert set(got) == set(expected)
    for d, (label, n, nb, lo, pred) in expected.items():
        r = got[d]
        assert r["label"] == label, d
        assert r["n_tokens"] == n, d
        assert r["n_feat_buckets"] == nb, d
        assert r["log_odds_micro"] == lo, d
        assert r["pred_keep"] == pred, d
    # the point of the constructed corpus: the model actually LEARNED —
    # perfect training fit on disjoint vocabularies, both classes present
    assert {r["pred_keep"] for r in got.values()} == {True, False}
    assert all(r["pred_keep"] == r["label"] for r in got.values())


def test_quality_nb_confusion_matches_reference(spark):
    rows = _nb_corpus()
    out = tempfile.mkdtemp(prefix="nbc_")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t) if t else 0) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    expected = {}
    for label, n, _nb, _lo, pred in _ref_nb(rows).values():
        cell = expected.setdefault((label, pred), [0, 0])
        cell[0] += 1
        cell[1] += n
    got = {
        (r["label"], r["pred_keep"]): (r["n_docs"], r["n_tokens"])
        for r in SPECS["quality_nb_confusion"].builder(spark, out).collect()
    }
    assert got == {k: tuple(v) for k, v in expected.items()}
    # perfect training fit -> exactly the two diagonal cells
    assert set(got) == {(True, True), (False, False)}


# ---------------------------------------------------------------------------
# corpus_curation_run: every stage is a pass-through or an obvious cut on
# the real fixtures (unique single-line docs -> scrub and dedup drop
# nothing at sf0.01), so the full cascade is pinned here on a corpus
# where EVERY stage cuts: shared boilerplate lines (scrub), post-scrub
# exact duplicates (dedup), short docs (gate), and an en/non-en lexical
# split (DSIR), with per-source packing.

from e_commerce_click_stream_spark.plans.text import SEQ_TOKEN_BUDGET  # noqa: E402
from tests.test_round11_ops import _ref_dsir  # noqa: E402


def _norm_line(line):
    collapsed = re.sub(r"\s+", " ", line, flags=re.ASCII).strip(" ")
    return collapsed.translate(str.maketrans("İΣ", "iσ")).lower()


def _ref_scrub(rows):
    """Line-level boilerplate scrub reference: drop blank-normalized
    lines and lines whose normalized md5 occurs in >= 2 distinct docs;
    rebuild text from surviving original lines. rows =
    [(doc_id, text, lang, source)] -> [(doc_id, scrubbed, lang, source,
    raw_tokens, clean_tokens)] for docs with text."""
    df = {}
    for doc_id, text, _lang, _src in rows:
        if text is None:
            continue
        for n in {_norm_line(l) for l in text.split("\n")}:
            if n:
                df[n] = df.get(n, 0) + 1
    out = []
    for doc_id, text, lang, src in rows:
        if text is None:
            continue
        kept, raw_t, clean_t = [], 0, 0
        for l in text.split("\n"):
            n = _norm_line(l)
            t = len(_ref_tokens(l))
            raw_t += t
            if n and df[n] < 2:
                kept.append(l)
                clean_t += t
        out.append(
            (doc_id, "\n".join(kept) if kept else None, lang, src, raw_t, clean_t)
        )
    return out


def _ref_label_multiline(text):
    """_ref_label generalized to newline-separated docs (still no
    '#'/'...'/'…'/bullets, so those rules reduce to ratios of 0)."""
    words = [w for w in re.split(r"\s+", text.strip(" "), flags=re.ASCII) if w]
    if not words:
        return False
    n = len(words)
    mean_wlen = sum(len(w) for w in words) / n
    alpha = sum(1 for w in words if re.search("[a-zA-Z]", w)) / n
    assert "#" not in text and "..." not in text and "…" not in text
    for l in text.split("\n"):
        assert not l.lstrip(" \t").startswith(("-", "*", "•"))
        assert not l.rstrip(" \t\r").endswith((".", "…"))
    return 50 <= n <= 100000 and 3.0 <= mean_wlen <= 10.0 and alpha >= 0.8


def _curation_corpus():
    boiler = "subscribe to our newsletter today"
    good = lambda seed, k: " ".join(
        _GOOD_VOCAB[(seed + j) % len(_GOOD_VOCAB)] for j in range(k)
    )
    junk = lambda seed, k: " ".join(
        _BAD_VOCAB[(seed + j) % len(_BAD_VOCAB)] for j in range(k)
    )
    g2 = good(2, 60).split(" ")
    rows = [
        # three docs sharing the boilerplate line -> scrub drops it (df=3)
        (1, boiler + "\n" + good(0, 60), "en", "sA"),
        (2, boiler + "\n" + good(1, 60), "en", "sA"),
        # 3 and 4: NOT line-duplicates (3 splits the words over two
        # lines, so no line recurs and the scrub keeps both), but their
        # whitespace-collapsed fingerprints are EQUAL -> exact dedup
        # keeps only doc 3
        (3, boiler + "\n" + " ".join(g2[:30]) + "\n" + " ".join(g2[30:]),
         "en", "sB"),
        (4, " ".join(g2), "en", "sB"),
        # gate failures: too short after a clean scrub
        (5, junk(0, 12), "de", "sA"),
        (6, junk(1, 12), "de", "sB"),
        # long non-en docs: pass the gate, lose the DSIR en-target cut
        (7, junk(0, 60), "de", "sA"),
        (8, junk(1, 60), "de", "sB"),
        # all-boilerplate doc: empty after scrub -> dropped at stage 1
        (9, boiler, "en", "sA"),
        (10, None, "en", "sA"),  # NULL text: only stage 0 counts it
        (11, "   ", "en", "sB"),  # whitespace-only: no kept lines
    ]
    return rows


def test_corpus_curation_run_matches_reference(spark):
    rows = _curation_corpus()
    out = tempfile.mkdtemp(prefix="cur_")
    spark.createDataFrame(
        [(i, t, l, s, len(t) if t else 0) for i, t, l, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    # reference cascade
    scrubbed = _ref_scrub(rows)
    s1 = [r for r in scrubbed if r[1] is not None]
    raw_tokens = sum(r[4] for r in scrubbed)
    by_fp = {}
    for doc_id, text, lang, src, _rt, ct in s1:
        fp = hashlib.md5(
            re.sub(r"\s+", " ", text.strip(" "), flags=re.ASCII)
            .translate(str.maketrans("İΣ", "iσ"))
            .lower()
            .encode()
        ).hexdigest()
        by_fp.setdefault(fp, []).append((doc_id, text, lang, src, ct))
    s2 = sorted(v2 for v in by_fp.values() for v2 in [min(v)])
    s3 = [r for r in s2 if _ref_label_multiline(r[1])]
    dsir = _ref_dsir([(d, t, l) for d, t, l, _s, _c in s3])
    s4 = [
        (d, src, dsir[d][0])
        for d, _t, _l, src, _c in s3
        if dsir[d][3]
    ]
    shards = set()
    cum = {}
    for d, src, n in sorted(s4):
        before = cum.get(src, 0)
        shards.add((src, before // SEQ_TOKEN_BUDGET))
        cum[src] = before + n
    expected = {
        0: ("raw", len(rows), raw_tokens, None),
        1: ("line_scrub", len(s1), sum(r[5] for r in s1), None),
        2: ("exact_dedup", len(s2), sum(r[4] for r in s2), None),
        3: ("quality_gate", len(s3), sum(r[4] for r in s3), None),
        4: ("dsir_select", len(s4), sum(n for _d, _s, n in s4), None),
        5: ("pack", len(s4), sum(n for _d, _s, n in s4), len(shards)),
    }
    got = {
        r["stage_idx"]: (r["stage"], r["n_docs"], r["n_tokens"], r["n_shards"])
        for r in SPECS["corpus_curation_run"].builder(spark, out).collect()
    }
    assert got == expected
    # the corpus was built so every stage CUTS (non-vacuous cascade):
    # 11 raw -> 8 scrubbed -> 7 deduped -> 5 gated -> a strict DSIR cut
    assert expected[0][1] > expected[1][1] > expected[2][1] > expected[3][1]
    assert expected[3][1] > expected[4][1] > 0


# ---------------------------------------------------------------------------
# corpus_mix_temperature_sweep: exact integer identities that must hold
# for ANY corpus — floors never leak tokens (planned + unmet == target),
# the ppm shares under-count by at most one floor remainder per source,
# targets reassemble the budget to within n_sources floor remainders,
# and alpha = 1.0 reproduces natural proportions exactly (pow(n, 1.0)
# is exact, so weight_micro == n * 1e6).

def test_mix_sweep_integer_identities(spark):
    from tests.conftest import SF_SMOKE
    from e_commerce_click_stream_spark.plans.text import (
        BUDGET_TOKEN_MULT,
        MIX_ALPHAS,
    )

    rows = SPECS["corpus_mix_temperature_sweep"].builder(spark, SF_SMOKE).collect()
    assert rows
    by_alpha = {}
    for r in rows:
        by_alpha.setdefault(r["alpha"], []).append(r)
    assert set(by_alpha) == set(MIX_ALPHAS)
    total = sum(r["tokens_available"] for r in by_alpha[1.0])
    budget = BUDGET_TOKEN_MULT * total
    for alpha, rs in by_alpha.items():
        n_src = len(rs)
        # floors never create or leak planned tokens
        assert all(
            r["planned_tokens"] + r["unmet_tokens"] == r["target_tokens"]
            for r in rs
        ), alpha
        # shares: each floor drops < 1 ppm, so the sum sits in
        # (1e6 - n_sources, 1e6]
        s = sum(r["share_ppm"] for r in rs)
        assert 1_000_000 - n_src < s <= 1_000_000, (alpha, s)
        # targets reassemble the budget to within one floor per source
        t = sum(r["target_tokens"] for r in rs)
        assert budget - n_src < t <= budget, (alpha, t)
        assert all(
            r["fully_satisfiable"] == (r["unmet_tokens"] == 0) for r in rs
        ), alpha
    # alpha = 1.0 is EXACT natural proportion: pow(n, 1.0) == n
    for r in by_alpha[1.0]:
        assert r["weight_micro"] == r["tokens_available"] * 1_000_000
    # flattening: smaller alpha strictly shrinks the share spread
    def spread(rs):
        shares = [r["share_ppm"] for r in rs]
        return max(shares) - min(shares)

    assert spread(by_alpha[0.3]) < spread(by_alpha[1.0])


# ---------------------------------------------------------------------------
# bm25_stored_compact: the driver row proves post-compaction scores are
# bit-identical to a fresh build (shared oracle). These pins prove the
# two things the oracle can't see: the file counts actually collapse
# (every bucket multi-file after append -> exactly one file after), and
# the probe PLAN is byte-stable across the rewrite (same bucket-local
# join, same broadcasts — compaction must be invisible to the planner).

def _normalize_plan(plan):
    """Strip run-varying ids from a formatted plan: expression ids
    (#123), node ids ((45)), codegen stage ids, and file-listing sizes."""
    s = re.sub(r"#\d+", "#", plan)
    s = re.sub(r"\(\d+\)", "(n)", s)
    s = re.sub(r"\[codegen id : \d+\]", "[codegen]", s)
    s = re.sub(r"\d+ paths", "N paths", s)
    # stop at the first blank-line separator (the operator details body
    # repeats the tree; statistics there vary with file layout)
    return s.split("\n\n")[0]


def test_bm25_compaction_collapses_files_and_keeps_probe_identical(spark):
    import e_commerce_click_stream_spark.plans.text as textplans
    from e_commerce_click_stream_spark.operators.bm25_index import (
        NUM_POSTING_BUCKETS,
        POSTINGS_SUBDIR,
        append_to_postings_index,
        build_postings_index,
        postings_table_names,
    )
    from e_commerce_click_stream_spark.operators.compaction import (
        bucket_file_counts,
        compact_bucketed_table,
    )
    from tests.conftest import SF_SMOKE

    index_dir, prefix = textplans._bm25_store_location(SF_SMOKE)
    prefix += "_cmp"  # test-private tables; dirs under a private subtree
    index_dir += "_cmp"
    docs = textplans._bm25_docs(spark, SF_SMOKE).localCheckpoint(eager=True)
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    build_postings_index(old, prefix, location=index_dir)
    append_to_postings_index(spark, new, prefix, location=index_dir)

    post_dir = os.path.join(index_dir, POSTINGS_SUBDIR)
    before = bucket_file_counts(post_dir)
    assert before and all(n >= 2 for n in before.values()), (
        f"append should leave every bucket multi-file: {before}"
    )

    probe = lambda: textplans._bm25_probe(spark, prefix)
    rows_before = sorted(map(tuple, probe().collect()))
    plan_before = _normalize_plan(
        probe()._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )

    stats = compact_bucketed_table(
        spark, postings_table_names(prefix)[0], "tok", NUM_POSTING_BUCKETS,
        location=post_dir, sort_col="tok",
    )
    after = stats["files_after"]
    assert set(after) == {("", b) for b in range(NUM_POSTING_BUCKETS)}
    assert all(n == 1 for n in after.values()), f"not compacted: {after}"
    assert stats["files_before"] == before

    rows_after = sorted(map(tuple, probe().collect()))
    assert rows_after == rows_before, "compaction changed probe results"
    plan_after = _normalize_plan(
        probe()._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert plan_after == plan_before, (
        "compaction changed the probe plan:\n"
        f"BEFORE:\n{plan_before}\nAFTER:\n{plan_after}"
    )


def test_ivf_compaction_collapses_files_and_keeps_probe_identical(spark):
    import e_commerce_click_stream_spark.plans.similarity as simplans
    from e_commerce_click_stream_spark.operators.compaction import (
        bucket_file_counts,
        compact_bucketed_table,
    )
    from tests.conftest import SF_SMOKE

    # build + append through the registered helpers (shared store; the
    # compact query itself rebuilds under the lock, so reuse its steps)
    prefix = simplans._ivf_store_build(
        spark, SF_SMOKE, corpus_filter=~simplans._ivf_arrivals()
    )
    simplans._ivf_store_append(spark, SF_SMOKE, prefix, simplans._ivf_arrivals())
    index_dir, _ = simplans._ivf_store_location(SF_SMOKE)
    assign_dir = os.path.join(index_dir, "assignments")
    before = bucket_file_counts(assign_dir)
    assert before and any(n >= 2 for n in before.values()), (
        f"append should leave some (cell, bucket) multi-file: {before}"
    )
    probe = lambda: simplans._ivf_probe_stored(
        spark, SF_SMOKE, *simplans._ivf_store_read(spark, prefix)
    )
    rows_before = sorted(map(tuple, probe().collect()))
    plan_before = _normalize_plan(
        probe()._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    stats = compact_bucketed_table(
        spark, f"{prefix}_assign", "vec_id", simplans._IVF_BUCKETS,
        location=assign_dir, sort_col="vec_id", partition_col="cell",
    )
    after = stats["files_after"]
    assert after and all(n == 1 for n in after.values()), f"not compacted: {after}"
    # every cell partition present before is still present (no data loss
    # visible at the layout level; value identity asserted below)
    assert {p for p, _b in before} <= {p for p, _b in after} | {""}
    rows_after = sorted(map(tuple, probe().collect()))
    assert rows_after == rows_before, "compaction changed probe results"
    plan_after = _normalize_plan(
        probe()._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert plan_after == plan_before, (
        "compaction changed the probe plan:\n"
        f"BEFORE:\n{plan_before}\nAFTER:\n{plan_after}"
    )


def test_quality_nb_probe_only_matches_in_query_fit(spark):
    """Stored-weights scoring must be row-identical to the in-query
    fit+score — proven here on the CONSTRUCTED corpus where the model
    actually learns (the driver row proves it on the fixtures), so a
    weight-table round-trip bug that only flips learned (non-prior)
    scores cannot hide."""
    rows = _nb_corpus()
    out = tempfile.mkdtemp(prefix="nbp_")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t) if t else 0) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    in_query = sorted(
        map(tuple, SPECS["quality_nb_classifier"].builder(spark, out).collect())
    )
    stored = sorted(
        map(tuple, SPECS["quality_nb_probe_only"].builder(spark, out).collect())
    )
    assert stored == in_query
    # warm second probe (store reused, no re-fit) is also identical
    warm = sorted(
        map(tuple, SPECS["quality_nb_probe_only"].builder(spark, out).collect())
    )
    assert warm == in_query


def test_band_store_compaction_collapses_files_and_keeps_probe_identical(spark):
    import e_commerce_click_stream_spark.plans.dedup as dedupplans
    from e_commerce_click_stream_spark.operators.compaction import (
        bucket_file_counts,
        compact_bucketed_table,
    )
    from e_commerce_click_stream_spark.operators.dedup_index import (
        BANDS_SUBDIR,
        NUM_STORE_BUCKETS,
        SHINGLES_SUBDIR,
        band_table_names,
    )
    from e_commerce_click_stream_spark.plans.dedup import (
        JACCARD_THRESHOLD,
        NUM_BANDS,
        NUM_HASHES,
        probe_band_index_tables,
    )
    from tests.conftest import SF_SMOKE

    from pyspark.sql import functions as F

    from e_commerce_click_stream_spark.io import spread, table
    from e_commerce_click_stream_spark.operators.dedup_index import (
        append_to_band_index_tables,
        build_band_index_tables,
    )
    from e_commerce_click_stream_spark.operators.textops import shingles, tokens

    # private store: this test APPENDS to manufacture fragmentation, which
    # must never leak into the shared per-fixture store other tests reuse
    index_dir, prefix = dedupplans._band_store_location(SF_SMOKE)
    index_dir += "_cmp"
    prefix += "_cmp"
    docs = (
        spread(table(spark, SF_SMOKE, "documents"))
        .select(
            "doc_id",
            dedupplans.is_new_source().alias("is_new"),
            tokens().alias("toks"),
        )
        .select("doc_id", "is_new", shingles("toks", 3).alias("s"))
        .localCheckpoint(eager=True)
    )
    index_docs = docs.filter(~F.col("is_new")).select("doc_id", "s")
    batch_sh = docs.filter("is_new").select("doc_id", "s")
    build_band_index_tables(
        index_docs, prefix, NUM_HASHES, NUM_BANDS,
        num_buckets=NUM_STORE_BUCKETS, location=index_dir,
    )
    # the build writes are bucket-aligned (one file per bucket — the r15
    # small-files fix), so fragmentation comes from batch APPENDS: each
    # append adds a file to every bucket its rows hash into
    append_to_band_index_tables(batch_sh, prefix, NUM_HASHES, NUM_BANDS)
    bands_t, shingles_t = band_table_names(prefix)
    bands_dir = os.path.join(index_dir, BANDS_SUBDIR)
    shingles_dir = os.path.join(index_dir, SHINGLES_SUBDIR)
    before = bucket_file_counts(shingles_dir)
    assert before and any(n >= 2 for n in before.values()), (
        f"build + append should leave multi-file buckets: {before}"
    )
    probe = lambda: probe_band_index_tables(
        spark, batch_sh, batch_sh.select("doc_id"), prefix,
        NUM_HASHES, NUM_BANDS, JACCARD_THRESHOLD
    )
    rows_before = sorted(map(tuple, probe().collect()))
    plan_before = _normalize_plan(
        probe()._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    band_stats = compact_bucketed_table(
        spark, bands_t, "bucket", NUM_STORE_BUCKETS,
        location=bands_dir, sort_col="bucket", partition_col="band",
    )
    sh_stats = compact_bucketed_table(
        spark, shingles_t, "doc_id", NUM_STORE_BUCKETS,
        location=shingles_dir, sort_col="doc_id",
    )
    for stats in (band_stats, sh_stats):
        after = stats["files_after"]
        assert after and all(n == 1 for n in after.values()), (
            f"not compacted: {after}"
        )
    rows_after = sorted(map(tuple, probe().collect()))
    assert rows_after == rows_before, "compaction changed probe verdicts"
    plan_after = _normalize_plan(
        probe()._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert plan_after == plan_before, (
        "compaction changed the probe plan:\n"
        f"BEFORE:\n{plan_before}\nAFTER:\n{plan_after}"
    )


def test_bm25_erase_merge_on_read_matches_survivor_rebuild(spark):
    """The erasure contract end to end on a controlled split: (A) a
    fresh build on the surviving half is ground truth; (B) full build +
    logical erase (tombstones + count decrements) probes bit-identically
    to A, and the decremented terms/scalars EQUAL the survivor build's;
    (C) apply_erasures physically drops the rows, keeps the probe
    bit-identical, and resets the tombstone set; (D) erasing a never-
    indexed id is a no-op beyond its tombstone row; (E) a rebuild at the
    same prefix resets stale tombstones."""
    import e_commerce_click_stream_spark.plans.text as textplans
    from e_commerce_click_stream_spark.operators.bm25_index import (
        apply_erasures,
        build_postings_index,
        erase_from_postings_index,
        postings_table_names,
        tombstones_table_name,
    )
    from tests.conftest import SF_SMOKE

    index_dir, prefix = textplans._bm25_store_location(SF_SMOKE)
    ref_prefix, ref_dir = prefix + "_ersref", index_dir + "_ersref"
    prefix, index_dir = prefix + "_ers", index_dir + "_ers"
    docs = textplans._bm25_docs(spark, SF_SMOKE).localCheckpoint(eager=True)
    keep = docs.filter("doc_id % 2 = 0")
    gone = docs.filter("doc_id % 2 = 1")

    # A: ground truth — the store a survivor-only corpus would build
    build_postings_index(keep, ref_prefix, location=ref_dir)
    ref_rows = sorted(map(tuple, textplans._bm25_probe(spark, ref_prefix).collect()))
    assert ref_rows, "survivor rebuild probe must produce rows"

    # B: full build, then logical erase of the other half
    build_postings_index(docs, prefix, location=index_dir)
    erase_from_postings_index(spark, gone.select("doc_id"), prefix,
                              location=index_dir)
    mor_rows = sorted(map(tuple, textplans._bm25_probe(spark, prefix).collect()))
    assert mor_rows == ref_rows, "merge-on-read probe != survivor rebuild"

    post_t, terms_t, scal_t = postings_table_names(prefix)
    rpost_t, rterms_t, rscal_t = postings_table_names(ref_prefix)
    assert sorted(map(tuple, spark.table(terms_t).collect())) == sorted(
        map(tuple, spark.table(rterms_t).collect())
    ), "decremented df table != survivor rebuild's dfrel"
    assert spark.table(scal_t).collect() == spark.table(rscal_t).collect()

    # B2: erasure is IDEMPOTENT — repeating the SAME erase batch while
    # the physical rows still await apply must not decrement df/scalars
    # a second time (the dedup against the existing vector no-ops it)
    erase_from_postings_index(spark, gone.select("doc_id"), prefix,
                              location=index_dir)
    assert spark.table(scal_t).collect() == spark.table(rscal_t).collect(), (
        "repeated erase double-decremented the corpus scalars"
    )
    assert sorted(map(tuple, spark.table(terms_t).collect())) == sorted(
        map(tuple, spark.table(rterms_t).collect())
    ), "repeated erase double-decremented df"

    # C: physical apply — rows drop, probe identical, tombstones reset
    gone_n = gone.count()
    tomb_t = tombstones_table_name(prefix)
    assert spark.table(tomb_t).count() == gone_n
    stats = apply_erasures(spark, prefix, location=index_dir)
    assert stats["dropped"] > 0
    assert stats["kept"] == spark.table(rpost_t).count()
    assert spark.table(tomb_t).count() == 0
    assert (
        spark.table(post_t)
        .join(gone.select("doc_id"), "doc_id", "left_semi")
        .count()
        == 0
    ), "physically applied store still holds erased postings"
    rows_after = sorted(map(tuple, textplans._bm25_probe(spark, prefix).collect()))
    assert rows_after == mor_rows, "physical apply changed probe results"

    # D: erasing an id the store never indexed decrements nothing
    ghost = spark.range(1).selectExpr("-999999 AS doc_id")
    erase_from_postings_index(spark, ghost, prefix, location=index_dir)
    assert spark.table(tomb_t).count() == 1
    assert spark.table(scal_t).collect() == spark.table(rscal_t).collect()
    assert sorted(map(tuple, textplans._bm25_probe(spark, prefix).collect())) == mor_rows

    # E: a rebuild at this prefix must reset the stale tombstone set —
    # catalog AND directory (the table is dropped outright, so a later
    # session can't resurrect the files; operators/tombstones.py)
    build_postings_index(docs, prefix, location=index_dir)
    assert not spark.catalog.tableExists(tomb_t)
    import glob as _glob
    assert not _glob.glob(os.path.join(index_dir, "tombstones", "*.parquet"))


def test_semantic_decontamination_matches_numpy_reference(spark):
    """Independent brute-force reference for eval_semantic_decontamination:
    recompute the md5 split, every train x eval cosine (float64, rounded
    6), and the (cosine DESC, eval_id ASC) arg-max in NumPy, then compare
    nearest ids, cosines, and verdicts row for row."""
    import hashlib

    import numpy as np

    from e_commerce_click_stream_spark.plans.similarity import (
        SEM_DECON_COSINE,
    )
    from tests.conftest import SF_SMOKE

    rows = SPECS["eval_semantic_decontamination"].builder(spark, SF_SMOKE).collect()
    got = {r.vec_id: (r.nearest_eval_id, r.eval_cosine, r.contaminated) for r in rows}

    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(SF_SMOKE, "embeddings.parquet"))
    vecs = {}
    for vid, emb in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()):
        if emb is None or len(emb) != 64 or any(e is None for e in emb):
            continue
        a = np.asarray(emb, dtype=np.float64)
        if not np.any(a != 0):
            continue
        vecs[vid] = a

    def is_eval(vid):
        return ord(hashlib.md5(str(vid).encode()).hexdigest()[0]) % 10 < 2

    ev = sorted(v for v in vecs if is_eval(v))
    tr = sorted(v for v in vecs if not is_eval(v))
    assert ev and tr, "smoke fixture must populate both splits"
    assert set(got) == set(tr), "every train vector must appear exactly once"

    for vid in tr:
        a = vecs[vid]
        na = math.sqrt(float(np.dot(a, a)))
        best = None
        for eid in ev:
            b = vecs[eid]
            # BLAS dot, NOT the committed _dot's left fold — rounding at
            # 6 decimals absorbs the sum-order difference at dim 64
            cos = round(float(np.dot(a, b)) / (na * math.sqrt(float(np.dot(b, b)))), 6)
            if best is None or cos > best[1] or (cos == best[1] and eid < best[0]):
                best = (eid, cos)
        exp = (best[0], best[1], best[1] >= SEM_DECON_COSINE)
        assert got[vid] == exp, f"vec {vid}: {got[vid]} != {exp}"


def test_kn_bigram_matches_python_reference(spark):
    """Independent pure-Python Kneser-Ney reference on a constructed
    corpus with known count structure: recompute bigram counts, forward
    marginals/type counts, backward continuation counts, the global type
    total, every P_KN, and the per-doc readout, then compare row for
    row. The corpus is built so discount clipping, continuation mass,
    and repeated bigrams are all exercised (repeated 'a b', hub word 'x'
    with many left contexts, a two-token doc)."""
    import tempfile as _tf

    from e_commerce_click_stream_spark.plans.text import KN_DISCOUNT

    docs = [
        (0, "a b a b c x"),
        (1, "b x c x a"),
        (2, "q x"),
        (3, "a b"),
        (4, "singleton"),   # no bigram: must not appear in the output
    ]
    with _tf.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, "src01") for i, t in docs], "doc_id long, text string, source string"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        rows = SPECS["doc_kn_bigram_nll"].builder(spark, d).collect()
    got = {
        r.doc_id: (r.n_bigrams, r.mean_nll, r.kn_ppl, r.max_kn_nll) for r in rows
    }

    # reference
    from collections import Counter

    bigrams_by_doc = {}
    c12 = Counter()
    for i, t in docs:
        ws = t.split()
        bs = [(ws[j], ws[j + 1]) for j in range(len(ws) - 1)]
        if bs:
            bigrams_by_doc[i] = bs
            c12.update(bs)
    c1 = Counter(); n1f = Counter(); n1b = Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    tt = float(len(c12))

    def p_kn(w1, w2):
        return (c12[(w1, w2)] - KN_DISCOUNT) / c1[w1] + (
            KN_DISCOUNT * n1f[w1] / c1[w1] * (n1b[w2] / tt)
        )

    assert set(got) == set(bigrams_by_doc)
    for i, bs in bigrams_by_doc.items():
        nlls = [-math.log(p_kn(w1, w2)) for w1, w2 in bs]
        mean = sum(nlls) / len(nlls)
        exp = (
            len(nlls),
            round(mean, 4),
            round(math.exp(mean), 2),
            round(max(nlls), 6),
        )
        assert got[i] == exp, f"doc {i}: {got[i]} != {exp}"

    # probability mass sanity: sum_w2 P_KN(w2|w1) == 1 for every seen w1
    vocab_r = set(n1b)  # continuation distribution support
    for w1 in c1:
        mass = sum(
            (max(c12[(w1, w2)] - KN_DISCOUNT, 0.0)) / c1[w1]
            + KN_DISCOUNT * n1f[w1] / c1[w1] * (n1b[w2] / tt)
            for w2 in vocab_r
        )
        assert abs(mass - 1.0) < 1e-9, f"KN mass for {w1!r} = {mass}"


def test_band_erase_merge_on_read_matches_survivor_rebuild(spark):
    """Band-store erasure contract: (A) a store built WITHOUT the erased
    index docs is ground truth; (B) full index build + logical erase
    (tombstones only — this store has no global statistics) probes
    bit-identically to A; (C) apply_band_erasures physically drops the
    rows from BOTH tables, keeps the probe bit-identical, and resets the
    tombstone set; (D) a rebuild at the same prefix resets stale
    tombstones."""
    import e_commerce_click_stream_spark.plans.dedup as dedupplans
    from e_commerce_click_stream_spark.operators.dedup_index import (
        apply_band_erasures,
        band_table_names,
        band_tombstones_table_name,
        build_band_index_tables,
        erase_from_band_index_tables,
        probe_band_index_tables,
    )
    from e_commerce_click_stream_spark.operators.storelock import store_location
    from e_commerce_click_stream_spark.plans.dedup import (
        JACCARD_THRESHOLD,
        NUM_BANDS,
        NUM_HASHES,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    index_dir, prefix = store_location("bande", SF_SMOKE)
    prefix, index_dir = prefix + "_t", index_dir + "_t"
    ref_prefix, ref_dir = prefix + "ref", index_dir + "ref"
    sh, batch_sh, ids = dedupplans._band_store_build(
        spark, SF_SMOKE, index_dir, prefix
    )
    erased = sh.filter(~F.col("is_new") & (F.col("doc_id") % 3 == 0)).select("doc_id")
    survivors = sh.filter(
        ~F.col("is_new") & (F.col("doc_id") % 3 != 0)
    ).select("doc_id", "s")

    probe = lambda pfx: sorted(
        map(
            tuple,
            probe_band_index_tables(
                spark, batch_sh, ids, pfx, NUM_HASHES, NUM_BANDS,
                JACCARD_THRESHOLD,
            ).collect(),
        )
    )

    # A: ground truth — the store that never indexed the erased docs
    build_band_index_tables(
        survivors, ref_prefix, NUM_HASHES, NUM_BANDS, location=ref_dir
    )
    ref_rows = probe(ref_prefix)

    # B: logical erase on the full index store
    erase_from_band_index_tables(spark, erased, prefix, location=index_dir)
    mor_rows = probe(prefix)
    assert mor_rows == ref_rows, "merge-on-read probe != survivor rebuild"
    tomb_t = band_tombstones_table_name(prefix)
    n_erased = erased.count()
    assert spark.table(tomb_t).count() == n_erased > 0

    # C: physical apply — rows drop from both tables, probe identical
    bands_t, shingles_t = band_table_names(prefix)
    stats = apply_band_erasures(spark, prefix, location=index_dir)
    assert stats["dropped_shingles"] > 0 and stats["dropped_bands"] > 0
    assert spark.table(tomb_t).count() == 0
    for t in (bands_t, shingles_t):
        assert (
            spark.table(t).join(erased, "doc_id", "left_semi").count() == 0
        ), f"{t} still holds erased rows after apply"
    assert probe(prefix) == mor_rows, "physical apply changed probe verdicts"

    # D: a rebuild at this prefix must reset a stale tombstone set —
    # the table is dropped outright (catalog AND directory)
    erase_from_band_index_tables(spark, erased.limit(1), prefix, location=index_dir)
    assert spark.table(tomb_t).count() == 1
    build_band_index_tables(
        sh.filter(~F.col("is_new")).select("doc_id", "s"),
        prefix, NUM_HASHES, NUM_BANDS, location=index_dir,
    )
    assert not spark.catalog.tableExists(tomb_t)


def test_ivf_erase_merge_on_read_matches_survivor_rebuild(spark):
    """IVF erasure contract: (A) a survivors-only store with the SAME
    full-corpus codebook is ground truth — _ivf_store_build derives cent
    from the corpus BEFORE applying corpus_filter, which matters here
    because centroid seeds 3 and 7 are themselves erased (%4==3) yet
    must stay centroids (erasure never re-fits the codebook); (B) full
    build + logical erase probes bit-identically to A; (C) physical
    apply keeps the probe bit-identical and resets tombstones; (D) a
    rebuild resets stale tombstones."""
    import e_commerce_click_stream_spark.plans.similarity as simplans
    from e_commerce_click_stream_spark.operators.storelock import store_location
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    loc = store_location("ivfe", SF_SMOKE)
    loc = (loc[0] + "_t", loc[1] + "_t")
    prefix = simplans._ivf_store_build(spark, SF_SMOKE, loc=loc)
    n = simplans._vecs(spark, SF_SMOKE)
    erased = n.filter(simplans._ivf_arrivals()).select("vec_id")
    n_erased = erased.count()
    assert n_erased > 0

    probe = lambda: sorted(
        map(
            tuple,
            simplans._ivf_probe_stored(
                spark, SF_SMOKE, *simplans._ivf_store_read(spark, prefix)
            ).collect(),
        )
    )

    # A: ground truth — same codebook, survivors-only assignment set
    # (corpus_filter keeps the centroid derivation on the FULL corpus
    # inside _ivf_store_build: cent is computed from n BEFORE the filter)
    ref_loc = (loc[0] + "ref", loc[1] + "ref")
    ref_prefix = simplans._ivf_store_build(
        spark, SF_SMOKE, corpus_filter=~simplans._ivf_arrivals(), loc=ref_loc
    )
    ref_rows = sorted(
        map(
            tuple,
            simplans._ivf_probe_stored(
                spark, SF_SMOKE, *simplans._ivf_store_read(spark, ref_prefix)
            ).collect(),
        )
    )

    # B: logical erase on the full store
    simplans._ivf_erase(spark, erased, prefix, loc[0])
    mor_rows = probe()
    assert mor_rows == ref_rows, "merge-on-read probe != survivor rebuild"
    assert spark.table(f"{prefix}_tombstones").count() == n_erased

    # C: physical apply
    stats = simplans._apply_ivf_erasures(spark, prefix, loc[0])
    assert stats["dropped"] == n_erased
    assert spark.table(f"{prefix}_tombstones").count() == 0
    assert (
        spark.table(f"{prefix}_assign")
        .join(erased, "vec_id", "left_semi")
        .count()
        == 0
    )
    assert probe() == mor_rows, "physical apply changed probe results"

    # D: rebuild resets a stale tombstone set — the table is dropped
    # outright (catalog AND directory)
    simplans._ivf_erase(spark, erased.limit(1), prefix, loc[0])
    assert spark.table(f"{prefix}_tombstones").count() == 1
    simplans._ivf_store_build(spark, SF_SMOKE, loc=loc)
    assert not spark.catalog.tableExists(f"{prefix}_tombstones")


def test_wordpiece_matches_python_reference(spark):
    """Independent pure-Python WordPiece trainer on a constructed corpus
    whose count argmax and likelihood argmax DIFFER: 'zq' appears in 3
    words (z and q appear nowhere else — likelihood 3/(3*3)=0.333) while
    'ab' appears 6 times but a and b are everywhere (6/(14*10)=0.043), so
    BPE would merge ab first and WordPiece must merge z+##q first. The
    reference replays seeding (##-prefix), pair/symbol counting,
    likelihood argmax with (lhs, rhs) tie-break, and the leftmost
    non-overlapping merge for all 4 rounds."""
    import tempfile as _tf

    from e_commerce_click_stream_spark.plans.text import WP_TRAIN_ITERS

    texts = [
        "zqa zqb zqab abab ababa baba",
        "ab ba aab abb aa bb",
    ]
    with _tf.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, "src01") for i, t in enumerate(texts)],
            "doc_id long, text string, source string",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        got = [
            tuple(r)
            for r in SPECS["wordpiece_train_merges"].builder(spark, d)
            .orderBy("iter")
            .collect()
        ]

    # reference
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.split():
            if len(w) >= 2 and "|" not in w and "#" not in w:
                words[w] += 1
    vocab = {
        tuple([w[0]] + ["##" + c for c in w[1:]]): n for w, n in words.items()
    }
    exp = []
    for it in range(1, WP_TRAIN_ITERS + 1):
        pairs, syms = Counter(), Counter()
        for seq, n in vocab.items():
            for s in seq:
                syms[s] += n
            for a, b in zip(seq, seq[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        best = min(
            pairs.items(),
            key=lambda kv: (-kv[1] / (syms[kv[0][0]] * syms[kv[0][1]]), kv[0]),
        )
        (lhs, rhs), pc = best
        merged = lhs + rhs[2:]
        exp.append((it, lhs, rhs, merged, pc, syms[lhs], syms[rhs]))
        new_vocab = Counter()
        for seq, n in vocab.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == lhs and seq[i + 1] == rhs:
                    out.append(merged)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            new_vocab[tuple(out)] += n
        vocab = new_vocab
    assert got == exp, f"\ngot: {got}\nexp: {exp}"
    assert exp[0][1:3] == ("z", "##q"), (
        "corpus must make likelihood and count argmax diverge: " + str(exp)
    )


def test_mix_manifest_matches_python_reference(spark):
    """Full pure-Python reference for corpus_mix_sampled_manifest on the
    smoke fixture: per-source token sums, the alpha-power micro-rounded
    weight, the BIGINT-division planned target with repeat ceiling, the
    whole-epoch count, and the per-doc h*available < remainder*2^32
    fractional membership — every output column recomputed and compared
    row for row. Also pins the realization properties: full_epochs is
    uniform within a source and bounded by MAX_REPEAT_EPOCHS, and
    n_copies decomposes exactly as full + fractional."""
    import pyarrow.parquet as pq

    from e_commerce_click_stream_spark.plans.text import (
        BUDGET_TOKEN_MULT,
        MAX_REPEAT_EPOCHS,
        MIX_MANIFEST_ALPHA,
    )
    from tests.conftest import SF_SMOKE

    rows = SPECS["corpus_mix_sampled_manifest"].builder(spark, SF_SMOKE).collect()
    got = {r.doc_id: r for r in rows}

    t = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    docs = []
    for doc_id, text, source in zip(
        t["doc_id"].to_pylist(), t["text"].to_pylist(), t["source"].to_pylist()
    ):
        if text is None:
            continue
        n = len([w for w in re.split(r"\s+", text.strip(" "), flags=re.ASCII) if w])
        if n > 0:
            docs.append((doc_id, source, n))
    avail = {}
    for _d, s, n in docs:
        avail[s] = avail.get(s, 0) + n
    total = sum(avail.values())
    wm = {
        s: math.floor(math.pow(a, MIX_MANIFEST_ALPHA) * 1_000_000 + 0.5)
        for s, a in avail.items()
    }
    w_total = sum(wm.values())
    planned = {
        s: min(
            avail[s] * MAX_REPEAT_EPOCHS,
            (wm[s] * (BUDGET_TOKEN_MULT * total)) // w_total,
        )
        for s in avail
    }
    assert set(got) == {d for d, _s, _n in docs}
    for doc_id, s, n in docs:
        full = planned[s] // avail[s]
        rem = planned[s] % avail[s]
        h = int(hashlib.md5(f"mix:{doc_id}".encode()).hexdigest()[:8], 16)
        frac = h * avail[s] < rem * 4294967296
        r = got[doc_id]
        assert (r.source, r.n_tokens) == (s, n), doc_id
        assert r.full_epochs == full, doc_id
        assert r.in_fractional == frac, doc_id
        assert r.n_copies == full + (1 if frac else 0), doc_id
        assert 0 <= full <= MAX_REPEAT_EPOCHS


@pytest.mark.slow  # randomized-reference sweep: opt out with -m "not slow"
def test_cc_incremental_merge_equals_from_scratch(spark):
    """Randomized-graph equivalence for the incremental CC merge: for
    several seeded random splits of a random edge set into OLD and NEW,
    stored-labels(old) folded with merge(new) must equal the from-scratch
    fixpoint over ALL edges — including the hard cases a fixture can't
    guarantee: a new edge bridging two distinct old components, chains of
    bridges, brand-new nodes joining old clusters, and new-only
    components. A deterministic hand case pins the two-component bridge
    explicitly."""
    import random

    from e_commerce_click_stream_spark.plans.dedup import (
        _cc_fixpoint,
        _cc_incremental_merge,
    )

    def run(old_edges, new_edges):
        old_df = spark.createDataFrame(
            old_edges or [(-1, -1)], "doc_a long, doc_b long"
        )
        if not old_edges:
            old_df = old_df.filter("doc_a >= 0")
        new_df = spark.createDataFrame(new_edges, "doc_a long, doc_b long")
        stored = _cc_fixpoint(old_df)
        got = sorted(
            map(tuple, _cc_incremental_merge(stored, new_df).collect())
        )
        all_df = old_df.unionByName(new_df)
        exp = sorted(map(tuple, _cc_fixpoint(all_df).collect()))
        return got, exp

    # hand case: {1,2} and {5,6} are old components; new doc 9 bridges
    # them through 2 and 5, and 7-8 is a new-only component
    got, exp = run([(1, 2), (5, 6)], [(2, 9), (9, 5), (7, 8)])
    assert got == exp
    assert (9, 1) in got and (5, 1) in got, f"bridge not merged: {got}"
    assert (8, 7) in got, f"new-only component mislabeled: {got}"

    rng = random.Random(12)
    for _trial in range(4):
        n = 24
        edges = {
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(rng.randint(6, 20))
        }
        edges = [(a, b) for a, b in edges]
        k = rng.randint(0, len(edges))
        rng.shuffle(edges)
        got, exp = run(edges[:k], edges[k:])
        assert got == exp, f"old={edges[:k]} new={edges[k:]}"


def test_quality_nb_roc_matches_reference(spark):
    """ROC-curve reference on the constructed disjoint-vocabulary corpus:
    recompute the per-doc log-odds with _ref_nb, bin them with the same
    BIGINT edge math, suffix-sum TP/FP per threshold, and compare every
    row. Also pins the curve properties: tp/fp monotone non-increasing
    in k, k=0 keeps everything (tpr = fpr = 1), and on this perfectly
    separable corpus some threshold achieves tpr = 1 with fpr = 0."""
    from e_commerce_click_stream_spark.plans.text import NB_ROC_BINS

    rows = _nb_corpus()
    out = tempfile.mkdtemp(prefix="nbr_")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t) if t else 0) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    got = {
        r.k: (r.threshold_micro, r.tp, r.fp, r.fn, r.tn, r.tpr, r.fpr,
              r.precision_at_k)
        for r in SPECS["quality_nb_roc_curve"].builder(spark, out).collect()
    }

    ref = _ref_nb(rows)
    scores = [(lo, label) for label, _n, _nb, lo, _p in ref.values()]
    lo_min = min(s for s, _ in scores)
    lo_max = max(s for s, _ in scores)
    pos_total = sum(1 for _s, l in scores if l)
    neg_total = len(scores) - pos_total
    span = lo_max - lo_min + 1
    exp = {}
    for k in range(NB_ROC_BINS):
        # true lower edge of bin k (ceil — ADVICE r12): the smallest
        # score with ((s - lo_min) * bins) // span >= k
        thr = lo_min + (k * span + NB_ROC_BINS - 1) // NB_ROC_BINS
        tp = sum(1 for s, l in scores if l and ((s - lo_min) * NB_ROC_BINS) // span >= k)
        fp = sum(1 for s, l in scores if not l and ((s - lo_min) * NB_ROC_BINS) // span >= k)
        exp[k] = (
            thr, tp, fp, pos_total - tp, neg_total - fp,
            round(tp / pos_total, 6), round(fp / neg_total, 6),
            round(tp / (tp + fp), 6) if tp + fp else None,
        )
    assert got == exp, f"\ngot: {got}\nexp: {exp}"
    tps = [got[k][1] for k in range(NB_ROC_BINS)]
    fps = [got[k][2] for k in range(NB_ROC_BINS)]
    assert tps == sorted(tps, reverse=True) and fps == sorted(fps, reverse=True)
    assert got[0][5] == 1.0 and got[0][6] == 1.0
    assert any(t == 1.0 and f == 0.0 for _th, _tp, _fp, _fn, _tn, t, f, _p in got.values()), (
        "separable corpus must have a perfect operating point"
    )
