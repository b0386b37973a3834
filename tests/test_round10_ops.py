"""Invariant tests for the r10 operators: bm25_topk_retrieval,
bm25_vs_ann_overlap.

Oracle parity is covered by the driver gate and the documents edge
matrix; these pin SEMANTIC guarantees against an INDEPENDENT pure-Python
BM25 (Robertson idf, k1=1.2, b=0.75) on constructed corpora: exact
score/rank agreement, self-match exclusion, hapax query terms (df=1)
skipped, and the rarest-df query-term selection."""

from __future__ import annotations

import pytest

import math
import os
import tempfile

from e_commerce_click_stream_spark.plans.registry import all_specs
from e_commerce_click_stream_spark.plans.text import (
    _BM25_SCALE,
    BM25_B,
    BM25_K1,
    BM25_QUERY_TERMS,
    BM25_TOP_K,
)

SPECS = all_specs()


def _write_docs(spark, rows):
    out = tempfile.mkdtemp(prefix="r10_corpus_")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t) if t else 0) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def _ref_bm25(rows, n_queries=10):
    """Independent BM25: returns {(query_id, doc_id): (n_terms, score_micro)}."""
    toks = {
        i: [t for t in t_.strip().split() if t]
        for i, t_ in rows
        if t_ is not None and t_.strip()
    }
    toks = {i: ts for i, ts in toks.items() if ts}
    tf = {
        (i, t): ts.count(t) for i, ts in toks.items() for t in set(ts)
    }
    df = {}
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1
    n_docs = len(toks)
    total_len = sum(len(ts) for ts in toks.values())
    out = {}
    for q in sorted(toks):
        if q >= n_queries:
            continue
        cand_terms = sorted(
            (t for t in set(toks[q]) if df[t] >= 2), key=lambda t: (df[t], t)
        )[:BM25_QUERY_TERMS]
        for d, ts in toks.items():
            if d == q:
                continue
            score, n_terms = 0, 0
            for t in cand_terms:
                if (d, t) not in tf:
                    continue
                n_terms += 1
                idf = math.log(1 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                dl = len(ts)
                w = (
                    idf
                    * (tf[(d, t)] * (BM25_K1 + 1.0))
                    / (
                        tf[(d, t)]
                        + BM25_K1
                        * ((1.0 - BM25_B) + BM25_B * (dl * n_docs / total_len))
                    )
                )
                score += math.floor(w * _BM25_SCALE + 0.5)
            if n_terms:
                out[(q, d)] = (n_terms, score)
    return out


def test_bm25_matches_independent_reference(spark):
    rows = [
        (0, "apple banana cherry apple"),          # query doc
        (1, "apple apple apple orange"),           # tf-heavy on 'apple'
        (2, "banana cherry banana plum"),
        (3, "cherry plum grape"),
        (4, "zzz yyy xxx"),                        # shares nothing
        (11, "apple banana"),                      # short doc, high score
        (12, "orange grape plum orange grape plum orange"),
    ]
    sf = _write_docs(spark, rows)
    expected = _ref_bm25(rows)
    got = {
        (r["query_id"], r["doc_id"]): (r["n_terms"], r["score_micro"], r["rank"])
        for r in SPECS["bm25_topk_retrieval"].builder(spark, sf).collect()
    }
    assert {k for k in got} == set(expected)  # top-k > candidates here
    for k, (n_terms, score) in expected.items():
        assert got[k][0] == n_terms, k
        assert got[k][1] == score, k
    # rank ordering: score desc, doc_id asc within each query
    by_q = {}
    for (q, d), (_, s, r) in got.items():
        by_q.setdefault(q, []).append((r, s, d))
    for q, lst in by_q.items():
        lst.sort()
        assert [r for r, _, _ in lst] == list(range(1, len(lst) + 1))
        # rank order == (score desc, doc_id asc)
        assert lst == sorted(lst, key=lambda x: (-x[1], x[2]))


def test_bm25_excludes_self_and_hapax_terms(spark):
    # 'unique0' appears ONLY in the query doc (df=1, a true hapax) -> the
    # query-term selection must skip it; doc 30 shares nothing with doc 0
    # -> never retrieved by query 0
    rows = [
        (0, "shared unique0 shared"),
        (30, "nothing matching here"),
        (31, "shared thing"),
        (32, "shared words"),
    ]
    sf = _write_docs(spark, rows)
    got = [
        r
        for r in SPECS["bm25_topk_retrieval"].builder(spark, sf).collect()
        if r["query_id"] == 0
    ]
    retrieved = {r["doc_id"] for r in got}
    assert 0 not in retrieved           # self excluded
    assert 30 not in retrieved          # shares nothing
    assert retrieved == {31, 32}
    # the only eligible query term is 'shared' (df=3); unique0 is hapax
    for r in got:
        assert r["n_terms"] == 1


def test_bm25_query_terms_capped_at_rarest(spark):
    # query doc has BM25_QUERY_TERMS+3 distinct eligible terms; the cap
    # keeps the M rarest by df — the common term ('common', df=12) must
    # be the one dropped
    filler_terms = [f"t{i}" for i in range(BM25_QUERY_TERMS + 2)]
    qtext = "common " + " ".join(filler_terms)
    rows = [(0, qtext)]
    # each filler term appears in exactly one other doc (df=2);
    # 'common' appears everywhere (df=12)
    rows += [(10 + i, f"{t} common pad{i}") for i, t in enumerate(filler_terms)]
    rows += [(50, "common alone")]
    sf = _write_docs(spark, rows)
    got = [
        r
        for r in SPECS["bm25_topk_retrieval"].builder(spark, sf).collect()
        if r["query_id"] == 0
    ]
    # doc 50 matches ONLY 'common', which the rarest-M cap must have
    # dropped (10 eligible terms, cap 8, 'common' has the highest df)
    assert 50 not in {r["doc_id"] for r in got}
    assert len(got) <= BM25_TOP_K


def test_bm25_ann_overlap_row_per_query(spark):
    rows = SPECS["bm25_vs_ann_overlap"].builder(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r["n_overlap"] <= min(r["n_bm25"], r["n_ann"])
        denom = r["n_bm25"] + r["n_ann"] - r["n_overlap"]
        assert denom > 0
        assert abs(r["jaccard"] - round(r["n_overlap"] / denom, 6)) < 1e-9


# ---------------------------------------------------------------------- #
# unigram_lm_train — independent pure-Python reference (same fixed
# recurrence: substring seeds, singles + top-V multi vocab, integer
# micro-costs, per-position (cost, seg) Viterbi argmin, weighted M-step)

from e_commerce_click_stream_spark.plans.text import (  # noqa: E402
    _UNI_SCALE,
    UNI_MAX_PIECE,
    UNI_MAX_WORD,
    UNI_VOCAB,
)


def _ref_unigram_model(texts):
    """Shared reference recurrence (seed counts, vocab, costs, per-word
    Viterbi) — ONE copy for the trainer and segmenter tests, so a retune
    can never silently test two different recurrences. Returns
    (words, seed, vocab, cost, wseg) with wseg[w] = (segmentation string,
    total micro-cost)."""
    words = {}
    for t in texts:
        if t is None:
            continue
        for w in t.strip().lower().split():
            if 1 <= len(w) <= UNI_MAX_WORD:
                words[w] = words.get(w, 0) + 1
    seed = {}
    for w, f in words.items():
        for i in range(len(w)):
            for k in range(1, min(UNI_MAX_PIECE, len(w) - i) + 1):
                p = w[i : i + k]
                seed[p] = seed.get(p, 0) + f
    singles = {p for p in seed if len(p) == 1}
    multi = sorted(
        (p for p in seed if len(p) > 1), key=lambda p: (-seed[p], p)
    )[:UNI_VOCAB]
    vocab = {p: seed[p] for p in singles | set(multi)}
    total = sum(vocab.values())
    cost = {
        p: math.floor(-math.log(f / total) * _UNI_SCALE + 0.5)
        for p, f in vocab.items()
    }
    wseg = {}
    for w in words:
        dp = [None] * (len(w) + 1)
        dp[0] = (0, "")
        for i in range(1, len(w) + 1):
            cands = []
            for k in range(1, min(UNI_MAX_PIECE, i) + 1):
                p = w[i - k : i]
                if p in vocab and dp[i - k] is not None:
                    c, s = dp[i - k]
                    cands.append((c + cost[p], p if s == "" else s + " " + p))
            dp[i] = min(cands) if cands else None
        c, s = dp[len(w)]
        wseg[w] = (s, c)
    return words, seed, vocab, cost, wseg


def _ref_unigram(texts):
    words, seed, vocab, cost, wseg = _ref_unigram_model(texts)
    used = {}
    for w, f in words.items():
        for p in wseg[w][0].split(" "):
            used[p] = used.get(p, 0) + f
    tot_used = sum(used.values())
    return {
        p: (seed[p], cost[p], used.get(p, 0), used.get(p, 0) / tot_used)
        for p in vocab
    }


def _check_unigram(spark, texts):
    rows = [(i + 1, t) for i, t in enumerate(texts)]
    sf = _write_docs(spark, rows)
    expected = _ref_unigram(texts)
    got = {
        r["piece"]: r
        for r in SPECS["unigram_lm_train"].builder(spark, sf).collect()
    }
    assert set(got) == set(expected)
    for p, (seed_freq, cost, used, prob) in expected.items():
        r = got[p]
        assert r["seed_freq"] == seed_freq, p
        assert r["seed_cost_micro"] == cost, p
        assert r["used_count"] == used, p
        assert abs(r["new_prob"] - prob) < 1e-6, p
        assert r["kept"] == (len(p) == 1 or used > 0), p


def test_unigram_matches_reference_on_mixed_corpus(spark):
    _check_unigram(
        spark,
        [
            "the cat sat on the mat",
            "concatenation the the cat",
            "aaaa aa a aaa",          # tandem runs: overlapping piece choices
            "xyzzy plugh xyzzy",
            "supercalifragilistic",   # > UNI_MAX_WORD chars -> excluded
            "中文 字 中文字",            # multibyte pieces
        ],
    )


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_uni_corpus = st.lists(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    ).map(" ".join),
    min_size=1,
    max_size=6,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_uni_corpus)
@pytest.mark.slow  # randomized-reference sweep: opt out with -m "not slow"
def test_unigram_matches_reference_on_random_corpora(spark, texts):
    _check_unigram(spark, texts)


def test_unigram_segment_matches_reference(spark):
    texts = [
        "the cat sat on the mat",
        "aaaa aa a aaa",
        "supercalifragilistic short",   # first word is OOV (> UNI_MAX_WORD)
        "中文 字 中文字",
    ]
    rows = [(i + 1, t) for i, t in enumerate(texts)]
    sf = _write_docs(spark, rows)
    _, _, _, _, segs = _ref_unigram_model(texts)
    wseg = {w: (len(s.split(" ")), c) for w, (s, c) in segs.items()}
    expected = {}
    for doc_id, t in rows:
        toks = [w for w in t.strip().lower().split() if w]
        tr = [w for w in toks if len(w) <= UNI_MAX_WORD]
        oov = [w for w in toks if len(w) > UNI_MAX_WORD]
        n_pieces = sum(wseg[w][0] for w in tr)
        expected[doc_id] = (
            len(tr), len(oov), n_pieces, sum(wseg[w][1] for w in tr),
            round(n_pieces / len(tr), 6) if tr else None,
        )
    got = {
        r["doc_id"]: (
            r["n_words"], r["oov_words"], r["n_pieces"],
            r["total_cost_micro"], r["pieces_per_word"],
        )
        for r in SPECS["unigram_lm_segment_docs"].builder(spark, sf).collect()
    }
    assert set(got) == set(expected)
    for d in expected:
        assert got[d][:4] == expected[d][:4], d
        if expected[d][4] is None:
            assert got[d][4] is None
        else:
            assert abs(got[d][4] - expected[d][4]) < 1e-6


def test_rrf_fusion_consistent_with_inputs(spark):
    from e_commerce_click_stream_spark.plans.text import RRF_K

    sf = "/root/testdata/sf0.001"
    bm = {
        (r["query_id"], r["doc_id"]): r["rank"]
        for r in SPECS["bm25_topk_retrieval"].builder(spark, sf).collect()
    }
    ann = {
        (r["query_id"], r["neighbor_id"]): r["rank"]
        for r in SPECS["ann_cosine_topk"].builder(spark, sf).collect()
    }
    fused = SPECS["hybrid_rrf_fusion"].builder(spark, sf).collect()
    assert {(r["query_id"], r["doc_id"]) for r in fused} == set(bm) | set(ann)
    by_q = {}
    for r in fused:
        key = (r["query_id"], r["doc_id"])
        assert r["bm25_rank"] == bm.get(key)
        assert r["ann_rank"] == ann.get(key)
        exp = (1.0 / (RRF_K + bm[key]) if key in bm else 0.0) + (
            1.0 / (RRF_K + ann[key]) if key in ann else 0.0
        )
        assert abs(r["rrf_score"] - round(exp, 6)) < 1e-9
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["fused_rank"])
        assert [r["fused_rank"] for r in rows] == list(range(1, len(rows) + 1))
        # fused order == (rrf_score desc, doc_id asc)
        for a, b in zip(rows, rows[1:]):
            assert a["rrf_score"] > b["rrf_score"] or (
                a["rrf_score"] == b["rrf_score"] and a["doc_id"] < b["doc_id"]
            )


_bm25_corpus = st.lists(
    st.lists(
        # tiny alphabet forces df collisions, rarest-term tie-breaks, and
        # tf-heavy repeats — the shapes hand fixtures miss
        st.text(alphabet="abc", min_size=1, max_size=4),
        min_size=1,
        max_size=8,
    ).map(" ".join),
    min_size=2,
    max_size=8,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_bm25_corpus)
@pytest.mark.slow  # randomized-reference sweep: opt out with -m "not slow"
def test_bm25_matches_reference_on_random_corpora(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    sf = _write_docs(spark, rows)
    expected = _ref_bm25(rows)
    got = {
        (r["query_id"], r["doc_id"]): (r["n_terms"], r["score_micro"])
        for r in SPECS["bm25_topk_retrieval"].builder(spark, sf).collect()
    }
    # builder returns top-BM25_TOP_K per query; the reference is uncapped —
    # every returned pair must match the reference exactly, and no pair may
    # be missing unless the query exceeded the cap
    for k, v in got.items():
        assert expected[k] == v, k
    by_q = {}
    for (q, d) in expected:
        by_q.setdefault(q, []).append(d)
    for q, docs in by_q.items():
        returned = [d for (qq, d) in got if qq == q]
        assert len(returned) == min(len(docs), BM25_TOP_K)
