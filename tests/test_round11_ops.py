"""Invariant tests for the r11 operators, led by
doc_line_boilerplate_scrub.

The sf fixtures are single-line documents (no newlines), so the driver
gate's green row proves the pipeline end-to-end but never exercises
multi-line semantics — the same situation test_vacuous_proofs covers
for dedup_exact. These tests construct corpora where the interesting
rows EXIST: cross-doc boilerplate lines (dropped), intra-doc repeats
(kept — the threshold counts DISTINCT docs), whitespace-only and blank
lines, multibyte lines whose İ/Σ variants must match through the folded
normalization key, trailing newlines, and single-line docs. Builder and
oracle are compared with the driver's multiset semantics, and the
rewrite is additionally checked against hand-computed expectations."""

from __future__ import annotations

import pytest

import hashlib
import os
import tempfile
from collections import Counter

import duckdb

from e_commerce_click_stream_spark.plans.registry import all_specs

SPECS = all_specs()


def _write_docs(spark, rows):
    out = tempfile.mkdtemp(prefix="r11_corpus_")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t) if t else 0) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def _oracle_rows(sql, docs_path):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{docs_path}/*.parquet'"
    )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


FOOTER = "Subscribe to our newsletter"

SCRUB_CORPUS = [
    # boilerplate footer in 3 docs -> dropped everywhere
    (1, f"unique alpha content\n{FOOTER}\nmore alpha"),
    (2, f"different beta text\n{FOOTER}"),
    (3, f"gamma closing\n{FOOTER}\ngamma end\n"),  # + trailing newline
    # intra-doc repetition only -> df counts DISTINCT docs, so KEPT
    (4, "solo repeated line\nsolo repeated line\nunique tail"),
    # whitespace-only and empty lines -> blank_lines, never keyed
    (5, "kept one\n   \n\t\nkept two"),
    # folded-key match: 'İstanbul ΣΟΦΟΣ footer' and 'istanbul σοφοσ footer'
    # normalize identically -> both dropped as cross-doc boilerplate
    (6, "doc six body\nİstanbul ΣΟΦΟΣ footer"),
    (7, "doc seven body\nistanbul   σοφοσ footer"),
    # single-line docs: one unique (kept), one pair (both dropped)
    (8, "a single unique line"),
    (9, "twin single line"),
    (10, "twin  single  line"),  # whitespace-collapse matches doc 9
    (11, ""),  # empty text -> one blank line, empty rewrite
]


def test_line_scrub_matches_oracle_on_multiline_corpus(spark):
    out = _write_docs(spark, SCRUB_CORPUS)
    spec = SPECS["doc_line_boilerplate_scrub"]
    sdf = spec.builder(spark, out)
    s_cols = sorted(sdf.columns)
    s_rows = Counter(tuple(r[c] for c in s_cols) for r in sdf.collect())
    o_col_names, o_raw = _oracle_rows(spec.oracle, os.path.join(out, "documents.parquet"))
    idx = [o_col_names.index(c) for c in sorted(o_col_names)]
    o_rows = Counter(tuple(r[i] for i in idx) for r in o_raw)
    assert s_cols == sorted(o_col_names)
    assert s_rows == o_rows


def test_line_scrub_semantics_hand_computed(spark):
    out = _write_docs(spark, SCRUB_CORPUS)
    got = {
        r["doc_id"]: r.asDict()
        for r in SPECS["doc_line_boilerplate_scrub"].builder(spark, out).collect()
    }

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    # doc 1: footer dropped, two content lines kept
    assert got[1]["dropped_lines"] == 1
    assert got[1]["cleaned_fp"] == md5("unique alpha content\nmore alpha")
    # doc 3: trailing newline -> 4 split lines, 1 blank, footer dropped
    assert got[3]["n_lines"] == 4
    assert got[3]["blank_lines"] == 1
    assert got[3]["dropped_lines"] == 1
    assert got[3]["cleaned_fp"] == md5("gamma closing\ngamma end")
    # doc 4: intra-doc repeat is NOT boilerplate (distinct-doc threshold)
    assert got[4]["dropped_lines"] == 0
    assert got[4]["kept_lines"] == 3
    # doc 5: whitespace-only lines are blanks, scrubbed from the rewrite
    assert got[5]["blank_lines"] == 2
    assert got[5]["cleaned_fp"] == md5("kept one\nkept two")
    # docs 6/7: İ/Σ variants matched through the folded key -> dropped;
    # the REWRITE keeps original text of surviving lines
    assert got[6]["dropped_lines"] == 1
    assert got[7]["dropped_lines"] == 1
    assert got[6]["cleaned_fp"] == md5("doc six body")
    # docs 9/10: whitespace-collapse key match across docs -> both empty
    assert got[9]["kept_lines"] == 0
    assert got[10]["kept_lines"] == 0
    assert got[9]["cleaned_fp"] == md5("")
    # doc 8 survives untouched; doc 11 is one blank line, empty rewrite
    assert got[8]["cleaned_fp"] == md5("a single unique line")
    assert got[11]["n_lines"] == 1
    assert got[11]["blank_lines"] == 1
    assert got[11]["cleaned_fp"] == md5("")


# ---------------------------------------------------------------------------
# unigram-LM second EM round

import math  # noqa: E402

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from e_commerce_click_stream_spark.plans.text import _UNI_SCALE, UNI_MAX_PIECE  # noqa: E402
from tests.test_round10_ops import _ref_unigram_model  # noqa: E402


def _ref_viterbi(word, vocab, cost):
    """Reference forward DP under an arbitrary (vocab, cost) — the same
    per-position (cost, seg) argmin as _ref_unigram_model's inline DP."""
    dp = [None] * (len(word) + 1)
    dp[0] = (0, "")
    for i in range(1, len(word) + 1):
        cands = []
        for k in range(1, min(UNI_MAX_PIECE, i) + 1):
            p = word[i - k : i]
            if p in vocab and dp[i - k] is not None:
                c, s = dp[i - k]
                cands.append((c + cost[p], p if s == "" else s + " " + p))
        dp[i] = min(cands) if cands else None
    return dp[len(word)]


def _ref_unigram_round2(texts):
    """Round-2 reference: vocab2 = round-1 USED pieces, costs from usage,
    second Viterbi, second usage. Returns
    {piece: (r1_used, cost2, r2_used, r2_prob)}."""
    words, _seed, _vocab, _cost, wseg = _ref_unigram_model(texts)
    used = {}
    for w, f in words.items():
        for p in wseg[w][0].split(" "):
            used[p] = used.get(p, 0) + f
    tot = sum(used.values())
    cost2 = {
        p: math.floor(-math.log(f / tot) * _UNI_SCALE + 0.5)
        for p, f in used.items()
    }
    used2 = {}
    for w, f in words.items():
        _c, seg = _ref_viterbi(w, used, cost2)
        for p in seg.split(" "):
            used2[p] = used2.get(p, 0) + f
    tot2 = sum(used2.values())
    return {
        p: (used[p], cost2[p], used2.get(p, 0), used2.get(p, 0) / tot2)
        for p in used
    }


def _check_unigram_round2(spark, texts):
    rows = [(i + 1, t) for i, t in enumerate(texts)]
    sf = _write_docs(spark, rows)
    expected = _ref_unigram_round2(texts)
    got = {
        r["piece"]: r
        for r in SPECS["unigram_lm_train_round2"].builder(spark, sf).collect()
    }
    assert set(got) == set(expected)
    for p, (r1_used, cost2, r2_used, r2_prob) in expected.items():
        r = got[p]
        assert r["r1_used_count"] == r1_used, p
        assert r["r2_cost_micro"] == cost2, p
        assert r["r2_used_count"] == r2_used, p
        assert abs(r["r2_prob"] - r2_prob) < 1e-6, p
        assert r["kept"] == (len(p) == 1 or r2_used > 0), p


def test_unigram_round2_matches_reference_on_mixed_corpus(spark):
    _check_unigram_round2(
        spark,
        [
            "the cat sat on the mat",
            "concatenation the the cat",
            "aaaa aa a aaa",
            "xyzzy plugh xyzzy",
            "supercalifragilistic",
            "中文 字 中文字",
        ],
    )


def test_unigram_round2_vocab_is_subset_of_round1_kept(spark):
    """VERDICT r9->r11: the round-2 vocabulary must be exactly a subset of
    round 1's kept set (used pieces), and the shared r1 usage counts must
    agree between the two registered queries."""
    texts = [
        "the cat sat on the mat",
        "concatenation the the cat",
        "banana bandana cabana",
    ]
    rows = [(i + 1, t) for i, t in enumerate(texts)]
    sf = _write_docs(spark, rows)
    r1 = {r["piece"]: r for r in SPECS["unigram_lm_train"].builder(spark, sf).collect()}
    r2 = {
        r["piece"]: r
        for r in SPECS["unigram_lm_train_round2"].builder(spark, sf).collect()
    }
    kept1 = {p for p, r in r1.items() if r["kept"]}
    assert set(r2) <= kept1
    assert set(r2) == {p for p, r in r1.items() if r["used_count"] > 0}
    for p, row in r2.items():
        assert row["r1_used_count"] == r1[p]["used_count"], p


_uni2_corpus = st.lists(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    ).map(" ".join),
    min_size=1,
    max_size=6,
)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_uni2_corpus)
@pytest.mark.slow  # randomized-reference sweep: opt out with -m "not slow"
def test_unigram_round2_matches_reference_on_random_corpora(spark, texts):
    _check_unigram_round2(spark, texts)


def test_unigram_dp_cte_default_text_is_pinned():
    """_unigram_dp_ctes was parameterized in r11 so the round-2 oracle
    can unroll a second DP; its DEFAULT-argument output must reproduce
    the r10 round-1 text byte-for-byte, or the composed (and
    driver-proven) train/segment oracles silently change. The md5 was
    captured from the r10 generator immediately before the refactor. If
    this fails, you changed the generated round-1 SQL: that is an oracle
    change — re-slot unigram_lm_train / unigram_lm_segment_docs /
    unigram_lm_train_round2 in the verify window and re-pin."""
    import hashlib

    from e_commerce_click_stream_spark.plans.text import _unigram_dp_ctes

    digest = hashlib.md5(_unigram_dp_ctes().encode()).hexdigest()
    assert digest == "afb9ec6b7979b4908b9d8795a8b6fbda"
    # and the composed oracles embed exactly that text
    from e_commerce_click_stream_spark.plans.text import (
        _UNIGRAM_SEGMENT_SQL,
        _UNIGRAM_TRAIN2_SQL,
        _UNIGRAM_TRAIN_SQL,
    )

    assert _unigram_dp_ctes() in _UNIGRAM_TRAIN_SQL
    assert _unigram_dp_ctes() in _UNIGRAM_SEGMENT_SQL
    assert _unigram_dp_ctes() in _UNIGRAM_TRAIN2_SQL


# ---------------------------------------------------------------------------
# DSIR importance weights

from e_commerce_click_stream_spark.plans.text import (  # noqa: E402
    DSIR_BUCKETS,
    DSIR_TARGET_LANG,
)


import re  # noqa: E402


def _ref_tokens(text):
    """The builder's EXACT tokenization, independently: İ/Σ pre-fold,
    then lower, then a space-only trim (Spark F.trim strips 0x20 only —
    Python .strip() would also eat NBSP and diverge), then an
    ASCII-class \\s+ split (Java/RE2 \\s is ASCII; Python str.split
    would also split U+00A0 and diverge)."""
    folded = text.translate(str.maketrans("İΣ", "iσ")).lower()
    return [w for w in re.split(r"\s+", folded.strip(" "), flags=re.ASCII) if w]


def _ref_dsir(rows):
    """Independent DSIR reference: hashed-unigram bucket models with
    add-one smoothing, per-doc integer dot product. rows =
    [(doc_id, text, lang)]."""
    docs = []
    for doc_id, text, lang in rows:
        if text is None or not text.strip():
            continue
        toks = _ref_tokens(text)
        if toks:
            docs.append((doc_id, lang, toks))
    bucket = lambda w: int(hashlib.md5(w.encode()).hexdigest()[:4], 16) % DSIR_BUCKETS
    raw, tgt = {}, {}
    for _d, lang, toks in docs:
        for w in toks:
            b = bucket(w)
            raw[b] = raw.get(b, 0) + 1
            if lang == DSIR_TARGET_LANG:
                tgt[b] = tgt.get(b, 0) + 1
    R, T = sum(raw.values()), sum(tgt.values())
    lam = {
        b: math.floor(
            math.log(
                ((tgt.get(b, 0) + 1) * (R + DSIR_BUCKETS))
                / ((raw[b] + 1.0) * (T + DSIR_BUCKETS))
            )
            * 1_000_000
            + 0.5
        )
        for b in raw
    }
    perdoc = {}
    for doc_id, _lang, toks in docs:
        score = sum(lam[bucket(w)] for w in toks)
        perdoc[doc_id] = (len(toks), len({bucket(w) for w in toks}), score)
    nt_total = sum(v[0] for v in perdoc.values())
    lr_total = sum(v[2] for v in perdoc.values())
    return {
        d: (n, nb, sc, sc * nt_total > n * lr_total)
        for d, (n, nb, sc) in perdoc.items()
    }


def test_dsir_matches_reference(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the cat sat on the mat with the dog", "en"),
        (3, "der hund sitzt auf der matte heute", "de"),
        (4, "le chat est sur le tapis aujourd hui", "fr"),
        (5, "the the the repeated tokens bias buckets", "en"),
        (6, "", "en"),                       # empty -> excluded
        (7, None, "de"),                     # NULL -> excluded
        (8, "中文 文字 测试 中文", "zh"),        # multibyte buckets
        (9, "one", "en"),                    # single token
        # folded-path adversaries: the bucket key must go through the
        # İ/Σ pre-fold (Python 'İ'.lower() alone yields i+U+0307 — a
        # DIFFERENT md5 bucket than the engines' translate-then-lower)
        (10, "İstanbul ΣΟΦΟΣ kebab İzmir dolma", "en"),
        (11, "istanbul σοφοσ kebab izmir dolma", "de"),
        # NBSP stays INSIDE a token: Java/RE2 \s+ is ASCII-only, so
        # 'non\u00a0breaking' is one token in both engines and in the
        # reference's ASCII-flag split (str.split() would split it)
        (12, "non\u00a0breaking space token here", "en"),
    ]
    out = tempfile.mkdtemp(prefix="dsir_")
    spark.createDataFrame(
        [(i, t, l, "s", len(t) if t else 0) for i, t, l in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    expected = _ref_dsir(rows)
    got = {
        r["doc_id"]: r
        for r in SPECS["dsir_importance_weights"].builder(spark, out).collect()
    }
    assert set(got) == set(expected)
    for d, (n, nb, sc, above) in expected.items():
        r = got[d]
        assert r["n_tokens"] == n, d
        assert r["n_feat_buckets"] == nb, d
        assert r["logratio_micro"] == sc, d
        assert r["above_avg"] == above, d
    # the target-language docs must average higher than the rest
    en = [got[d]["avg_logratio"] for d, (_, _, _, _) in expected.items()
          if dict((i, l) for i, _, l in rows)[d] == "en"]
    rest = [got[d]["avg_logratio"] for d in expected
            if dict((i, l) for i, _, l in rows)[d] != "en"]
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_dsir_bigint_headroom(spark):
    """VERDICT r11 #7: the above_avg BIGINT cross-multiplication's width
    argument lives in a comment (plans/text.py) — Spark long*long WRAPS
    silently where DuckDB errors, so exactness rests on the products
    staying inside int64. Tripwire it on the real sf0.001 fixture: both
    cross-products must keep >= 1 bit of headroom under 2^62 (alarm at
    half the int64 range so growth trips BEFORE wrap)."""
    from tests.conftest import SF_SMOKE

    rows = SPECS["dsir_importance_weights"].builder(spark, SF_SMOKE).collect()
    assert rows
    nt_total = sum(r["n_tokens"] for r in rows)
    lr_total = sum(r["logratio_micro"] for r in rows)
    worst = max(
        max(abs(r["logratio_micro"] * nt_total), abs(r["n_tokens"] * lr_total))
        for r in rows
    )
    assert worst < 2**62, (
        f"DSIR cross-multiplication at {worst:.3e} exceeds the 2^62 alarm "
        "(int64 wrap at 9.2e18) — promote above_avg to DECIMAL(38) per the "
        "plans/text.py width note"
    )
