"""Invariant tests for the r9c operators: doc_gopher_quality_flags,
corpus_token_budget_plan, multimodal_phash_neardup.

Oracle parity is covered by the driver gate and the documents edge
matrix; these pin SEMANTIC guarantees on corpora built to exercise each:
per-rule Gopher flag outcomes on constructed rule-violating docs, the
planned+unmet==target budget identity, and the pigeonhole COMPLETENESS
of the 2x8-bit phash banding against a brute-force all-pairs sweep over
the same hashes (banding may never lose an in-radius pair)."""

from __future__ import annotations

import pytest

import os
import tempfile

from e_commerce_click_stream_spark.plans.multimodal import (
    PHASH_BUCKET_CAP,
    PHASH_HAMMING_T,
)
from e_commerce_click_stream_spark.plans.registry import all_specs
from e_commerce_click_stream_spark.plans.text import (
    BUDGET_TOKEN_MULT,
    MAX_REPEAT_EPOCHS,
)

SPECS = all_specs()


def _write_docs(spark, rows):
    out = tempfile.mkdtemp(prefix="r9c_corpus_")
    spark.createDataFrame(
        [(i, t, lang, src, len(t) if t else 0) for i, t, lang, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


# ---------------------------------------------------------------------- #
# doc_gopher_quality_flags — each rule violated in isolation


_GOOD_TEXT = (
    "the quick brown fox jumps over the lazy dog and then it must have "
    "walked on with all of that calm because nothing about the field was "
    "going to change before dusk while birds kept moving south over the "
    "river and the warm light held steady along every quiet fence line"
)  # 51 words, all alpha, plenty of required stopwords, no symbols


def test_gopher_rules_flag_independently(spark):
    rows = [
        (1, _GOOD_TEXT, "en", "s"),
        # bullet wall: every line starts with a bullet
        (2, "- a b c\n- d e f\n* g h i", "en", "s"),
        # ellipsis wall: both ASCII '...' and U+2026 endings count
        (3, "first...\nsecond…\nthird...", "en", "s"),
        # symbol soup: '#' to-word ratio far above 0.1
        (4, "# # # # word", "en", "s"),
        # numerals only: alpha-word fraction 0
        (5, "11 22 33 44 55", "en", "s"),
        # one required stopword only -> stopword_ok False
        (6, "the spark engine runs quickly tonight", "en", "s"),
    ]
    sf = _write_docs(spark, rows)
    out = {
        r["doc_id"]: r
        for r in SPECS["doc_gopher_quality_flags"].builder(spark, sf).collect()
    }
    good = out[1]
    assert good["passes_gopher"] is True
    assert good["n_words"] == 51 and good["words_in_range"] is True
    assert good["req_stopword_hits"] >= 2

    assert out[2]["bullet_line_frac"] == 1.0 and out[2]["bullet_ok"] is False
    assert out[3]["ellipsis_line_frac"] == 1.0 and out[3]["ellipsis_ok"] is False
    assert out[4]["symbol_word_ratio"] == 0.8 and out[4]["symbol_ok"] is False
    assert out[5]["alpha_word_frac"] == 0.0 and out[5]["alpha_ok"] is False
    assert out[6]["req_stopword_hits"] == 1 and out[6]["stopword_ok"] is False
    # every constructed violator fails the conjunction
    for i in (2, 3, 4, 5, 6):
        assert out[i]["passes_gopher"] is False


def test_gopher_null_text_propagates_null_gate(spark):
    sf = _write_docs(spark, [(1, None, "en", "s"), (2, _GOOD_TEXT, "en", "s")])
    out = {
        r["doc_id"]: r
        for r in SPECS["doc_gopher_quality_flags"].builder(spark, sf).collect()
    }
    assert out[1]["n_words"] is None
    assert out[1]["passes_gopher"] is None
    assert out[2]["passes_gopher"] is True


def test_gopher_ellipsis_requires_line_end(spark):
    # '...' mid-line is a symbol hit but NOT an ellipsis-ended line
    sf = _write_docs(spark, [(1, "wait... no more\nplain tail", "en", "s")])
    row = SPECS["doc_gopher_quality_flags"].builder(spark, sf).collect()[0]
    assert row["ellipsis_line_frac"] == 0.0
    assert row["symbol_word_ratio"] > 0.0


# ---------------------------------------------------------------------- #
# corpus_token_budget_plan — budget identities


def test_token_budget_identities(spark):
    rows = [
        (1, "a b c d e", "en", "big"),
        (2, "f g h i j k l m n o p q", "en", "big"),
        (3, "tiny", "en", "small"),
        (4, None, "en", "nulls"),  # all-NULL source -> 0 tokens, full deficit
    ]
    sf = _write_docs(spark, rows)
    out = {r["source"]: r for r in SPECS["corpus_token_budget_plan"].builder(spark, sf).collect()}
    total = sum(r["tokens_available"] for r in out.values())
    target = int(total * BUDGET_TOKEN_MULT / len(out))
    for r in out.values():
        assert r["target_tokens"] == target
        # planned + unmet always reassembles the target exactly
        assert r["planned_tokens"] + r["unmet_tokens"] == target
        assert r["planned_tokens"] <= r["tokens_available"] * MAX_REPEAT_EPOCHS
        assert r["fully_satisfiable"] == (r["unmet_tokens"] == 0)
    assert out["nulls"]["tokens_available"] == 0
    assert out["nulls"]["repeat_factor"] is None
    assert out["nulls"]["unmet_tokens"] == target
    assert out["big"]["tokens_available"] == 17


# ---------------------------------------------------------------------- #
# multimodal_phash_neardup — banding completeness vs brute force


def _phash(text: str) -> int:
    cps = [ord(c) for c in text]
    k = (len(cps) + 15) // 16
    total = sum(cps)
    h = 0
    for i in range(16):
        if 16 * sum(cps[i * k : i * k + k]) > total:
            h |= 1 << i
    return h


def test_phash_banding_is_pigeonhole_complete(spark):
    # PLANTED near-identical docs (byte-identical, and single-char edits
    # that keep most blocks' means unchanged) among unrelated filler —
    # random-only corpora rarely produce in-radius pairs at this size
    base = "the cat sat on the mat and watched the rain fall all day long"
    rows = [
        (1, base, "en", "s"),
        (2, base, "en", "s"),  # exact dup -> hamming 0
        (3, base + " x", "en", "s"),
        (4, "completely different text about spark shuffle partitions", "en", "s"),
        (5, "zzz yyy xxx www vvv uuu", "en", "s"),
        (6, base.replace("cat", "car"), "en", "s"),
    ]
    sf = _write_docs(spark, rows)
    hashes = {i: _phash(t) for i, t, _, _ in rows}
    expected = {
        (a, b)
        for a in hashes
        for b in hashes
        if a < b and bin(hashes[a] ^ hashes[b]).count("1") <= PHASH_HAMMING_T
    }
    assert (1, 2) in expected  # the planted exact dup is in radius
    got_rows = SPECS["multimodal_phash_neardup"].builder(spark, sf).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in got_rows}
    assert got == expected
    for r in got_rows:
        assert r["phash_a"] == hashes[r["doc_a"]]
        assert r["phash_b"] == hashes[r["doc_b"]]
        assert r["hamming"] == bin(hashes[r["doc_a"]] ^ hashes[r["doc_b"]]).count("1")


def test_phash_hot_bucket_cap_quarantines_not_everything(spark):
    # A wall of byte-identical docs makes BOTH of its band buckets exceed
    # PHASH_BUCKET_CAP, so the wall contributes ZERO pairs (quarantined,
    # exactly the dedup_simhash_hamming recall tradeoff); a cool
    # planted dup pair with a different hash still comes through.
    wall_text = "hot bucket wall member text that hashes identically"
    cool_text = "an entirely different cool document about rivers at dusk"
    rows = [(i, wall_text, "en", "s") for i in range(1, PHASH_BUCKET_CAP + 2)]
    rows += [(1001, cool_text, "en", "s"), (1002, cool_text, "en", "s")]
    sf = _write_docs(spark, rows)
    # the wall and the cool pair must not share a band bucket, or the
    # wall's heat would quarantine the cool pair too
    wall_h, cool_h = _phash(wall_text), _phash(cool_text)
    assert (wall_h & 0xFF) != (cool_h & 0xFF)
    assert (wall_h >> 8) != (cool_h >> 8)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in SPECS["multimodal_phash_neardup"].builder(spark, sf).collect()
    }
    assert got == {(1001, 1002)}


def test_phash_empty_and_null_payloads_hash_zero(spark):
    sf = _write_docs(spark, [(1, None, "en", "s"), (2, "", "en", "s"), (3, "words", "en", "s")])
    from e_commerce_click_stream_spark.io import table
    from e_commerce_click_stream_spark.operators.multimodal import (
        content_phash,
        with_binary_payload,
    )

    out = {
        r["doc_id"]: r["phash"]
        for r in content_phash(with_binary_payload(table(spark, sf, "documents"))).collect()
    }
    assert out[1] == 0 and out[2] == 0  # NULL and empty payloads agree
    assert out[3] == _phash("words")


# ---------------------------------------------------------------------- #
# bpe_train_merges — published BPE merge semantics, hand-checkable


def _bpe_reference(word_counts, iters):
    """Tiny reference BPE trainer (leftmost non-overlapping merges)."""
    vocab = {tuple(w): n for w, n in word_counts.items()}
    out = []
    for t in range(1, iters + 1):
        counts = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        (lhs, rhs), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((t, lhs, rhs, lhs + rhs, cnt))
        new_vocab = {}
        for syms, n in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    merged.append(lhs + rhs)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            new_vocab[tuple(merged)] = new_vocab.get(tuple(merged), 0) + n
        vocab = new_vocab
    return out


def test_bpe_overlap_rule_and_exhaustion(spark):
    # 'aaaa' x2: iter1 merges (a,a) NON-overlapping -> (aa, aa); iter2
    # merges (aa, aa) -> the whole word; iter3+ find no pairs and emit
    # nothing (exhaustion, not an error)
    sf = _write_docs(spark, [(1, "aaaa aaaa", "en", "s")])
    rows = sorted(
        SPECS["bpe_train_merges"].builder(spark, sf).collect(),
        key=lambda r: r["iter"],
    )
    assert [(r["iter"], r["lhs"], r["rhs"], r["merged"], r["pair_count"]) for r in rows] == [
        (1, "a", "a", "aa", 6),  # 3 overlapping pairs per word x 2 words
        (2, "aa", "aa", "aaaa", 2),
    ]


def test_bpe_matches_reference_on_mixed_corpus(spark):
    rows = [
        (1, "low lower lowest low low", "en", "s"),
        (2, "new newer newest new", "en", "s"),
        (3, "Mixed CASE lower", "en", "s"),  # lowercased before training
        (4, "a b c", "en", "s"),  # single-char words excluded (len < 2)
        (5, "bad|pipe word", "en", "s"),  # '|' words excluded from training
    ]
    sf = _write_docs(spark, rows)
    wc = {}
    for _, t, _, _ in rows:
        for w in t.lower().split():
            if len(w) >= 2 and "|" not in w:
                wc[w] = wc.get(w, 0) + 1
    expected = _bpe_reference(wc, 4)
    got = sorted(
        (
            (r["iter"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
            for r in SPECS["bpe_train_merges"].builder(spark, sf).collect()
        ),
    )
    assert got == sorted(expected)


def test_bpe_segmentation_matches_reference_apply(spark):
    rows = [
        (1, "low lower lowest low low", "en", "s"),
        (2, "new newer newest new", "en", "s"),
    ]
    sf = _write_docs(spark, rows)
    wc = {}
    for _, t, _, _ in rows:
        for w in t.lower().split():
            if len(w) >= 2 and "|" not in w:
                wc[w] = wc.get(w, 0) + 1
    merges = [(l, r) for _, l, r, _, _ in _bpe_reference(wc, 4)]

    def apply_merges(word):
        syms = list(word)
        for lhs, rhs in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {
        r["doc_id"]: r
        for r in SPECS["bpe_segment_docs"].builder(spark, sf).collect()
    }
    for doc_id, text, _, _ in rows:
        words = [w for w in text.lower().split() if len(w) >= 2 and "|" not in w]
        chars = sum(len(w) for w in words)
        syms = sum(len(apply_merges(w)) for w in words)
        r = got[doc_id]
        assert r["n_words"] == len(words)
        assert r["chars_total"] == chars
        assert r["syms_total"] == syms
        assert r["compression_ratio"] == round(chars / syms, 6)
        assert r["syms_total"] < r["chars_total"]  # merges actually fired


# ---------------------------------------------------------------------- #
# embedding_top_component — third-implementation check (numpy) + math


def test_power_iteration_matches_numpy_recipe(spark):
    import numpy as np

    from e_commerce_click_stream_spark.plans.similarity import (
        POWER_ITERS,
        _vecs,
    )

    sf = "/root/testdata/sf0.001"
    X = np.array(
        [r["v"] for r in _vecs(spark, sf).select("v").collect()], dtype=np.float64
    )
    v = np.full(64, 0.125)
    lams = []
    for _ in range(POWER_ITERS):
        coef = np.round([sum(x * y for x, y in zip(row, v)) for row in X], 6)
        u = np.round(coef @ X, 6)
        nrm = float(np.sqrt(sum(y * y for y in u)))
        v = np.round(u / nrm, 6)
        lams.append(round(nrm, 6))
    lam = lams[-1]

    rows = sorted(
        SPECS["embedding_top_component"].builder(spark, sf).collect(),
        key=lambda r: r["dim"],
    )
    got = np.array([r["loading"] for r in rows])
    assert rows[0]["eigenvalue_est"] == lam
    assert np.array_equal(got, v)
    # unit direction (up to component rounding) and a positive spectrum
    assert abs(float(np.sqrt((got * got).sum())) - 1.0) < 1e-4
    assert lam > 0
    # power iteration's Rayleigh estimate grows monotonically toward the
    # top eigenvalue (the convergence RATE is fixture-dependent — the
    # synthetic embeddings have a small spectral gap — so monotone growth
    # is the robust property, not a closeness threshold)
    assert lams == sorted(lams)


# ---------------------------------------------------------------------- #
# bpe_train_merges — property test vs the reference implementation on
# RANDOM corpora over a tiny alphabet (forced pair collisions, repeated
# symbols, tandem runs — the shapes hand cases miss)

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_bpe_corpus = st.lists(
    st.lists(
        # words over {a, b, c} incl. runs like 'aaaa' (overlap rule) and
        # 1-char words (excluded by the len >= 2 training filter)
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    ).map(" ".join),
    min_size=1,
    max_size=6,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_bpe_corpus)
@pytest.mark.slow  # randomized-reference sweep: opt out with -m "not slow"
def test_bpe_trainer_matches_reference_on_random_corpora(spark, texts):
    rows = [(i + 1, t, "en", "s") for i, t in enumerate(texts)]
    sf = _write_docs(spark, rows)
    wc = {}
    for t in texts:
        for w in t.lower().split():
            if len(w) >= 2 and "|" not in w:
                wc[w] = wc.get(w, 0) + 1
    expected = _bpe_reference(wc, 4)
    got = sorted(
        (r["iter"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in SPECS["bpe_train_merges"].builder(spark, sf).collect()
    )
    assert got == sorted(expected)
