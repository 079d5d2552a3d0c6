"""Unit tests for text-analysis operators (normalization, n-grams,
language-ID tie-breaking, fingerprints)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.operators.text_analysis import (
    fingerprint64,
    fingerprint128,
    kgram_hash_seq,
    language_id,
    let_bound,
    ngrams,
    normalize_text,
    portable_hash60,
    top_ngrams,
    whitespace_tokens,
    winnow_from_hashes,
    word_ngram_strings,
    word_tokens,
)
from tests.edge_texts import TOKEN_EDGE_TEXTS, token_fuzz_texts


def one(spark, text):
    return spark.createDataFrame([(text,)], "text string")


def val(df, col):
    return df.select(col.alias("v")).collect()[0]["v"]


def test_normalize_collapses_and_lowers(spark):
    df = one(spark, "  Hello\t  WORLD \n x ")
    assert val(df, normalize_text(F.col("text"))) == "hello world x"


def test_ngrams_shapes(spark):
    df = one(spark, "a b c d")
    assert val(df, ngrams(F.col("text"), 1)) == ["a", "b", "c", "d"]
    assert val(df, ngrams(F.col("text"), 2)) == ["a b", "b c", "c d"]
    assert val(df, ngrams(F.col("text"), 3)) == ["a b c", "b c d"]
    # degenerate: fewer tokens than n → empty array
    short = one(spark, "only two")
    assert val(short, ngrams(F.col("text"), 3)) == []


def test_word_tokens_bpe_ish(spark):
    df = one(spark, "It's 42 degrees!")
    assert val(df, word_tokens(F.col("text"))) == [
        "it", "'", "s", "42", "degrees", "!",
    ]


def test_bpe_token_counts_hand_computed(spark):
    """Single-round byte-pair counts: base non-space chars minus one per
    non-overlapping left-to-right merge-pair hit, hand-verified; merges
    never span word boundaries; NULL/empty count 0; the left-to-right
    scan consumes greedily ('thth' = two 'th' hits, 'athe' matches 'at'
    first so 'he' no longer fits)."""
    from ehr_data_pipeline_spark.operators.text_analysis import bpe_token_counts

    def count(text):
        df = spark.createDataFrame([(text,)], "text string")
        return val(df, bpe_token_counts(F.col("text")))

    # 'the' (3 chars): 'th' matches at 0, consumes to 2; 'he' can't
    # re-match the consumed 'h' -> 1 merge -> 2 tokens
    assert count("the") == 2
    assert count("thth") == 4 - 2
    # 'athe': 'at' at 0 consumes a,t -> 'he' at 2 also matches -> 2 merges
    assert count("athe") == 4 - 2
    # word boundary: 't h' has no pair (space between)
    assert count("t h") == 2
    # no merges: every pair misses the table
    assert count("xyz") == 3
    # normalization first: case and whitespace collapse
    assert count("  THE   the ") == 4
    assert count("") == 0
    assert count(None) == 0
    # custom merge table
    assert count("zz") == 2
    df = spark.createDataFrame([("zz",)], "text string")
    assert val(df, bpe_token_counts(F.col("text"), ("zz",))) == 1


def test_language_id_priority_and_und(spark):
    assert val(one(spark, "the cat and the hat"), language_id(F.col("text"))) == "en"
    assert val(one(spark, "der hund ist nicht da"), language_id(F.col("text"))) == "de"
    # 'la' hits french; 'es'-only words hit spanish; tie goes to the
    # earlier-priority language
    assert val(one(spark, "zzz qqq"), language_id(F.col("text"))) == "und"
    # en and de tie at 1 hit each → en wins (priority order)
    assert val(one(spark, "the und"), language_id(F.col("text"))) == "en"


def test_fingerprints_invariant_under_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("hello world",), ("different",)], "text string"
    )
    fps = [r["fp"] for r in df.select(fingerprint128(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]
    fps64 = [r["fp"] for r in df.select(fingerprint64(F.col("text")).alias("fp")).collect()]
    assert fps64[0] == fps64[1] != fps64[2]
    assert isinstance(fps64[0], int)


def test_top_ngrams_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [("b a",), ("a b",), ("c d",)], "text string"
    )
    rows = top_ngrams(df, k=10).collect()
    # all three bigrams occur once; tie broken by ngram string ascending
    assert [(r["ngram"], r["n_occurrences"]) for r in rows] == [
        ("a b", 1), ("b a", 1), ("c d", 1),
    ]


def test_with_text_stats_appends_stat_columns(spark):
    from ehr_data_pipeline_spark.operators.text_analysis import with_text_stats

    df = spark.createDataFrame([(1, "Hello world 42",)], ["doc_id", "text"])
    out = with_text_stats(df)
    row = out.collect()[0]
    assert row["doc_id"] == 1  # original columns preserved
    added = set(out.columns) - {"doc_id", "text"}
    assert {"n_chars", "n_tokens"} <= added
    assert row["n_tokens"] == 3


def test_winnow_fingerprints_detect_shared_substring(spark):
    # winnowing guarantee: any shared substring of length >= k+w-1 chars
    # (here 8+4-1=11) produces at least one shared fingerprint
    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB"),
            (2, "CCCC " + shared + " DDDD"),
            (3, "completely unrelated content with zero overlap at all"),
        ],
        ["doc_id", "text"],
    )
    from ehr_data_pipeline_spark.operators.text_analysis import (
        winnow_fingerprints,
        winnow_pairs,
    )

    fps = {r["doc_id"]: set(r["fps"]) for r in
           winnow_fingerprints(df, "doc_id", "text").collect()}
    assert fps[1] & fps[2], "docs sharing a long substring share a fingerprint"
    # doc 3 has no 8-char substring in common with doc 1 → disjoint prints
    assert not fps[1] & fps[3]
    # identical text => identical fingerprint sets
    df2 = spark.createDataFrame([(1, "same text here"), (2, "same text here")],
                                ["doc_id", "text"])
    fp2 = [r["fps"] for r in winnow_fingerprints(df2, "doc_id", "text").collect()]
    assert fp2[0] == fp2[1]

    pairs = winnow_pairs(df, min_shared=2).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]
    p = pairs[0]
    assert p["n_shared"] >= 2 and 0.0 < p["overlap"] <= 1.0


def test_winnow_short_text_yields_one_fingerprint(spark):
    from ehr_data_pipeline_spark.operators.text_analysis import winnow_fingerprints

    df = spark.createDataFrame([(1, "ab")], ["doc_id", "text"])
    fps = winnow_fingerprints(df, "doc_id", "text").collect()[0]["fps"]
    assert len(fps) == 1


def test_scrub_pii_masks_all_categories(spark):
    from ehr_data_pipeline_spark.operators.text_analysis import (
        pii_match_flags,
        scrub_pii,
    )

    rows = [
        (1, "contact Jo.Smith+hr@example.co.uk or call 415-555-1234 x2"),
        (2, "ssn 123-45-6789 on file; intl +1 (206) 555-0100"),
        (3, "no sensitive content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        scrub_pii(F.col("text")).alias("clean"),
        *pii_match_flags(F.col("text")),
    ).collect()}
    assert "<EMAIL>" in out[1]["clean"] and "@" not in out[1]["clean"]
    assert "<PHONE>" in out[1]["clean"] and "555-1234" not in out[1]["clean"]
    assert "<SSN>" in out[2]["clean"] and "123-45-6789" not in out[2]["clean"]
    assert "<PHONE>" in out[2]["clean"]
    assert out[3]["clean"] == "no sensitive content here"
    assert out[1]["has_email"] and out[1]["has_phone"] and not out[1]["has_ssn"]
    assert out[2]["has_ssn"] and not out[3]["has_email"]
    # masking is idempotent: a second pass changes nothing
    again = df.select(scrub_pii(scrub_pii(F.col("text"))).alias("c")).collect()
    once = df.select(scrub_pii(F.col("text")).alias("c")).collect()
    assert [r["c"] for r in again] == [r["c"] for r in once]


def test_tfidf_rare_terms_outrank_common(spark):
    from ehr_data_pipeline_spark.operators.text_analysis import tfidf_top_terms

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the rug"),
        (3, "the bird flew over the mat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 'the' appears in every doc -> idf 0 -> can never be a top term
    assert all(r["term"] != "the" for r in out)
    # each doc's unique word ranks first
    firsts = {d: sorted(rs, key=lambda r: r["rank"])[0]["term"] for d, rs in by_doc.items()}
    assert firsts[1] == "cat" and firsts[2] in ("dog", "rug") and firsts[3] in ("bird", "flew")


def test_gopher_flags_rule_by_rule(spark):
    from ehr_data_pipeline_spark.operators.text_analysis import (
        gopher_quality_flags,
    )

    good = " ".join(["the"] * 10 + ["with"] * 5 + ["token"] * 40)
    cases = {
        "good": (good, {}),
        "too_short": ("the quick with fox", {"ok_word_count": False}),
        "symbols": (
            " ".join(["the", "with"] + ["#"] * 20 + ["word"] * 50),
            {"ok_symbol_ratio": False, "ok_alpha_words": False},
        ),
        "bullets": (
            "\n".join(["- the with item word line here ok fine"] * 60),
            {"ok_bullet_lines": False},
        ),
        "ellipses": (
            # 60 ellipses over 360 words also trips the symbol-ratio rule
            "\n".join(["the with trailing words go on..."] * 60),
            {"ok_ellipsis_lines": False, "ok_symbol_ratio": False},
        ),
        "no_stopwords": (
            " ".join(["token"] * 60), {"ok_stopwords": False},
        ),
    }
    df = spark.createDataFrame(
        [(k, v[0]) for k, v in cases.items()], "name string, text string"
    )
    flags = gopher_quality_flags(F.col("text"))
    rows = {
        r["name"]: r
        for r in df.select("name", *[c.alias(n) for n, c in flags.items()]).collect()
    }
    for name, (_, overrides) in cases.items():
        for rule in rows[name].asDict():
            if rule == "name":
                continue
            expected = overrides.get(rule, True)
            assert rows[name][rule] == expected, (name, rule)


def test_gopher_filter_keeps_only_all_pass(spark):
    from ehr_data_pipeline_spark.operators.text_analysis import gopher_filter

    good = " ".join(["the"] * 10 + ["with"] * 5 + ["token"] * 40)
    df = spark.createDataFrame(
        [(1, good), (2, "too short the with")], "doc_id long, text string"
    )
    kept = gopher_filter(df).select("doc_id").collect()
    assert [r["doc_id"] for r in kept] == [1]


def test_chunk_by_tokens_boundaries_and_overlap(spark):
    from ehr_data_pipeline_spark.operators.text_analysis import chunk_by_tokens

    words = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    out = chunk_by_tokens(df, chunk_size=8, overlap=2).orderBy("chunk_id").collect()
    # stride 6: starts 0 and 6 → chunks of 8 and 4 tokens
    assert [(r["chunk_id"], r["n_chunk_tokens"]) for r in out] == [(0, 8), (1, 4)]
    assert out[0]["chunk_text"] == " ".join(words[0:8])
    assert out[1]["chunk_text"] == " ".join(words[6:10])
    # consecutive chunks overlap by exactly `overlap` tokens
    assert out[0]["chunk_text"].split()[-2:] == out[1]["chunk_text"].split()[:2]


def test_chunk_by_tokens_short_doc_single_chunk(spark):
    from ehr_data_pipeline_spark.operators.text_analysis import chunk_by_tokens

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    out = chunk_by_tokens(df, chunk_size=8, overlap=2).collect()
    assert len(out) == 1
    assert out[0]["chunk_text"] == "a b c"
    assert out[0]["n_chunk_tokens"] == 3


def test_chunk_by_tokens_rejects_bad_overlap(spark):
    import pytest

    from ehr_data_pipeline_spark.operators.text_analysis import chunk_by_tokens

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_by_tokens(df, chunk_size=4, overlap=4)


def test_unigram_lm_scores_known_corpus(spark):
    import math

    from ehr_data_pipeline_spark.operators.text_analysis import (
        unigram_lm_scores,
    )

    # corpus: "a a b" + "b c" → freqs: a=2, b=2, c=1, N=5
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in unigram_lm_scores(df).collect()}
    q = lambda x: round(math.log2(x) * 10000)
    # doc 1: bits = (3*q(5) - (q(2)+q(2)+q(2))) / (3*1e4)
    exp1 = (3 * q(5) - 3 * q(2)) / (3 * 1e4)
    exp2 = (2 * q(5) - (q(2) + q(1))) / (2 * 1e4)
    assert rows[1]["n_tokens"] == 3 and rows[2]["n_tokens"] == 2
    assert abs(rows[1]["avg_neg_logp_bits"] - exp1) < 1e-12
    assert abs(rows[2]["avg_neg_logp_bits"] - exp2) < 1e-12
    # rare-token doc scores strictly worse (higher bits)
    assert rows[2]["avg_neg_logp_bits"] > rows[1]["avg_neg_logp_bits"]


def test_gopher_boundary_ratios_pass(spark):
    """Gopher removes docs strictly ABOVE each ratio — a doc exactly at a
    published boundary passes (review finding r5)."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        gopher_quality_flags,
    )

    # 50 words, 5 of them '#': symbol ratio exactly 0.1
    sym = " ".join(["the", "with"] + ["#"] * 5 + ["word"] * 43)
    # 10 lines, 9 bullets: bullet fraction exactly 0.9
    bul = "\n".join(["- the with line ok"] * 9 + ["plain final line"])
    # 10 lines, 3 with trailing ellipsis: fraction exactly 0.3
    ell = "\n".join(["the with more words here..."] * 3 + ["plain line"] * 7)
    df = spark.createDataFrame(
        [(1, sym), (2, bul), (3, ell)], "doc_id long, text string"
    )
    flags = gopher_quality_flags(F.col("text"))
    rows = {r["doc_id"]: r for r in df.select(
        "doc_id", *[c.alias(n) for n, c in flags.items()]).collect()}
    assert rows[1]["ok_symbol_ratio"]
    assert rows[2]["ok_bullet_lines"]
    assert rows[3]["ok_ellipsis_lines"]


# ---------------------------------------------------------------------------
# DSIR importance weighting
# ---------------------------------------------------------------------------


def test_dsir_weights_zero_when_target_is_raw(spark):
    from ehr_data_pipeline_spark.operators.text_analysis import (
        dsir_importance_weights,
    )

    df = spark.createDataFrame(
        [(1, "aa bb cc dd"), (2, "bb cc dd ee"), (3, "ff gg hh ii")],
        "doc_id long, text string",
    )
    rows = dsir_importance_weights(df, df).collect()
    # identical models: every bucket ratio is exactly 0 and the constant
    # term cancels, so the weight is exactly 0.0 for every doc
    assert all(r["avg_logw_bits"] == 0.0 for r in rows)


def test_dsir_prefers_target_domain(spark):
    from ehr_data_pipeline_spark.operators.text_analysis import (
        dsir_importance_weights,
    )

    legal = [
        (i, "whereas the party of the first part shall indemnify heretofore")
        for i in range(10)
    ]
    chat = [(100 + i, "lol brb omg gonna grab tacos later ok") for i in range(10)]
    raw = spark.createDataFrame(legal + chat, "doc_id long, text string")
    target = spark.createDataFrame(legal, "doc_id long, text string")
    w = {r["doc_id"]: r["avg_logw_bits"]
         for r in dsir_importance_weights(raw, target).collect()}
    assert min(w[i] for i, _ in legal) > max(w[i] for i, _ in chat)


def test_dsir_handles_target_only_and_raw_only_tokens(spark):
    from ehr_data_pipeline_spark.operators.text_analysis import (
        dsir_importance_weights,
    )

    raw = spark.createDataFrame(
        [(1, "xx yy"), (2, "zz ww")], "doc_id long, text string"
    )
    target = spark.createDataFrame(
        [(10, "xx qq")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in dsir_importance_weights(raw, target).collect()}
    assert set(rows) == {1, 2}
    # doc 1 shares a token with the target, doc 2 shares none
    assert rows[1]["avg_logw_bits"] > rows[2]["avg_logw_bits"]
    assert all(r["n_tokens"] == 2 for r in rows.values())


# ---------------------------------------------------------------------------
# BM25 retrieval scoring
# ---------------------------------------------------------------------------


def _bm25(spark, rows, terms):
    from ehr_data_pipeline_spark.operators.text_analysis import bm25_scores

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r["doc_id"]: r["bm25"] for r in bm25_scores(df, terms).collect()}


def test_bm25_rewards_term_frequency_with_saturation(spark):
    rows = [
        (1, "cat dog bird fish mouse"),
        (2, "cat cat dog bird fish"),
        (3, "cat cat cat cat cat"),
        (4, "dog bird fish mouse newt"),
    ]
    got = _bm25(spark, rows, ["cat"])
    assert 4 not in got  # no query term -> no row
    assert got[1] < got[2] < got[3]  # more tf, higher score
    # saturation: the tf 1->2 gain exceeds the per-occurrence gain of 2->5
    assert (got[2] - got[1]) > (got[3] - got[2]) / 3


def test_bm25_idf_favors_rare_terms(spark):
    # 'rare' appears in 1 of 6 docs, 'common' in 5 of 6 — same tf=1
    rows = [(i, "common filler text here") for i in range(5)]
    rows += [(5, "rare filler text here")]
    got_rare = _bm25(spark, rows, ["rare"])
    got_common = _bm25(spark, rows, ["common"])
    assert got_rare[5] > max(got_common.values())


def test_bm25_length_normalization(spark):
    # same tf=1 for the query term; the longer doc scores lower
    rows = [
        (1, "cat a b c"),
        (2, "cat " + " ".join(f"w{i}" for i in range(40))),
    ]
    got = _bm25(spark, rows, ["cat"])
    assert got[1] > got[2]


def test_bm25_multi_term_is_sum_of_single_terms(spark):
    rows = [
        (1, "cat dog cat fish"),
        (2, "dog dog bird fish"),
    ]
    both = _bm25(spark, rows, ["cat", "dog"])
    cat = _bm25(spark, rows, ["cat"])
    dog = _bm25(spark, rows, ["dog"])
    for d in (1, 2):
        expect = cat.get(d, 0.0) + dog.get(d, 0.0)
        assert abs(both[d] - expect) < 2e-6  # micro-quantized additivity


def test_quality_classifier_known_weights(spark):
    """Rule isolation with a hand-built model: known weights -> exact
    logit; features are unigrams + bigrams, each occurrence counted."""
    import math

    from ehr_data_pipeline_spark.operators.text_analysis import (
        quality_classifier_scores,
    )
    from ehr_data_pipeline_spark.operators.text_dedup import base_shingle_hash

    docs = spark.createDataFrame(
        [(1, "good good"), (2, "bad")], "doc_id long, text string"
    )
    # resolve the buckets the engine's own hash assigns
    n_buckets = 4096
    b = {
        r["f"]: r["b"]
        for r in spark.createDataFrame(
            [("good",), ("bad",), ("good good",)], "f string"
        ).select(
            "f", (base_shingle_hash(F.col("f")) % n_buckets).alias("b")
        ).collect()
    }
    w = spark.createDataFrame(
        [(b["good"], 1_000_000), (b["bad"], -500_000), (b["good good"], 0)],
        "bucket long, w_micro long",
    )
    got = {
        r["doc_id"]: r
        for r in quality_classifier_scores(docs, weights=w).collect()
    }
    # doc 1: features good, good, "good good" -> (1e6 + 1e6 + 0)/3 / 1e6
    assert got[1]["n_features"] == 3
    assert abs(got[1]["logit"] - (2 / 3)) < 1e-9
    assert abs(got[1]["prob"] - round(1e6 / (1 + math.exp(-2 / 3))) / 1e6) < 1e-12
    # doc 2: one unigram, no bigram
    assert got[2]["n_features"] == 1
    assert abs(got[2]["logit"] - (-0.5)) < 1e-9


def test_quality_classifier_partial_model_and_null_text(spark):
    """Missing buckets score 0 without dropping features; NULL text
    follows the ''-contract (one empty-string unigram, bias-only logit)."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        quality_classifier_scores,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, None)], "doc_id long, text string"
    )
    empty_model = spark.createDataFrame([], "bucket long, w_micro long")
    got = {
        r["doc_id"]: r
        for r in quality_classifier_scores(
            docs, weights=empty_model, bias_micro=250_000
        ).collect()
    }
    assert got[1]["n_features"] == 3  # alpha, beta, "alpha beta"
    assert abs(got[1]["logit"] - 0.25) < 1e-9  # bias only
    assert got[2]["n_features"] == 1  # '' unigram, no bigrams
    assert abs(got[2]["logit"] - 0.25) < 1e-9
    assert 0.5 < got[2]["prob"] < 0.6  # sigmoid(0.25)


def test_quality_classifier_default_weights_deterministic(spark):
    """The md5-derived default model is stable across invocations and
    bounded to [-1e6, 1e6] micro units."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        default_classifier_weights,
    )

    a = {r["bucket"]: r["w_micro"]
         for r in default_classifier_weights(spark, 64).collect()}
    bt = {r["bucket"]: r["w_micro"]
          for r in default_classifier_weights(spark, 64).collect()}
    assert a == bt and len(a) == 64
    assert all(-1_000_000 <= v <= 1_000_000 for v in a.values())
    assert len(set(a.values())) > 32  # not degenerate


def test_bm25_index_search_matches_corpus_scan(spark):
    """Index-based BM25 must be BIT-identical to the corpus-scanning
    bm25_scores, and the index must merge: building from disjoint halves
    and unioning scores exactly like one build over the whole corpus."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        bm25_index_build,
        bm25_scores,
        bm25_search_against_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    terms = ["hash", "join", "stream"]
    want = sorted(map(tuple, bm25_scores(docs, terms).collect()))

    p, l = bm25_index_build(docs)
    got = sorted(map(tuple, bm25_search_against_index(p, l, terms).collect()))
    assert got == want and len(got) > 0

    p1, l1 = bm25_index_build(docs.filter(F.col("doc_id") % 2 == 0))
    p2, l2 = bm25_index_build(docs.filter(F.col("doc_id") % 2 == 1))
    merged = sorted(map(tuple, bm25_search_against_index(
        p1.unionByName(p2), l1.unionByName(l2), terms).collect()))
    assert merged == want


def test_bm25_index_append_updates_global_stats(spark):
    """Appending a batch to the index changes idf/avgdl for EVERYONE —
    the scores over the grown index must equal a fresh full-corpus
    scoring, not the old scores plus new rows."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        bm25_index_build,
        bm25_scores,
        bm25_search_against_index,
    )

    # rows2 contains no "cat": df_t stays 1 while n_docs doubles, so the
    # idf (and hence doc 1's score) MUST move when the index grows —
    # an n_docs/df_t pair that kept the idf ratio constant (1 of 2 vs
    # 2 of 4) would make the last assertion vacuous
    rows1 = [(1, "cat dog"), (2, "dog fish")]
    rows2 = [(3, "bird fish ant cow"), (4, "bird")]
    d1 = spark.createDataFrame(rows1, "doc_id long, text string")
    d12 = spark.createDataFrame(rows1 + rows2, "doc_id long, text string")
    d2 = spark.createDataFrame(rows2, "doc_id long, text string")
    p1, l1 = bm25_index_build(d1)
    p2, l2 = bm25_index_build(d2)
    grown = sorted(map(tuple, bm25_search_against_index(
        p1.unionByName(p2), l1.unionByName(l2), ["cat"]).collect()))
    fresh = sorted(map(tuple, bm25_scores(d12, ["cat"]).collect()))
    assert grown == fresh
    # and the old 2-doc index alone gives DIFFERENT scores for doc 1
    old = {r["doc_id"]: r["bm25_micro"]
           for r in bm25_search_against_index(p1, l1, ["cat"]).collect()}
    new = {t[0]: t[1] for t in grown}
    assert old[1] != new[1]


def test_bigram_lm_stupid_backoff_hand_computed(spark):
    """Rule isolation on a hand-computed corpus: in-model bigram path,
    backoff path, unseen-word floor, and the <2-token NULL contract."""
    from ehr_data_pipeline_spark.operators.text_analysis import bigram_lm_scores

    rows = [
        (0, "a b a b"),   # model doc
        (2, "b c"),       # model doc
        (1, "c a x"),     # scored: backoff (c,a) + unseen-x floor (a,x)
        (3, "z"),         # single token: no transitions
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_transitions"], r["avg_neg_logp_bits"])
        for r in bigram_lm_scores(
            df, model_docs=df.filter(F.col("doc_id") % 2 == 0)
        ).collect()
    }
    # model: uc a:2 b:3 c:1 (N=6, qlogN=25850); bc (a,b):2 (b,a):1 (b,c):1
    # doc 0: q = [qlog2-qlog2, qlog1-qlog3, qlog2-qlog2] = [0, -15850, 0]
    assert got[0][0] == 3
    assert abs(got[0][1] - 15850 / 30000) < 1e-12
    # doc 2: (b,c): qlog1 - qlog3 = -15850
    assert got[2] == (1, 15850 / 10000)
    # doc 1: (c,a) backoff = -13219 + qlog(2) - qlog(6) = -29069;
    #        (a,x) unseen w2 floors at count 1 = -13219 + 0 - 25850
    assert got[1][0] == 2
    assert abs(got[1][1] - (29069 + 39069) / 20000) < 1e-12
    # doc 3: no transitions -> NULL score
    assert got[3] == (0, None)


def test_bpe_pair_counts_hand_computed_and_two_round_composition(spark):
    """Pair counts on a corpus small enough to count by hand — incl.
    overlapping runs ('aaa' yields two 'aa' pairs), single-char words
    (no pairs), digits/symbols as separate pretokens — and the two-round
    trainer composition: the round-1 argmax extends the merge table that
    bpe_token_counts consumes, reducing the corpus token count by
    exactly that pair's NON-overlapping occurrence count."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        bpe_pair_counts,
        bpe_token_counts,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "the theft aaa"), (2, "a b the!")],
        "doc_id int, text string",
    )
    got = {
        r["pair"]: r["n_pairs"] for r in bpe_pair_counts(docs).collect()
    }
    # words: the, theft, aaa, a, b, the, '!' ('!' is a 1-char symbol token)
    assert got["th"] == 3 and got["he"] == 3
    assert got["aa"] == 2  # overlapping adjacency both counted
    assert got["ef"] == 1 and got["ft"] == 1
    assert "a " not in got and "b" not in got  # no cross-word or 1-char pairs

    # round-1 argmax under (count desc, pair asc) is 'he'... tie th/he at
    # 3 → 'he' wins lexicographically
    top = bpe_pair_counts(docs, top_k=1).collect()[0]
    assert (top["pair"], top["n_pairs"]) == ("he", 3)

    # two-round composition: merging 'he' saves one unit per
    # non-overlapping occurrence (3 here — the, theft, the)
    before = docs.select(
        F.sum(bpe_token_counts(F.col("text"), merge_pairs=())).alias("n")
    ).collect()[0]["n"]
    after = docs.select(
        F.sum(bpe_token_counts(F.col("text"), merge_pairs=("he",))).alias("n")
    ).collect()[0]["n"]
    assert before - after == 3


def test_bpe_trainer_rounds_hand_computed(spark):
    """Generalizes the two-round composition test to the full k-round
    trainer (VERDICT r10 #5): on a hand-computed corpus the learned
    merge table, selection-time counts, and post-merge token totals are
    all known by eye — including a tie broken by the (l asc, r asc)
    total order, a round whose argmax pair has a MERGED symbol as its
    left element (the retokenizer working on round-k state, not
    characters), and an overlapping-run merge ('aaa' has two 'aa'
    adjacencies but only ONE leftmost non-overlapping application)."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        _initial_state,
        bpe_pair_counts,
        bpe_symbol_pair_counts,
        bpe_trainer_rounds,
    )

    docs = spark.createDataFrame(
        [(1, "the theft aaa"), (2, "a b the!")],
        "doc_id int, text string",
    )

    # round-1 symbol pairs ARE the character pairs — the two counting
    # passes agree on the initial state
    sym = {
        (r["l"] + r["r"]): r["n_pairs"]
        for r in bpe_symbol_pair_counts(
            _initial_state(docs, "word")
        ).collect()
    }
    chr_pairs = {
        r["pair"]: r["n_pairs"] for r in bpe_pair_counts(docs).collect()
    }
    assert sym == chr_pairs

    got = [
        tuple(r)
        for r in bpe_trainer_rounds(docs, n_rounds=3)
        .orderBy("round")
        .collect()
    ]
    # words: the, theft, aaa, a, b, the, '!' -> 17 initial symbols
    # r1: th=3, he=3 tie -> 'h'<'t' picks (h,e); 3 applications -> 14
    # r2: (t,he)=3 from both 'the's and 'theft' -> merged left operand
    #     in round 3's state; 3 applications -> 11
    # r3: (a,a)=2 overlapping adjacencies, ONE leftmost application -> 10
    assert got == [
        (1, "h", "e", "he", 3, 14),
        (2, "t", "he", "the", 3, 11),
        (3, "a", "a", "aa", 2, 10),
    ]


def test_byte_pretokens_gpt2_style(spark):
    """The byte-level pretokenizer preserves case and whitespace (no
    normalize_text — byte-level BPE is defined on the raw byte stream),
    splits GPT-2 style (contractions, space-prefixed letter/digit/punct
    runs, whitespace runs), and NULL text yields no pretokens."""
    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.operators.text_analysis import (
        _initial_state,
        byte_pretokens,
    )

    docs = spark.createDataFrame(
        [(1, "The fast dup's  Go 12!"), (2, None)],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r["toks"]
        for r in docs.select(
            "doc_id", byte_pretokens(F.col("text")).alias("toks")
        ).collect()
    }
    # case preserved ('The', 'Go'), leading space part of the token,
    # contraction split off, double space a whitespace-run token
    assert got[1] == ["The", " fast", " dup", "'s", "  ", "Go", " 12", "!"]
    assert got[2] == []

    # initial state: UTF-8 bytes as hex-pair symbols (' t' = 20,74)
    states = sorted(
        r["syms"]
        for r in _initial_state(
            spark.createDataFrame([(1, " t")], "doc_id int, text string"),
            "byte",
        ).collect()
    )
    assert states == ["20\x1f74"]


def test_bpe_byte_trainer_rounds_hand_computed(spark):
    """The byte-level trainer on a corpus whose merges are known by
    eye — including a SPACE-PREFIXED merge (' ' + 'ab' once 'ab' has
    fused), the byte-level behavior no word pretokenizer can express,
    and early stop when the byte corpus runs out of adjacencies."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        bpe_trainer_rounds,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab"), (2, "ab!")], "doc_id int, text string"
    )
    got = [
        tuple(r)
        for r in bpe_trainer_rounds(docs, n_rounds=3, pretokenizer="byte")
        .orderBy("round")
        .collect()
    ]
    # pretokens: 'ab', ' ab', 'ab', '!' -> hex states [61,62], [20,61,62],
    # [61,62], [21] = 8 symbols
    # r1: (61,62)=3 -> merge '6162' ('ab'), 3 applications -> 5
    # r2: (20,6162)=1 -> merge '206162' (' ab') -> 4
    # r3: no adjacent pairs remain -> early stop (2 rows, not 3)
    assert got == [
        (1, "61", "62", "6162", 3, 5),
        (2, "20", "6162", "206162", 1, 4),
    ]


def test_bpe_byte_trained_count_cross_checked_with_trainer(spark):
    """The byte-level apply side: per-doc counts under the byte-trained
    table sum EXACTLY to the byte trainer's final corpus_tokens_after on
    the same corpus (the train→apply loop closed at byte level), and the
    space-prefixed merge is consumed in order — ' ab' counts ONE token
    once both (61,62) and (20,6162) have applied."""
    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.operators.text_analysis import (
        _trained_token_count,
        bpe_trainer_rounds,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab"), (2, "ab!"), (3, None)], "doc_id int, text string"
    )
    rounds = (
        bpe_trainer_rounds(docs, n_rounds=3, pretokenizer="byte")
        .orderBy("round")
        .collect()
    )
    merges = tuple((r["merge_left"], r["merge_right"]) for r in rounds)
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in docs.select(
            "doc_id",
            _trained_token_count(F.col("text"), merges, "byte").alias(
                "n_tokens"
            ),
        ).collect()
    }
    # doc1 'ab'+' ab' -> [6162] + [206162] = 2; doc2 'ab'+'!' -> 2; NULL -> 0
    assert got == {1: 2, 2: 2, 3: 0}
    assert sum(got.values()) == rounds[-1]["corpus_tokens_after"]


def test_bpe_trained_counts_arrow_matches_native(spark):
    """The Arrow mapInPandas twin of the trained-table token counter is
    value-identical to the native expression chain — same left-greedy
    whole-symbol merge loop, merges in training order — across the edge
    cases that distinguish wrong implementations (same-symbol runs,
    merge chains, merged-left-operand tables, NULL/empty text). The
    router keeps small tables on the UDF-free native plan and sends
    large ones to Arrow (ADVICE r11: k nested expression chains blow
    Catalyst plan size at production table sizes)."""
    from pyspark.sql import functions as F

    import ehr_data_pipeline_spark.operators.text_analysis as TA

    docs = spark.createDataFrame(
        [
            (1, "the theft aaa xxxxxx"),
            (2, "a b the!"),
            (3, None),
            (4, ""),
            (5, "ab ab abab aab"),
        ],
        "doc_id int, text string",
    )
    merges = (
        ("h", "e"), ("t", "he"), ("a", "a"), ("aa", "a"),
        ("x", "x"), ("a", "b"),
    )
    native = {
        r["doc_id"]: r["n_tokens"]
        for r in docs.select(
            "doc_id",
            TA._trained_token_count(F.col("text"), merges, "word").alias(
                "n_tokens"
            ),
        ).collect()
    }
    arrow = {
        r["doc_id"]: r["n_tokens"]
        for r in TA._bpe_trained_counts_arrow(
            docs, merges
        ).collect()
    }
    assert native == arrow
    assert native[3] == 0 and native[4] == 0  # degenerate-doc contract

    # router: below the threshold the plan is UDF-free; at/above it the
    # Arrow twin takes over
    small = TA.bpe_trained_token_counts_df(docs, merges)
    assert "MapInPandas" not in small._jdf.queryExecution().executedPlan().toString()
    big_table = merges * ((TA._ARROW_MERGE_THRESHOLD // len(merges)) + 1)
    big = TA.bpe_trained_token_counts_df(docs, big_table)
    assert "MapInPandas" in big._jdf.queryExecution().executedPlan().toString()


def test_bpe_byte_trained_counts_arrow_matches_native(spark):
    """The byte-level route of the trained-counts router: the Arrow
    twin reproduces the native hex-pair byte states exactly (raw-text
    GPT-2-style pretokens — case/whitespace preserved — then the same
    left-greedy merge loop over hex symbols), and the router honors
    pretokenizer='byte' on both sides of the threshold."""
    from pyspark.sql import functions as F

    import ehr_data_pipeline_spark.operators.text_analysis as TA

    docs = spark.createDataFrame(
        [
            (1, "ab ab abab"),
            (2, "The fast dup's  Go 12!"),
            (3, None),
            (4, "xxxxxx"),
        ],
        "doc_id int, text string",
    )
    merges = (
        ("61", "62"), ("20", "6162"), ("78", "78"), ("7878", "7878"),
        ("54", "68"),
    )
    native = {
        r["doc_id"]: r["n_tokens"]
        for r in docs.select(
            "doc_id",
            TA._trained_token_count(F.col("text"), merges, "byte").alias(
                "n_tokens"
            ),
        ).collect()
    }
    arrow = {
        r["doc_id"]: r["n_tokens"]
        for r in TA._bpe_trained_counts_arrow(
            docs, merges, pretokenizer="byte"
        ).collect()
    }
    assert native == arrow
    assert native[3] == 0  # degenerate-doc contract

    small = TA.bpe_trained_token_counts_df(docs, merges, pretokenizer="byte")
    assert "MapInPandas" not in small._jdf.queryExecution().executedPlan().toString()
    big_table = merges * ((TA._ARROW_MERGE_THRESHOLD // len(merges)) + 1)
    big = TA.bpe_trained_token_counts_df(docs, big_table, pretokenizer="byte")
    assert "MapInPandas" in big._jdf.queryExecution().executedPlan().toString()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="pretokenizer"):
        TA.bpe_trained_token_counts_df(docs, merges, pretokenizer="unicode")


def test_byte_pretokens_unicode_categories(spark):
    """The \\p{L}/\\p{N} pretokenizer (VERDICT r12 #4): accented and CJK
    letters join letter runs, fullwidth/Arabic-Indic digits and Nl/No
    characters (Roman numeral, superscript) are number runs, NBSP is a
    punct-run character (NOT whitespace — the whitespace set is Java's
    ASCII \\s, spelled out), and the Python scanner twin reproduces the
    Java tokenization character-for-character."""
    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.operators.text_analysis import (
        _byte_pretokens_py,
        byte_pretokens,
    )

    texts = [
        "café naïve 北京 test",
        "x² and Ⅻ roman, １２３ fullwidth, ٣٤ arabic",
        "Ångström's law – re-éxamination, 'tis",
        "Ψυχή мир 東京タワー 've",
        "nbsp here vt",
        "don't we'll I'm",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    got = {
        r["doc_id"]: r["toks"]
        for r in docs.select(
            "doc_id", byte_pretokens(F.col("text")).alias("toks")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _byte_pretokens_py(t), t
    # spot-check the category semantics themselves
    assert got[0] == ["café", " naïve", " 北京", " test"]
    assert got[1][:4] == ["x", "²", " and", " Ⅻ"]  # No + Nl are \p{N}
    assert " １２３" in got[1]  # fullwidth digits are one \p{N} run
    assert got[4] == ["nbsp", "\u00a0", "here", " \x0b", "vt"]



def test_bpe_byte_trainer_unicode_hand_computed(spark):
    """Byte trainer over a non-ASCII corpus: 'é' is two UTF-8 bytes
    (C3, A9), so the first merge fuses the multi-byte character back
    together — the defining byte-level behavior on unicode text — and
    the apply side agrees with the trainer's final count."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        bpe_trained_token_counts_df,
        bpe_trainer_rounds,
    )

    docs = spark.createDataFrame(
        [(1, "éé"), (2, "é!")], "doc_id int, text string"
    )
    got = [
        tuple(r)
        for r in bpe_trainer_rounds(docs, n_rounds=2, pretokenizer="byte")
        .orderBy("round")
        .collect()
    ]
    # states: 'éé' = [C3,A9,C3,A9], 'é' = [C3,A9], '!' = [21] (7 symbols)
    # r1: (C3,A9)=3 -> merge 'C3A9', 3 applications -> 4 symbols
    # r2: (C3A9,C3A9)=1 -> merge -> 3 symbols
    assert got == [
        (1, "C3", "A9", "C3A9", 3, 4),
        (2, "C3A9", "C3A9", "C3A9C3A9", 1, 3),
    ]
    merges = tuple((r[1], r[2]) for r in got)
    counts = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe_trained_token_counts_df(
            docs, merges, pretokenizer="byte"
        ).collect()
    }
    assert counts == {1: 1, 2: 2}
    assert sum(counts.values()) == got[-1][5]


def test_bpe_byte_arrow_matches_native_on_unicode(spark):
    """The byte Arrow twin's scanner pretokenizer is bit-equivalent to
    the native Java route on non-ASCII text — accents, CJK, fullwidth
    digits, NBSP, contractions — under a merge table over multi-byte
    hex symbols."""
    import ehr_data_pipeline_spark.operators.text_analysis as TA
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "café naïve 北京 test"),
            (2, "x² Ⅻ １２３ ٣٤"),
            (3, "Ångström's – don't nbsp"),
            (4, "éé é!"),
            (5, None),
        ],
        "doc_id int, text string",
    )
    merges = (("C3", "A9"), ("C3A9", "C3A9"), ("E5", "8C"), ("20", "C3A9"))
    native = {
        r["doc_id"]: r["n_tokens"]
        for r in docs.select(
            "doc_id",
            TA._trained_token_count(F.col("text"), merges, "byte").alias(
                "n_tokens"
            ),
        ).collect()
    }
    arrow = {
        r["doc_id"]: r["n_tokens"]
        for r in TA._bpe_trained_counts_arrow(
            docs, merges, pretokenizer="byte"
        ).collect()
    }
    assert native == arrow
    assert native[5] == 0


def test_select_compatible_pairs_blocking_rules():
    """The greedy batch selector blocks a candidate that shares an
    element with a kept pair AND one whose element equals a kept pair's
    merged symbol (the created-adjacency interaction), walks the
    ranking in order, and stops at batch_size."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        _select_compatible_pairs,
    )

    cands = [
        ("a", "b", 10),  # kept: blocks a, b, ab
        ("ab", "c", 9),  # skipped: 'ab' is a kept pair's merged symbol
        ("b", "d", 8),   # skipped: shares element 'b'
        ("c", "d", 7),   # kept: disjoint from {a, b, ab}
        ("e", "f", 6),   # would be kept, but batch is full at 2
    ]
    assert _select_compatible_pairs(cands, 2) == [
        ("a", "b", 10), ("c", "d", 7),
    ]
    assert _select_compatible_pairs(cands, 5) == [
        ("a", "b", 10), ("c", "d", 7), ("e", "f", 6),
    ]
    assert _select_compatible_pairs([], 3) == []


def test_bpe_batched_trainer_hand_computed(spark):
    """Batched trainer on a corpus whose per-round batches are known by
    eye: round 1 keeps the top pair (x,y) and the disjoint (h,e) while
    the element-sharing (t,h)/(h,a) are blocked; round 2 keeps (t,he)
    — consuming round 1's fused symbol — AND (h,a), whose 'h' is free
    again because blocking resets each round. corpus_tokens_after is
    the per-round post-batch total, repeated on the round's rows."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        bpe_batched_trainer_rounds,
    )

    docs = spark.createDataFrame(
        [(1, "the the he ha xy xy xy xy")], "doc_id int, text string"
    )
    got = [
        tuple(r)
        for r in bpe_batched_trainer_rounds(docs, n_rounds=2, batch_size=2)
        .orderBy("round", "pos")
        .collect()
    ]
    # round 1 state: [t,h,e]x2 [h,e] [h,a] [x,y]x4 = 18 symbols;
    # counts (x,y)=4 (h,e)=3 (t,h)=2 (h,a)=1; keep (x,y),(h,e) -> 18-7=11
    # round 2 state: [t,he]x2 [he] [h,a] [xy]x4; counts (t,he)=2 (h,a)=1;
    # both compatible -> 11-3=8
    assert got == [
        (1, 1, "x", "y", "xy", 4, 11),
        (1, 2, "h", "e", "he", 3, 11),
        (2, 1, "t", "he", "the", 2, 8),
        (2, 2, "h", "a", "ha", 1, 8),
    ]


def test_bpe_batched_trainer_batch1_equals_sequential(spark):
    """With batch_size=1 the compatibility filter is vacuous and the
    batched trainer IS the sequential trainer — identical merges,
    counts, and per-round token totals, pos uniformly 1."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        bpe_batched_trainer_rounds,
        bpe_trainer_rounds,
    )

    docs = spark.createDataFrame(
        [(1, "the theft is the best"), (2, "ha ha theory!"), (3, None)],
        "doc_id int, text string",
    )
    seq = [
        tuple(r)
        for r in bpe_trainer_rounds(docs, n_rounds=4)
        .orderBy("round")
        .collect()
    ]
    bat = [
        tuple(r)
        for r in bpe_batched_trainer_rounds(docs, n_rounds=4, batch_size=1)
        .orderBy("round")
        .collect()
    ]
    assert [(r, 1, *rest) for r, *rest in seq] == bat
    assert len(seq) > 0


def test_bpe_batched_trainer_early_stop_and_byte_route(spark):
    """A corpus with no adjacent pairs stops at zero rows; the byte
    pretokenizer routes through the same batched loop (round-0 state is
    the only difference)."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        bpe_batched_trainer_rounds,
    )

    lone = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    assert bpe_batched_trainer_rounds(lone, n_rounds=3).count() == 0

    docs = spark.createDataFrame(
        [(1, "ab ab"), (2, "ab!")], "doc_id int, text string"
    )
    got = [
        tuple(r)
        for r in bpe_batched_trainer_rounds(
            docs, n_rounds=2, batch_size=2, pretokenizer="byte"
        )
        .orderBy("round", "pos")
        .collect()
    ]
    # round 1: (61,62)=3 kept; (20,61)=1 blocked (shares 61) -> 8-3=5
    # round 2 state: [6162] [20,6162] [6162] [21]: (20,6162)=1 -> 5-1=4
    assert got == [
        (1, 1, "61", "62", "6162", 3, 5),
        (2, 1, "20", "6162", "206162", 1, 4),
    ]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="batch_size"):
        bpe_batched_trainer_rounds(docs, batch_size=0)


def test_bpe_batched_oracle_generalizes_across_knobs(spark, tmp_path):
    """The batched-trainer ORACLE GENERATOR stays cross-engine-exact at
    knobs other than the registered (rounds=2, batch=3): replay Spark
    vs DuckDB at (3 rounds, batch 2) and (1 round, batch 5) over a
    corpus written to parquet for both engines — so a future
    registration at different knobs can't silently desync the slot
    chain or the multi-pair island SQL."""
    import duckdb

    from ehr_data_pipeline_spark.operators.text_analysis import (
        bpe_batched_trainer_rounds,
    )
    from ehr_data_pipeline_spark.queries import _bpe_batched_trainer_oracle

    docs = spark.createDataFrame(
        [
            (1, "the theft is the best theory"),
            (2, "ha ha hash hash xy xy xy"),
            (3, "aaa bbb aaa!"),
            (4, None),
            (5, ""),
        ],
        "doc_id int, text string",
    )
    pq = str(tmp_path / "documents.parquet")
    docs.toPandas().to_parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{pq}'")
    for n_rounds, batch in ((3, 2), (1, 5)):
        got = [
            tuple(r)
            for r in bpe_batched_trainer_rounds(
                docs, n_rounds=n_rounds, batch_size=batch
            )
            .orderBy("round", "pos")
            .collect()
        ]
        want = [
            tuple(r)
            for r in con.execute(
                _bpe_batched_trainer_oracle(n_rounds, batch)
            ).fetchall()
        ]
        assert got == sorted(want), (n_rounds, batch)
        assert len(got) > 0


def test_bpe_word_oracles_on_unit_separator_text(spark, tmp_path):
    """Text containing U+001F (BPE_SEP itself): the word pretokenizer
    must not emit it as a one-character word, whose state would split
    into two EMPTY symbols (a phantom ('', '') pair and an extra token
    per occurrence). The four word-level BPE registry queries match
    their DuckDB oracles on such a corpus, and the Arrow twin of the
    trained-table counter equals the native one on it."""
    import duckdb
    import pandas as pd

    import ehr_data_pipeline_spark.operators.text_analysis as TA
    from ehr_data_pipeline_spark.queries import REGISTRY
    from tests.oracle_utils import compare_spark_vs_oracle

    texts = [
        "the cat sat on the mat",
        "ab \x1f cd ab",
        "ab\x1fab the the",
        "then there",
    ]
    pq = tmp_path / "documents.parquet"
    pd.DataFrame({"doc_id": range(1, 5), "text": texts}).to_parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{pq}'")
    for name in (
        "doc_bpe_pair_counts",
        "doc_bpe_trainer_rounds",
        "doc_bpe_trained_token_counts",
        "doc_bpe_batched_trainer_rounds",
    ):
        spec = REGISTRY[name]
        compare_spark_vs_oracle(
            spec.fn(spark, str(tmp_path)), con, spec.oracle, name=name
        )

    docs = spark.read.parquet(str(pq))
    # doc 2 is [a, b] [c, d] [a, b]: U+001F is no token under any table
    for merges, want in (((), 6), ((("t", "h"), ("th", "e"), ("a", "b")), 4)):
        native = {
            r["doc_id"]: r["n"]
            for r in docs.select(
                "doc_id",
                TA._trained_token_count(F.col("text"), merges, "word").alias("n"),
            ).collect()
        }
        arrow = {
            r["doc_id"]: r["n_tokens"]
            for r in TA._bpe_trained_counts_arrow(
                docs, merges
            ).collect()
        }
        assert native == arrow, merges
        assert native[2] == want, merges


def test_bpe_trainer_rejects_unknown_pretokenizer(spark):
    import pytest as _pytest

    from ehr_data_pipeline_spark.operators.text_analysis import (
        bpe_trainer_rounds,
    )

    docs = spark.createDataFrame([(1, "ab")], "doc_id int, text string")
    with _pytest.raises(ValueError, match="pretokenizer"):
        bpe_trainer_rounds(docs, pretokenizer="unicode")


def test_bpe_trainer_stops_when_no_pairs_remain(spark):
    """A corpus of single-character words has no adjacencies — the
    trainer returns an empty merge table rather than looping."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        bpe_trainer_rounds,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id int, text string"
    )
    assert bpe_trainer_rounds(docs, n_rounds=2).count() == 0


def test_bpe_trained_token_count_order_sensitive_and_cross_checked(spark):
    """The apply side of BPE training: merges apply IN ORDER over symbol
    states ([(h,e), (t,he)] makes 'the' ONE token; the reversed order
    cannot — (t,he) fires before any 'he' symbol exists), the empty
    table counts plain characters, and the per-doc counts sum to the
    trainer's own final corpus_tokens_after on the same corpus."""
    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.operators.text_analysis import (
        _trained_token_count,
        bpe_trainer_rounds,
    )

    docs = spark.createDataFrame(
        [(1, "the theft aaa"), (2, None)], "doc_id int, text string"
    )

    def counts(merges):
        return {
            r["doc_id"]: r["n"]
            for r in docs.select(
                "doc_id",
                _trained_token_count(F.col("text"), merges, "word").alias("n"),
            ).collect()
        }

    # the=3, theft=5, aaa=3 chars; NULL doc counts 0
    assert counts(()) == {1: 11, 2: 0}
    # (h,e) then (t,he): the->1, theft->the|f|t=3, aaa->3
    assert counts((("h", "e"), ("t", "he"))) == {1: 7, 2: 0}
    # reversed order: (t,he) is a no-op on character states, then (h,e)
    assert counts((("t", "he"), ("h", "e"))) == {1: 9, 2: 0}

    trained = bpe_trainer_rounds(docs, n_rounds=2).orderBy("round").collect()
    merges = tuple((r["merge_left"], r["merge_right"]) for r in trained)
    assert sum(counts(merges).values()) == trained[-1]["corpus_tokens_after"]


def test_bpe_merge_apply_whole_symbol_and_run_semantics(spark):
    """r11 review fix: merge-apply must match WHOLE symbols only and be
    exact left-greedy. (a) Boundary crossing: with the table [(a,b),
    (b,c)], 'abc' is [ab, c] after round 1 — round 2's (b,c) must NOT
    fuse the b inside 'ab' (a bare substring replace did, yielding 1
    token). (b) Same-symbol runs: 'xxxxx' under (x,x) is [xx, xx, x]
    (3) and 'xxxxxx' is [xx, xx, xx] (3) — fixed-pass replace schemes
    misplace the singleton at 5 and UNDERCOUNT at 6. (c) Chains:
    'abab' under (a,b) fuses both pairs."""
    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.operators.text_analysis import (
        _trained_token_count,
    )

    docs = spark.createDataFrame(
        [
            (1, "abc"),
            (2, "xxxxx"),
            (3, "xxxxxx"),
            (4, "abab"),
            (5, "ababa"),
            (6, "xxxxxxx"),
        ],
        "doc_id int, text string",
    )

    def counts(merges):
        return {
            r["doc_id"]: r["n"]
            for r in docs.select(
                "doc_id",
                _trained_token_count(F.col("text"), merges, "word").alias("n"),
            ).collect()
        }

    got = counts((("a", "b"), ("b", "c")))
    assert got[1] == 2  # [ab, c] — the 'b' inside 'ab' never fuses with 'c'
    got = counts((("x", "x"),))
    assert got[2] == 3 and got[3] == 3 and got[6] == 4  # greedy run fusing
    got = counts((("a", "b"),))
    assert got[4] == 2 and got[5] == 3  # full chains fuse


def test_bpe_merge_apply_fuzz_vs_reference_greedy(spark):
    """Property pin for the branched merge-apply: on a randomized
    corpus the trained counts equal a pure-Python reference trainer
    (left-greedy whole-symbol merge-apply), for both learned and
    adversarially chosen merge tables — one Spark job over all cases."""
    import random
    import re

    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.operators.text_analysis import (
        _trained_token_count,
    )

    WORD = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9\s]")

    def greedy(syms, l, r):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    def ref_count(text, merges):
        ws = [list(w) for w in WORD.findall(
            re.sub(r"\s+", " ", text.lower()).strip())]
        for l, r in merges:
            ws = [greedy(w, l, r) for w in ws]
        return sum(len(w) for w in ws)

    rng = random.Random(7)
    frags = ["ab", "abc", "bc", "a", "b", "x", "xx", "xxx", "xxxx",
             "xxxxx", "ba", "cab", "bca"]
    rows = [
        (i, " ".join(rng.choice(frags) for _ in range(rng.randint(1, 12))))
        for i in range(200)
    ]
    merges = (("a", "b"), ("x", "x"), ("ab", "c"), ("b", "c"), ("xx", "x"))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            _trained_token_count(F.col("text"), merges, "word").alias("n"),
        ).collect()
    }
    want = {i: ref_count(t, merges) for i, t in rows}
    assert got == want


# --- expression rewrites pinned bit-equal to the shapes they replaced ----

@pytest.fixture(scope="module")
def texts_df(spark):
    rows = [(i, t) for i, t in enumerate(TOKEN_EDGE_TEXTS + token_fuzz_texts())]
    return spark.createDataFrame(rows, "id long, text string")


def _assert_cols_equal(df, old, new, label):
    bad = (
        df.select("id", old.alias("o"), new.alias("n"))
        .filter(~((F.col("o") == F.col("n")) | (F.col("o").isNull() & F.col("n").isNull())))
        .collect()
    )
    assert not bad, f"{label}: {len(bad)} rows diverge, first: {bad[:3]}"


# --- winnowing: k-gram hash stream (regex scan vs per-position substr) ----

def _old_kgram_hash_seq(col, k):
    """The pre-r15 expression, verbatim."""

    def stream(nt):
        n_pos = F.greatest(F.length(nt) - (k - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n_pos),
            lambda i: portable_hash60(nt.substr(i, F.lit(k))),
        )

    return let_bound(normalize_text(col), stream)


@pytest.mark.parametrize("k", [1, 2, 4, 7, 8])
def test_kgram_hash_seq_matches_old(texts_df, k):
    _assert_cols_equal(
        texts_df,
        _old_kgram_hash_seq(F.col("text"), k),
        kgram_hash_seq(F.col("text"), k),
        f"kgram_hash_seq k={k}",
    )


# --- winnowing: sliding-window minima (doubling vs per-window slice) ------

def _old_winnow_from_hashes(hs, w):
    """The pre-r15 expression, verbatim."""
    n_win = F.greatest(F.size(hs) - (w - 1), F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(1), n_win), lambda j: F.array_min(F.slice(hs, j, w))
    )
    return F.array_sort(F.array_distinct(mins))


@pytest.mark.parametrize("w", [1, 2, 3, 4, 5, 7, 8])
def test_winnow_from_hashes_matches_old(texts_df, w):
    h = texts_df.select("id", kgram_hash_seq(F.col("text"), 4).alias("hs"))
    bad = (
        h.select(
            "id",
            _old_winnow_from_hashes(F.col("hs"), w).alias("o"),
            winnow_from_hashes(F.col("hs"), w).alias("n"),
        )
        .filter(~((F.col("o") == F.col("n")) | (F.col("o").isNull() & F.col("n").isNull())))
        .collect()
    )
    assert not bad, f"winnow w={w}: {bad[:3]}"


def test_winnow_from_hashes_degenerate_arrays(spark):
    """NULL elements (least must skip them like array_min), empty array,
    NULL array, all-NULL array, single element — the old expression's
    exact degenerate contract."""
    edge = spark.createDataFrame(
        [
            (0, [5, None, 3, 9, 1]),
            (1, []),
            (2, None),
            (3, [None, None]),
            (4, [7]),
            (5, [4, 4, 4, 4, 4, 4]),
        ],
        "id long, hs array<bigint>",
    )
    for w in (1, 2, 4, 8):
        bad = (
            edge.select(
                "id",
                _old_winnow_from_hashes(F.col("hs"), w).alias("o"),
                winnow_from_hashes(F.col("hs"), w).alias("n"),
            )
            .filter(~((F.col("o") == F.col("n")) | (F.col("o").isNull() & F.col("n").isNull())))
            .collect()
        )
        assert not bad, f"winnow degenerate w={w}: {bad}"


# --- word n-gram extraction (regex scan vs per-position slice+join) -------

def _old_word_ngrams(col, n):
    """The pre-r15 gram shape of ngram_contamination/token_window_hashes,
    verbatim (modulo the hash applied on top, tested separately)."""

    def grams_of(toks):
        g = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.when(F.size(toks) >= n, g).otherwise(
            F.array().cast("array<string>")
        )

    return let_bound(whitespace_tokens(col), grams_of)


@pytest.mark.parametrize("n", [2, 3, 8, 13])
def test_word_ngram_strings_matches_old(texts_df, n):
    _assert_cols_equal(
        texts_df,
        _old_word_ngrams(F.col("text"), n),
        word_ngram_strings(normalize_text(F.col("text")), n),
        f"word_ngram_strings n={n}",
    )


def test_word_ngram_strings_n1_keeps_empty_token(texts_df):
    """n=1 must degrade to the token split INCLUDING the single empty
    token of an empty/whitespace-only text (the regex form would drop it,
    which is why n=1 short-circuits to split)."""
    _assert_cols_equal(
        texts_df,
        whitespace_tokens(F.col("text")),
        word_ngram_strings(normalize_text(F.col("text")), 1),
        "word_ngram_strings n=1",
    )


def _old_ngrams(col, n=2):
    """The pre-r15 zip_with-chain ngrams, verbatim."""
    toks = whitespace_tokens(col)
    if n == 1:
        return toks
    size = F.size(toks)
    out = F.slice(toks, 1, F.greatest(size - (n - 1), F.lit(0)))
    for i in range(1, n):
        nxt = F.slice(toks, i + 1, F.greatest(size - (n - 1), F.lit(0)))
        out = F.zip_with(out, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return out


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_ngrams_matches_old(texts_df, n):
    _assert_cols_equal(
        texts_df, _old_ngrams(F.col("text"), n), ngrams(F.col("text"), n),
        f"ngrams n={n}",
    )


# --- BPE pair counts (regex / arrays_zip vs per-position element_at) ------

def test_bpe_char_pairs_match_old(texts_df):
    w = texts_df.select(F.explode(word_tokens(F.col("text"))).alias("__w")).filter(
        F.length("__w") >= 2
    )
    bad = (
        w.select(
            F.transform(
                F.sequence(F.lit(1), F.length("__w") - 1),
                lambda i: F.substring(F.col("__w"), i, 2),
            ).alias("o"),
            F.regexp_extract_all(
                F.col("__w"), F.lit("(?s)(?=(.{2}))."), F.lit(1)
            ).alias("n"),
        )
        .filter(~(F.col("o") == F.col("n")))
        .collect()
    )
    assert not bad, f"bpe char pairs: {bad[:3]}"


def test_bpe_symbol_pair_counts_match_old(spark, texts_df):
    from ehr_data_pipeline_spark.operators.text_analysis import (
        BPE_SEP,
        _initial_state,
        bpe_symbol_pair_counts,
    )

    state = _initial_state(texts_df, "word")
    a = F.split(F.col("syms"), BPE_SEP)
    old = (
        state.select(a.alias("__a"))
        .filter(F.size("__a") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__a") - 1),
                    lambda i: F.struct(
                        F.element_at("__a", i).alias("l"),
                        F.element_at("__a", i + 1).alias("r"),
                    ),
                )
            ).alias("__p")
        )
        .select("__p.l", "__p.r")
        .groupBy("l", "r")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    new = bpe_symbol_pair_counts(state)
    diff = old.exceptAll(new).unionAll(new.exceptAll(old)).collect()
    assert not diff, f"bpe_symbol_pair_counts: {diff[:5]}"
