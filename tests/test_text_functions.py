"""Text-function unit tests: tokenization edge cases, shingles,
quality bands, winnowing expression-vs-arrow agreement on semantics."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from schema_drift_detector_spark.functions.text import (
    bpe_ish_tokens,
    char_shingles,
    fingerprint_normalized,
    lang_id,
    quality_score,
    token_count,
    winnowing_fingerprint,
    winnowing_fingerprint_arrow,
)


def _one(spark, text, expr):
    return spark.createDataFrame([(text,)], ["t"]).select(expr.alias("v")).collect()[0].v


def test_token_count(spark):
    assert _one(spark, "a b c", token_count("t")) == 3
    assert _one(spark, "single", token_count("t")) == 1


def test_bpe_ish_tokens(spark):
    toks = _one(spark, "don't stop, 42,000 runs!", bpe_ish_tokens("t"))
    # contractions split off, digit runs chunk in threes, punctuation
    # runs separate, whitespace is never a token
    assert toks == ["don", "'t", "stop", ",", "42", ",", "000", "runs", "!"]
    assert _one(spark, "été 中文 x'y", bpe_ish_tokens("t")) == ["été", "中文", "x", "'", "y"]


def test_bpe_ish_tokens_duckdb_parity(spark):
    """The pattern must behave identically under Java regex and RE2 —
    pinned over adversarial fixtures (contractions, Unicode classes,
    digit chunking, apostrophe edge cases, separator runs)."""
    import duckdb

    from schema_drift_detector_spark.functions.text import bpe_ish_tokens_sql

    samples = [
        "it's John's 12345th try!!", "don't can't we'll I'm they've he'd",
        "price: $1,234.56 (50%)", "emoji ❤️ mix été café 中文词",
        "'''", "trailing'", "'leading", "x'y", "", "123456789",
        "a-b--c---d", "tabs\tand\nnewlines", "under_score dash-case",
        "  spaced   out  ",
        # U+000B: Java \s includes it, RE2's does not — the pattern
        # must treat it as a separator in BOTH engines (regression:
        # the \s-in-negated-class dialect divergence)
        "a\x0bb", "\x0b", "x \x0b\x0c\r y",
    ]
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "i long, s string"
    )
    got = {r.i: r.t for r in df.select("i", bpe_ish_tokens("s").alias("t")).collect()}
    con = duckdb.connect()
    for i, s in enumerate(samples):
        exp = con.sql(f"SELECT {bpe_ish_tokens_sql('?')}", params=[s]).fetchone()[0]
        assert got[i] == exp, (s, got[i], exp)


def test_char_shingles_short_text(spark):
    assert _one(spark, "ab", char_shingles("t", 5)) == ["ab"]
    sh = _one(spark, "abcdef", char_shingles("t", 5))
    assert sh == ["abcde", "bcdef"]


def test_lang_id_votes(spark):
    assert _one(spark, "the cat and the dog of it", lang_id("t")) == "en"
    assert _one(spark, "der hund und die katze ist", lang_id("t")) == "de"
    assert _one(spark, "zzz qqq xxx", lang_id("t")) == "und"
    # tie-break: deterministic first-in-sorted-order
    assert _one(spark, "la", lang_id("t")) in ("es", "fr")
    assert _one(spark, "la", lang_id("t")) == "es"


def test_quality_score_bounds(spark):
    for text in ["short", "x " * 200, "the and of to a in is it that for " * 20]:
        q = _one(spark, text, quality_score("t"))
        assert 0.0 <= q <= 1.0
    good = _one(spark, "the quick brown fox jumps over that lazy dog and runs far " * 4,
                quality_score("t"))
    bad = _one(spark, "!!!,,,...;;;???", quality_score("t"))
    assert good > bad


def test_fingerprint_normalized_order_insensitive(spark):
    a = _one(spark, "alpha beta gamma", fingerprint_normalized("t"))
    b = _one(spark, "gamma alpha beta", fingerprint_normalized("t"))
    assert a == b


def test_winnowing_arrow_fast_path(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # no two fixture texts are identical: plant a copy of every tenth doc
    # under a fresh id, and shuffle so copies land in other Arrow batches
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.select("doc_id", "text").unionByName(copies).repartition(3, "doc_id")
    fp = corpus.select("doc_id", winnowing_fingerprint_arrow("text").alias("fp")).collect()
    assert all(len(r.fp) > 0 for r in fp)
    # identical texts → identical fingerprints, whatever batch they are in
    by_id = {r.doc_id: r.fp for r in fp}
    a, b = corpus.alias("a"), corpus.alias("b")
    same = a.join(b, (F.col("a.text") == F.col("b.text")) & (F.col("a.doc_id") < F.col("b.doc_id")))
    pairs = same.select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")).collect()
    assert len(pairs) == copies.count() > 0
    for p in pairs:
        assert by_id[p.doc_a] == by_id[p.doc_b]


def test_repetition_features_semantics(spark):
    from schema_drift_detector_spark.functions.text import repetition_features

    rows = [
        (1, "a b c d e f g h"),            # 8 unique tokens
        (2, "a a a a a a a a"),            # one token repeated
        (3, "x y x y x y x y"),            # alternating pair
        (4, "one two"),                    # below 5-gram floor
        (5, "solo"),                       # below bigram floor
        (6, None),                         # null text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.rep.asDict()
        for r in df.select("doc_id", repetition_features("text").alias("rep")).collect()
    }
    assert got[1] == {"frac_dup_tokens": 0.0, "top_bigram_frac": 1 / 7, "dup_5gram_frac": 0.0}
    # doc 2: 1 distinct of 8; bigram 'a a' x7 of 7; 5-grams: 4 occurrences 1 distinct
    assert got[2] == {"frac_dup_tokens": 7 / 8, "top_bigram_frac": 1.0, "dup_5gram_frac": 3 / 4}
    # doc 3: 2 distinct; 'x y' x4 of 7; 5-grams: 4 occ, 2 distinct
    assert got[3]["frac_dup_tokens"] == 6 / 8
    assert got[3]["top_bigram_frac"] == 4 / 7
    assert got[3]["dup_5gram_frac"] == 2 / 4
    # a 2-token doc has exactly one bigram → the top fraction saturates
    # at 1.0 (quality specs pair these signals with length floors)
    assert got[4] == {"frac_dup_tokens": 0.0, "top_bigram_frac": 1.0, "dup_5gram_frac": 0.0}
    assert got[5] == {"frac_dup_tokens": 0.0, "top_bigram_frac": 0.0, "dup_5gram_frac": 0.0}
    assert all(v is None for v in got[6].values())

