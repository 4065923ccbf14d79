"""DSIR importance resampling: feature construction, smoothing math,
blank-doc handling, deterministic selection."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from monday_etl_spark.extensions.dsir import (
    dsir_scores,
    dsir_select,
    feature_buckets,
    ngram_features,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_ngram_features_unigrams_plus_bigrams(spark):
    df = spark.createDataFrame([("a b c",)], "text string")
    got = df.select(ngram_features(F.col("text")).alias("f")).first().f
    assert got == ["a", "b", "c", "a b", "b c"]


def test_ngram_features_edges(spark):
    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "   "), (4, "  x   y  ")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", ngram_features(F.col("text")).alias("f")
        ).collect()
    }
    assert got[1] == ["solo"]  # one word: no bigram
    assert got[2] == [] and got[3] == []  # blank: no features
    assert got[4] == ["x", "y", "x y"]  # trim + multi-space split


def test_feature_buckets_range_and_determinism(spark):
    df = spark.createDataFrame([("alpha beta gamma",)], "text string")
    a = df.select(feature_buckets(F.col("text"), 64).alias("b")).first().b
    b = df.select(feature_buckets(F.col("text"), 64).alias("b")).first().b
    assert a == b
    assert all(0 <= x < 64 for x in a)


def test_dsir_scores_hand_computed(spark):
    # One-word docs -> one unigram feature each; B=4 keeps arithmetic tiny.
    # Choose words by their observed buckets so the example is stable:
    df = _docs(spark, [(1, "q", "en"), (2, "q", "de"), (3, "zz", "de")])
    rows = df.select(
        F.explode(feature_buckets(F.col("text"), 4)).alias("b"), "doc_id"
    ).collect()
    bucket = {r.doc_id: r.b for r in rows}
    bq, bz = bucket[1], bucket[3]
    got = {
        r.doc_id: r.importance
        for r in dsir_scores(
            df, F.col("lang") == "en", n_buckets=4
        ).collect()
    }
    rt, tt, b4 = 3, 1, 4
    if bq == bz:
        # all three features share a bucket: everyone gets the same ratio
        exp_q = exp_z = ((1 + 1) / (3 + 1)) * ((rt + b4) / (tt + b4))
    else:
        exp_q = ((1 + 1) / (2 + 1)) * ((rt + b4) / (tt + b4))
        exp_z = ((0 + 1) / (1 + 1)) * ((rt + b4) / (tt + b4))
    assert math.isclose(got[1], exp_q, rel_tol=1e-12)
    assert math.isclose(got[2], exp_q, rel_tol=1e-12)
    assert math.isclose(got[3], exp_z, rel_tol=1e-12)
    # the target-matching word outranks the target-absent one
    assert got[1] > got[3]


def test_dsir_blank_docs_omitted(spark):
    df = _docs(spark, [(1, "a b", "en"), (2, "", "en"), (3, "c", "de")])
    ids = {r.doc_id for r in dsir_scores(df, F.col("lang") == "en").collect()}
    assert ids == {1, 3}


def test_dsir_select_topk_deterministic_tiebreak(spark):
    # identical docs tie exactly -> doc_id breaks the tie
    df = _docs(spark, [(i, "same text here", "en") for i in range(5)])
    got = [r.doc_id for r in dsir_select(df, F.col("lang") == "en", k=3).collect()]
    assert got == [0, 1, 2]


def test_dsir_target_subset_ranks_target_like_higher(spark):
    df = _docs(
        spark,
        [(1, "spark shuffle join", "en"), (2, "spark shuffle join", "en"),
         (3, "völlig andere wörter", "de"), (4, "spark shuffle join", "de"),
         (5, "völlig andere wörter", "de")],
    )
    s = {r.doc_id: r.importance
         for r in dsir_scores(df, F.col("lang") == "en").collect()}
    # doc 4 matches the en-target text exactly -> beats the de-only docs
    assert s[4] > s[3] and s[4] == s[1]


def test_dsir_scores_releases_cached_frame(spark):
    """dsir_scores holds no cache or checkpoint: right after ``collect()``
    no persistent RDD is left, with no wait on garbage collection. The
    feature pass still runs once — the consumers of the per-(doc, bucket)
    counts share one shuffle, read back as ReusedExchange."""

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persistent_ids()
    df = _docs(spark, [(1, "a b", "en"), (2, "c d", "de")])
    scored = dsir_scores(df, F.col("lang") == "en")
    scored.collect()
    assert persistent_ids() - before == set(), (
        "dsir_scores left cached RDDs behind"
    )
    final = scored._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    assert final.count("Generate explode") == 1, final
    assert "ReusedExchange" in final, final


def test_dsir_helper_columns_do_not_collide(spark):
    """_exploded stages helper columns onto select('*', ...); an input that
    already carries __toks/__ngs must not produce ambiguous references."""
    df = spark.createDataFrame(
        [(1, "a b", "en", "x", "y"), (2, "c", "de", "x", "y")],
        "doc_id long, text string, lang string, __toks string, __ngs string",
    )
    got = {r.doc_id for r in dsir_scores(df, F.col("lang") == "en").collect()}
    assert got == {1, 2}
