"""DSIR importance-resampling operator tests (operators/selection.py)."""

import math

import pyspark.sql.functions as F
import pytest

from lion_parcel_etl_spark.operators.selection import (
    DSIR_BUCKETS,
    bucket_counts,
    dsir_fit,
    dsir_logratio,
    dsir_select,
    dsir_weights,
    feature_buckets,
)


def _fit(docs, target_filter):
    tgt = bucket_counts(feature_buckets(docs.filter(target_filter)), "t")
    raw = bucket_counts(feature_buckets(docs), "r")
    return dsir_logratio(tgt, raw)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "good clean prose with good structure", "target"),
            (2, "good clean prose with fine structure", "pool"),
            (3, "spam spam buy now spam buy", "pool"),
            (4, "", "pool"),          # no features -> absent from weights
            (5, None, "pool"),        # null text  -> absent from weights
        ],
        "doc_id long, text string, src string",
    )


def test_feature_counts_unigrams_plus_bigrams(spark, corpus):
    feats = feature_buckets(corpus)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in feats.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    # 6 tokens -> 6 unigrams + 5 bigrams; empty/null docs emit nothing
    assert per_doc == {1: 11, 2: 11, 3: 11}


def test_target_like_docs_score_higher(spark, corpus):
    lr = _fit(corpus, F.col("src") == "target")
    w = {r["doc_id"]: r["logw"] for r in dsir_weights(corpus, lr).collect()}
    assert set(w) == {1, 2, 3}
    # doc2 shares 9/11 features with the target doc; doc3 shares none
    assert w[1] > w[2] > w[3]


def test_weights_deterministic_across_runs(spark, corpus):
    lr = _fit(corpus, F.col("src") == "target")
    a = sorted(map(tuple, dsir_weights(corpus, lr).collect()))
    b = sorted(map(tuple, dsir_weights(corpus, lr).collect()))
    assert a == b


def test_select_is_weighted_without_replacement(spark, corpus):
    lr = _fit(corpus, F.col("src") == "target")
    w = dsir_weights(corpus, lr)
    sel = dsir_select(w, 2).collect()
    assert len(sel) == 2
    assert len({r["doc_id"] for r in sel}) == 2          # no replacement
    ids = {r["doc_id"] for r in w.collect()}
    assert all(r["doc_id"] in ids for r in sel)
    # keys are sorted descending and finite
    keys = [r["gkey"] for r in sel]
    assert keys == sorted(keys, reverse=True)
    assert all(math.isfinite(k) for k in keys)


def test_select_k_larger_than_pool_returns_all(spark, corpus):
    lr = _fit(corpus, F.col("src") == "target")
    sel = dsir_select(dsir_weights(corpus, lr), 50)
    assert sel.count() == 3


def test_one_pass_fit_matches_two_pass(spark, corpus):
    """dsir_fit (single feature pass, conditional histogram) must equal
    the two-DataFrame dsir_logratio fit bit-for-bit when the target is
    a slice of the pool — counts are integers, the log arithmetic is
    identical, only the plan shape differs."""
    two = {r["bucket"]: r["lr"] for r in
           _fit(corpus, F.col("src") == "target").collect()}
    one = {r["bucket"]: r["lr"] for r in
           dsir_fit(corpus, F.col("src") == "target").collect()}
    assert one == two


def test_logratio_smoothing_bounds(spark, corpus):
    """Add-one smoothing keeps every ratio finite, and a bucket seen
    only in raw scores below one seen in both (target mass missing)."""
    lr = _fit(corpus, F.col("src") == "target")
    vals = [r["lr"] for r in lr.collect()]
    assert all(math.isfinite(v) for v in vals)
    assert len(vals) <= DSIR_BUCKETS
