"""Hashed-feature logistic-regression classifier tests
(operators/classifier.py)."""

import pyspark.sql.functions as F
import pytest

from lion_parcel_etl_spark.operators.classifier import (
    BIAS_BUCKET,
    doc_features,
    logreg_fit,
    logreg_score,
)
from lion_parcel_etl_spark.operators.dedup import pin


@pytest.fixture(scope="module")
def corpus(spark):
    """Linearly separable corpus: positives share discriminative
    vocabulary ('excellent', 'superb'), negatives share ('spam',
    'junk'), everyone shares filler words."""
    pos = [
        (i, f"excellent superb prose the a of and filler number {i % 7}")
        for i in range(30)
    ]
    neg = [
        (i + 100, f"spam junk noise the a of and filler number {i % 7}")
        for i in range(30)
    ]
    return spark.createDataFrame(pos + neg, "doc_id long, text string")


def test_learns_separable_labels(corpus):
    feats = pin(doc_features(corpus, F.col("text").contains("excellent")))
    w = logreg_fit(feats, steps=4, lr=1.0)
    scored = logreg_score(feats, w)
    acc = scored.agg(
        F.avg((F.col("pred") == F.col("y")).cast("double"))
    ).collect()[0][0]
    assert acc >= 0.95
    feats.unpersist()


def test_weights_point_the_right_way(corpus):
    """The learned model must weight the positive-class vocabulary
    above the negative-class vocabulary — not just memorize a bias."""
    import hashlib

    from lion_parcel_etl_spark.operators.selection import DSIR_BUCKETS

    feats = pin(doc_features(corpus, F.col("text").contains("excellent")))
    w = logreg_fit(feats, steps=4, lr=1.0)

    def bucket(tok: str) -> int:
        # the operator's md5 spelling: first 15 hex chars mod buckets
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % DSIR_BUCKETS

    assert w[bucket("excellent")] > 0 > w[bucket("spam")]
    feats.unpersist()


def test_bias_row_present_once_per_doc(corpus):
    feats = doc_features(corpus, F.col("text").contains("excellent"))
    bias = feats.filter(F.col("bucket") == BIAS_BUCKET)
    assert bias.count() == corpus.count()
    assert bias.select("doc_id").distinct().count() == corpus.count()
    assert bias.agg(F.min("x"), F.max("x")).collect()[0] == (1.0, 1.0)


def test_null_and_empty_text_excluded(spark):
    docs = spark.createDataFrame(
        [(1, "excellent words here"), (2, None), (3, ""), (4, "spam words here")],
        "doc_id long, text string",
    )
    feats = doc_features(docs, F.coalesce(F.col("text"), F.lit("")).contains("excellent"))
    ids = {r["doc_id"] for r in feats.select("doc_id").distinct().collect()}
    assert ids == {1, 4}


def test_probabilities_rounded_and_bounded(corpus):
    feats = pin(doc_features(corpus, F.col("text").contains("excellent")))
    w = logreg_fit(feats, steps=3, lr=1.0)
    rows = logreg_score(feats, w).collect()
    for r in rows:
        assert 0.0 <= r["p"] <= 1.0
        assert r["p"] == round(r["p"], 6)
        assert r["pred"] == (1 if r["p"] >= 0.5 else 0)
    feats.unpersist()


def test_logreg_fit_empty_corpus_returns_empty_model(spark):
    docs = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    feats = doc_features(docs, F.lit(False))
    assert logreg_fit(feats) == {}


def test_logreg_fit_rejects_biasless_feature_table(spark):
    feats = spark.createDataFrame(
        [(1, 0, 7, 1.0)], "doc_id long, y int, bucket int, x double"
    )
    with pytest.raises(Exception, match="BIAS_BUCKET"):
        logreg_fit(feats)
