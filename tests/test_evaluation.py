"""Evaluation-operator tests (operators/evaluation.py +
similarity.cluster_quality): known-answer inputs, edge cases, and the
tie/degenerate handling the oracles rely on."""

import math

import pyspark.sql.functions as F
import pytest

from lion_parcel_etl_spark.operators.evaluation import (
    calibration_bins,
    roc_auc,
    rrf_fuse,
    zipf_fit,
)


def _scored(spark, rows):
    return spark.createDataFrame(rows, "p double, y int, pred int")


def test_roc_auc_perfect_and_reversed(spark):
    perfect = _scored(
        spark, [(0.9, 1, 1), (0.8, 1, 1), (0.2, 0, 0), (0.1, 0, 0)]
    )
    r = roc_auc(perfect).collect()[0]
    assert r["auc"] == 1.0 and r["n_pos"] == 2 and r["n_neg"] == 2
    assert r["accuracy"] == 1.0 and r["f1"] == 1.0
    reversed_ = _scored(
        spark, [(0.9, 0, 1), (0.8, 0, 1), (0.2, 1, 0), (0.1, 1, 0)]
    )
    assert roc_auc(reversed_).collect()[0]["auc"] == 0.0


def test_roc_auc_mid_rank_ties(spark):
    # one positive and one negative TIED at 0.5, plus one of each
    # clearly ordered: pairs = (p=.9 vs n=.5: win) + (p=.9 vs n=.1?) —
    # enumerate: pos {0.9, 0.5}, neg {0.5, 0.1}
    # (0.9,0.5)=1, (0.9,0.1)=1, (0.5,0.5)=0.5, (0.5,0.1)=1 → 3.5/4
    df = _scored(spark, [(0.9, 1, 1), (0.5, 1, 1), (0.5, 0, 1), (0.1, 0, 0)])
    assert roc_auc(df).collect()[0]["auc"] == 0.875


def test_roc_auc_single_class_yields_null(spark):
    df = _scored(spark, [(0.9, 1, 1), (0.8, 1, 1)])
    r = roc_auc(df).collect()[0]
    assert r["auc"] is None and r["n_neg"] == 0
    # precision defined (all predicted positive), recall 1.0
    assert r["recall"] == 1.0


def test_roc_auc_excludes_null_and_nan_scores(spark):
    # an unscored row has no rank: NULL/NaN scores must drop from BOTH
    # the rank sum and the class counts (Spark sorts NULLs first in a
    # window, SQL engines last — keeping them would silently diverge
    # the engines), exactly like NULL labels already did
    clean = _scored(
        spark, [(0.9, 1, 1), (0.8, 1, 1), (0.2, 0, 0), (0.1, 0, 0)]
    )
    noisy = _scored(
        spark,
        [
            (0.9, 1, 1),
            (0.8, 1, 1),
            (0.2, 0, 0),
            (0.1, 0, 0),
            (None, 1, 1),
            (float("nan"), 0, 0),
            (0.7, None, 1),
        ],
    )
    r_clean = roc_auc(clean).collect()[0]
    r_noisy = roc_auc(noisy).collect()[0]
    assert r_noisy == r_clean
    assert r_noisy["n_pos"] == 2 and r_noisy["n_neg"] == 2


def test_roc_auc_matches_sklearn_formula_on_random(spark):
    # hand-computed rank-sum on a fixed sample (no sklearn in sandbox)
    import random

    rng = random.Random(7)
    rows = [
        (round(rng.random(), 2), rng.randint(0, 1)) for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "p double, y int")
    got = roc_auc(df, pred_col=None).collect()[0]
    pos = sorted(p for p, y in rows if y == 1)
    neg = sorted(p for p, y in rows if y == 0)
    wins = sum(
        1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg
    )
    want = round(wins / (len(pos) * len(neg)), 6)
    assert got["auc"] == want


def test_pr_auc_hand_computed_with_ties_and_nulls(spark):
    """Step-interpolated AP on a worked example: scores desc
    .9(+) .8(−) .7(+) .6(+) .5(−) → AP = (1 + 2/3 + 3/4)/3; a
    pos/neg TIE enters as one group at its combined precision; NULL
    and NaN scores and NULL labels drop like roc_auc's."""
    from lion_parcel_etl_spark.operators.evaluation import pr_auc

    df = _scored(
        spark,
        [(0.9, 1, 1), (0.8, 0, 1), (0.7, 1, 1), (0.6, 1, 0), (0.5, 0, 0)],
    )
    r = pr_auc(df).collect()[0]
    assert r["ap"] == round((1.0 + 2.0 / 3.0 + 3.0 / 4.0) / 3.0, 6)
    assert (r["n_pos"], r["n_neg"]) == (3, 2)
    assert r["prevalence"] == 0.6

    # tie: one pos and one neg share 0.8 → single threshold group with
    # cum_tp=2, cum_fp=1 → AP = (1/2)·(1·1/1 + 1·2/3)
    tied = _scored(spark, [(0.9, 1, 1), (0.8, 1, 1), (0.8, 0, 1)])
    rt = pr_auc(tied).collect()[0]
    assert rt["ap"] == round((1.0 + 2.0 / 3.0) / 2.0, 6)

    noisy = _scored(
        spark,
        [
            (0.9, 1, 1), (0.8, 0, 1), (0.7, 1, 1), (0.6, 1, 0), (0.5, 0, 0),
            (None, 1, 1), (float("nan"), 0, 0), (0.4, None, 0),
        ],
    )
    assert pr_auc(noisy).collect()[0] == r

    # degenerate: no positives → NULL ap, not a division error
    negs = _scored(spark, [(0.9, 0, 0), (0.1, 0, 0)])
    assert pr_auc(negs).collect()[0]["ap"] is None


def test_agreement_kappa_known_values(spark):
    """Textbook 2×2: n11=20 n10=5 n01=10 n00=15 → po=.7,
    pe=(25·30+25·20)/50² = .5, κ = .4; perfect agreement κ=1;
    constant columns (pe=1) → NULL."""
    from lion_parcel_etl_spark.operators.evaluation import agreement_kappa

    rows = (
        [(1, 1)] * 20 + [(1, 0)] * 5 + [(0, 1)] * 10 + [(0, 0)] * 15
    )
    df = spark.createDataFrame(rows, "a int, b int")
    r = agreement_kappa(df, "a", "b").collect()[0]
    assert (r["n"], r["po"], r["pe"], r["kappa"]) == (50, 0.7, 0.5, 0.4)

    perfect = spark.createDataFrame([(1, 1), (0, 0)], "a int, b int")
    assert agreement_kappa(perfect, "a", "b").collect()[0]["kappa"] == 1.0

    const = spark.createDataFrame([(1, 1), (1, 1)], "a int, b int")
    assert agreement_kappa(const, "a", "b").collect()[0]["kappa"] is None

    # NULL on either side drops the row
    holey = spark.createDataFrame(
        [(1, 1), (None, 1), (0, None), (0, 0)], "a int, b int"
    )
    assert agreement_kappa(holey, "a", "b").collect()[0]["n"] == 2


def test_calibration_ece_is_weighted_gap_rollup(spark):
    """The ECE query equals Σ (n/N)·gap over its own bins — pinned
    against an independent recomputation from calibration_bins."""
    from lion_parcel_etl_spark.operators.evaluation import calibration_bins
    from lion_parcel_etl_spark.plans.queries import QUERIES, _session_store

    sf = "/root/testdata/sf0.001"
    got = QUERIES["calibration_ece"][0](spark, sf).collect()[0]
    bins = calibration_bins(_session_store(spark, sf, "qc_scored")).collect()
    n_total = sum(b["n"] for b in bins)
    want = round(sum(b["n"] * b["gap"] for b in bins) / n_total, 6)
    assert got["ece"] == want
    assert got["n_rows"] == n_total
    assert got["n_bins_nonempty"] == len(bins)


def test_calibration_bins_known_gaps(spark):
    rows = (
        [(0.95, 1)] * 9 + [(0.95, 0)]      # bin 9: conf .95, acc .9
        + [(0.15, 1)] * 5 + [(0.15, 0)] * 5  # bin 1: conf .15, acc .5
        + [(1.0, 1)]                        # p=1.0 folds into bin 9
    )
    df = spark.createDataFrame(rows, "p double, y int")
    out = {r["bin"]: r for r in calibration_bins(df).collect()}
    assert set(out) == {1, 9}
    assert out[9]["n"] == 11
    b1 = out[1]
    assert b1["mean_p"] == 0.15 and b1["frac_pos"] == 0.5
    assert b1["gap"] == 0.35


def test_rrf_fuse_known_scores_and_missing_items(spark):
    a = spark.createDataFrame(
        [("d1", 1), ("d2", 2), ("d3", 3)], "doc string, rnk long"
    )
    b = spark.createDataFrame(
        [("d2", 1), ("d4", 2)], "doc string, rnk long"
    )
    out = {r["doc"]: r for r in rrf_fuse(a, b, "doc", top_n=10).collect()}
    assert out["d2"]["rrf"] == round(1 / 62 + 1 / 61, 6)
    assert out["d1"]["rrf"] == round(1 / 61, 6)
    assert out["d4"]["rrf"] == round(1 / 62, 6)
    assert out["d4"]["rank_a"] is None and out["d4"]["rank_b"] == 2
    # d2 appears in both lists → top fused rank
    assert out["d2"]["fused_rank"] == 1
    # deterministic tie-break: d1 (1/61) vs d4's 1/62 — no tie here,
    # but equal-rrf items order by id (d3 absent from top only if cut)
    assert len(out) == 4


def test_rrf_fuse_keyed_matches_unkeyed_per_key(spark):
    """The keyed fusion restricted to one key is exactly the unkeyed
    fusion of that key's lists — the query dimension adds partitions,
    never different math."""
    from lion_parcel_etl_spark.operators.evaluation import rrf_fuse_keyed

    a = spark.createDataFrame(
        [("qa", "d1", 1), ("qa", "d2", 2), ("qb", "d3", 1)],
        "q string, doc string, rnk long",
    )
    b = spark.createDataFrame(
        [("qa", "d2", 1), ("qb", "d4", 1), ("qb", "d3", 2)],
        "q string, doc string, rnk long",
    )
    keyed = rrf_fuse_keyed(a, b, "q", "doc", top_n=10).collect()
    for key in ("qa", "qb"):
        single = {
            (r["doc"], r["rank_a"], r["rank_b"], r["rrf"], r["fused_rank"])
            for r in rrf_fuse(
                a.filter(F.col("q") == key).drop("q"),
                b.filter(F.col("q") == key).drop("q"),
                "doc",
                top_n=10,
            ).collect()
        }
        got = {
            (r["doc"], r["rank_a"], r["rank_b"], r["rrf"], r["fused_rank"])
            for r in keyed
            if r["q"] == key
        }
        assert got == single, key


def test_bm25_rank_keyed_matches_single_query(spark):
    """bm25_rank_keyed restricted to one query reproduces bm25_rank's
    scores and ranks exactly (the shared-corpus-pass factoring changes
    the plan, not the statistic)."""
    from lion_parcel_etl_spark.operators.text import bm25_rank, bm25_rank_keyed
    from lion_parcel_etl_spark.plans.queries import BM25_TERMS

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    single = {
        (r["doc_id"], r["score"], r["rnk"])
        for r in bm25_rank(docs, BM25_TERMS, top_n=20).collect()
    }
    multi = {
        (r["doc_id"], r["score"], r["rnk"])
        for r in bm25_rank_keyed(
            docs, [("q01", BM25_TERMS)], top_n=20
        ).collect()
    }
    assert multi == single
    # and inside the full eval set, q01's ranking is unchanged
    from lion_parcel_etl_spark.plans.queries import RETRIEVAL_QUERY_SET

    full = {
        (r["doc_id"], r["score"], r["rnk"])
        for r in bm25_rank_keyed(docs, RETRIEVAL_QUERY_SET, top_n=20).collect()
        if r["query_id"] == "q01"
    }
    assert full == single


def test_retrieval_ndcg_multi_bounds_and_mean(spark):
    """Per-query nDCG in [0, 1]; the __mean row is the average of the
    rounded per-query values."""
    from lion_parcel_etl_spark.plans.queries import (
        QUERIES,
        RETRIEVAL_QUERY_SET,
    )

    rows = QUERIES["retrieval_ndcg_multi"][0](
        spark, "/root/testdata/sf0.001"
    ).collect()
    per_q = {r["query_id"]: r for r in rows if r["query_id"] != "__mean"}
    assert set(per_q) == {qid for qid, _ in RETRIEVAL_QUERY_SET}
    for r in per_q.values():
        assert r["ndcg"] is None or 0.0 <= r["ndcg"] <= 1.0, r
        assert r["dcg"] >= 0.0 and (r["idcg"] is None or r["idcg"] > 0)
    mean = next(r for r in rows if r["query_id"] == "__mean")
    vals = [r["ndcg"] for r in per_q.values() if r["ndcg"] is not None]
    assert mean["ndcg"] == round(sum(vals) / len(vals), 6)


def test_zipf_fit_recovers_planted_exponent(spark):
    # plant an exact power law n(r) = round(1e6 * r^-0.8): the log-log
    # fit must recover slope ≈ -0.8 with r2 ≈ 1
    rows = [
        (f"t{r:04d}", int(1e6 * r ** -0.8)) for r in range(1, 301)
    ]
    df = spark.createDataFrame(rows, "token string, n long")
    got = zipf_fit(df, "n", "token", top_r=300).collect()[0]
    assert got["n_tokens"] == 300
    assert abs(got["slope"] + 0.8) < 0.01
    assert got["r2"] > 0.9999
    # ranking is by count desc: token names don't matter
    assert got["intercept"] == pytest.approx(math.log(1e6), abs=0.01)


def test_cluster_quality_separated_blobs(spark):
    """Two obvious blobs around orthogonal axes: cohesion near 1 within
    each, near-zero similarity between the two centroids."""
    from lion_parcel_etl_spark.operators.similarity import cluster_quality

    rows = []
    for i in range(20):
        eps = (i % 5) * 0.01
        # blob A: along +x; blob B: along +y — ids interleave so the
        # two lowest ids (the seeds at n_centroids=2) are one of each
        rows.append((2 * i, [1.0, eps, 0.0, 0.0]))
        rows.append((2 * i + 1, [eps, 1.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["cluster_id"]: r
        for r in cluster_quality(df, n_centroids=2).collect()
    }
    assert set(out) == {0, 1} and all(r["n"] == 20 for r in out.values())
    for r in out.values():
        assert r["cohesion"] > 0.999
        assert r["nearest_other_sim"] < 0.05


def test_cluster_quality_single_cluster_null_separation(spark):
    from lion_parcel_etl_spark.operators.similarity import cluster_quality

    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    out = cluster_quality(df, n_centroids=1).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == 5 and r["cohesion"] == 1.0
    assert r["nearest_other_sim"] is None  # no other centroid exists


def test_semantic_dedup_unchanged_by_assignment_refactor(spark):
    """seeded_assignment extraction must not move semantic_dedup's
    output: pin the keep-set on a corpus with planted near-dups."""
    from lion_parcel_etl_spark.operators.similarity import semantic_dedup

    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    rows += [(i, [1.0, 0.001 * i]) for i in range(2, 10)]     # dups of 0
    rows += [(i, [0.001 * i, 1.0]) for i in range(10, 14)]    # dups of 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semantic_dedup(df, 0.99, n_centroids=2).collect()}
    assert len(out) == 14
    assert out[0]["kept"] and out[1]["kept"]
    assert not any(out[i]["kept"] for i in range(2, 14))
    assert all(out[i]["cluster_id"] == 0 for i in range(2, 10))
    assert all(out[i]["cluster_id"] == 1 for i in range(10, 14))


def test_retrieval_ndcg_bounds_and_gain_sanity(spark):
    """nDCG of the hybrid ranking on the fixture corpus: bounded in
    (0, 1], and IDCG ≥ DCG by construction (ideal ordering)."""
    from lion_parcel_etl_spark.plans.queries import QUERIES

    r = QUERIES["retrieval_ndcg"][0](spark, "/root/testdata/sf0.001").collect()[0]
    assert r["idcg"] >= r["dcg"] > 0
    assert 0 < r["ndcg"] <= 1


def test_ann_recall_bounds_and_method_coverage(spark):
    """All three index methods report per-query recall in [0, 1]; the
    deterministic LSH/IVF/PQ configs recover a decent share of the
    exact top-5 on the fixture corpus (floors mirror
    tests/test_similarity.py's recall assertions)."""
    from lion_parcel_etl_spark.plans.queries import QUERIES

    rows = QUERIES["ann_recall"][0](spark, "/root/testdata/sf0.001").collect()
    by_method = {}
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0
        by_method.setdefault(r["method"], []).append(r["recall"])
    assert set(by_method) == {"lsh", "ivf_seeded", "pq"}
    # loose floor: the sf0.001 fixture corpus is tiny, so LSH buckets
    # are sparse — the real recall bars live in tests/test_similarity
    # at representative scale; here we pin non-degeneracy
    for method, recs in by_method.items():
        assert sum(recs) / len(recs) >= 0.2, (method, recs)
