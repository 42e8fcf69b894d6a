"""Invariant tests for the subquery/temporal query extensions
(reference sample queries retail_transactions_scd.sql:260-317 and the
TPC-H Q4/Q17/Q18 subquery shapes). Value-level equality vs DuckDB is
covered by tools/check_oracles.py; these assert structural invariants.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lion_parcel_etl_spark.plans.queries import (
    TT_INSTANT,
    q_exists_subquery,
    q_having_agg,
    q_interval_arith,
    q_scalar_subquery,
    q_scd2_timetravel,
    q_scd2_version_count,
    q_window_running,
    _t,
)


def test_timetravel_one_version_per_key(spark, sf_dir):
    df = q_scd2_timetravel(spark, sf_dir).cache()
    rows = df.count()
    assert rows > 0
    # an instant selects at most one validity interval per key
    assert df.select("user_id").distinct().count() == rows
    bad = df.filter(
        (F.lit(TT_INSTANT) < F.col("valid_from")) | (F.lit(TT_INSTANT) > F.col("valid_to"))
    ).count()
    assert bad == 0
    df.unpersist()


def test_version_count_invariants(spark, sf_dir):
    df = q_scd2_version_count(spark, sf_dir).cache()
    assert df.filter(F.col("version_count") < 1).count() == 0
    # every key carries exactly one current version => last_updated set
    assert df.filter(F.col("last_updated").isNull()).count() == 0
    assert df.filter(F.col("first_seen") > F.col("last_updated")).count() == 0
    df.unpersist()


def test_exists_subquery_bounded_by_orders(spark, sf_dir):
    total = _t(spark, sf_dir, "orders").count()
    agg = q_exists_subquery(spark, sf_dir).agg(F.sum("order_count")).first()[0]
    assert 0 < agg <= total


def test_scalar_subquery_below_avg_only(spark, sf_dir):
    df = q_scalar_subquery(spark, sf_dir)
    rows = df.collect()
    assert rows and all(r.n_below > 0 and r.sum_price > 0 for r in rows)


def test_having_threshold_enforced(spark, sf_dir):
    df = q_having_agg(spark, sf_dir)
    assert df.count() > 0
    assert df.filter(F.col("sum_qty") <= 120).count() == 0


def test_window_running_monotone(spark, sf_dir):
    df = q_window_running(spark, sf_dir).cache()
    assert df.filter(F.col("seq") == 1).filter(F.col("prev_price").isNotNull()).count() == 0
    # positive prices => running sum strictly increases with seq
    w_prev = df.select(
        "o_custkey", "seq", F.col("running_spend").alias("rs")
    )
    j = df.join(
        w_prev.withColumnRenamed("seq", "pseq").withColumnRenamed("rs", "prev_rs"),
        (df.o_custkey == w_prev.o_custkey) & (df.seq == F.col("pseq") + 1),
    )
    assert j.filter(F.col("running_spend") <= F.col("prev_rs")).count() == 0
    df.unpersist()


def test_interval_window_bounds(spark, sf_dir):
    df = q_interval_arith(spark, sf_dir).cache()
    assert df.count() > 0
    assert df.filter((F.col("age_days") < 1) | (F.col("age_days") > 90)).count() == 0
    # sla_ts = order_ts + 7 days => strictly later as fixed-width string
    assert df.filter(F.col("sla_ts") <= F.col("order_ts")).count() == 0
    df.unpersist()


def test_window_ranks_bounds(spark, sf_dir):
    from lion_parcel_etl_spark.plans.queries import q_window_ranks

    df = q_window_ranks(spark, sf_dir).cache()
    assert df.filter((F.col("quartile") < 1) | (F.col("quartile") > 4)).count() == 0
    assert df.filter((F.col("prnk") < 0) | (F.col("prnk") > 1)).count() == 0
    assert df.filter(F.col("drnk") > F.col("rnk")).count() == 0
    df.unpersist()


def test_date_spine_has_every_day(spark, sf_dir):
    from lion_parcel_etl_spark.plans.queries import q_date_spine_fill

    df = q_date_spine_fill(spark, sf_dir).cache()
    assert df.count() == 31  # full January spine regardless of data gaps
    assert df.select("day").distinct().count() == 31
    assert df.filter(F.col("n") < 0).count() == 0
    df.unpersist()


def test_full_outer_presence_partition(spark, sf_dir):
    from lion_parcel_etl_spark.plans.queries import q_full_outer_join

    df = q_full_outer_join(spark, sf_dir).cache()
    both = df.filter("presence = 'both'")
    only = df.filter("presence != 'both'")
    assert df.count() == both.count() + only.count()
    # unmatched sides were zero-filled, never negative/null
    assert df.filter(F.col("n_orders").isNull() | F.col("n_events").isNull()).count() == 0
    df.unpersist()


def test_star_join_revenue_positive(spark, sf_dir):
    from lion_parcel_etl_spark.plans.queries import q_star_join_revenue

    rows = q_star_join_revenue(spark, sf_dir).collect()
    assert rows and all(r.revenue > 0 and r.n_lines > 0 for r in rows)


def test_min_cost_supplier_is_true_min(spark, sf_dir):
    from lion_parcel_etl_spark.plans.queries import q_min_cost_supplier

    df = q_min_cost_supplier(spark, sf_dir).cache()
    assert df.count() > 0
    li_min = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.min("l_extendedprice").alias("true_min"))
    )
    bad = (
        df.join(li_min, "p_partkey")
        .filter(F.col("min_price") != F.col("true_min"))
        .count()
    )
    assert bad == 0
    df.unpersist()


def test_exclusive_returns_bounded(spark, sf_dir):
    from lion_parcel_etl_spark.plans.queries import q_exclusive_returns

    df = q_exclusive_returns(spark, sf_dir).cache()
    assert df.filter(F.col("numwait") < 1).count() == 0
    total = df.agg(F.sum("numwait")).first()[0] or 0
    r_pairs = (
        _t(spark, sf_dir, "lineitem")
        .filter("l_returnflag = 'R'")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .count()
    )
    assert 0 < total <= r_pairs
    df.unpersist()


def test_sliding_window_double_counts(spark, sf_dir):
    from lion_parcel_etl_spark.plans.queries import q_sliding_window

    n_events = _t(spark, sf_dir, "events").count()
    total = q_sliding_window(spark, sf_dir).agg(F.sum("n_events")).first()[0]
    # width 2d / slide 1d: every event lands in exactly two windows
    assert total == 2 * n_events


def test_ntile_quartiles_balanced_and_ordered(spark, sf_dir):
    from lion_parcel_etl_spark.plans.queries import q_ntile_quartiles

    rows = sorted(
        q_ntile_quartiles(spark, sf_dir).collect(), key=lambda r: r.quartile
    )
    assert [r.quartile for r in rows] == [1, 2, 3, 4]
    sizes = [r.n_orders for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert sum(sizes) == _t(spark, sf_dir, "orders").count()
    for lo, hi in zip(rows, rows[1:]):
        assert lo.price_max <= hi.price_min


def test_mode_median_first_principles(spark, sf_dir):
    from lion_parcel_etl_spark.plans.queries import q_mode_median

    li = _t(spark, sf_dir, "lineitem").cache()
    for r in q_mode_median(spark, sf_dir).collect():
        grp = li.filter(F.col("l_returnflag") == r.l_returnflag)
        counts = {
            row.l_quantity: row.cnt
            for row in grp.groupBy("l_quantity")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        top = max(counts.values())
        assert counts[r.qty_mode] == top
        assert r.qty_mode == min(q for q, c in counts.items() if c == top)
        vals = sorted(v.l_quantity for v in grp.select("l_quantity").collect())
        n = len(vals)
        expect = (vals[(n - 1) // 2] + vals[n // 2]) / 2.0
        assert abs(r.qty_median - expect) < 1e-9
    li.unpersist()


def test_lm_surprisal_ranks_rare_text_higher(spark, sf_dir):
    from lion_parcel_etl_spark.plans.queries import q_lm_surprisal
    from lion_parcel_etl_spark.operators.dedup import tokens as tok_fn

    df = q_lm_surprisal(spark, sf_dir).cache()
    assert df.filter(F.col("avg_surprisal") <= 0).count() == 0
    # n_bigrams = token count - 1 for every scored doc
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.size(tok_fn(F.col("text"))) - 1).alias("expect")
    )
    bad = (
        df.join(docs, "doc_id")
        .filter(F.col("n_bigrams") != F.col("expect"))
        .count()
    )
    assert bad == 0
    # docs with < 2 tokens are unscored; everything else appears once
    scorable = docs.filter(F.col("expect") >= 1).count()
    assert df.count() == scorable
    df.unpersist()


def test_event_transitions_probabilities_normalize(spark, sf_dir):
    from lion_parcel_etl_spark.plans.queries import q_event_transitions

    df = q_event_transitions(spark, sf_dir).cache()
    assert df.filter((F.col("prob") <= 0) | (F.col("prob") > 1)).count() == 0
    sums = df.groupBy("event_type").agg(F.sum("prob").alias("s")).collect()
    assert sums and all(abs(r.s - 1.0) < 1e-4 for r in sums)
    df.unpersist()


def test_cohort_retention_bounds(spark, sf_dir):
    from lion_parcel_etl_spark.plans.queries import q_cohort_retention

    df = q_cohort_retention(spark, sf_dir).cache()
    assert df.count() > 0
    assert df.filter((F.col("retention") <= 0) | (F.col("retention") > 1)).count() == 0
    assert df.filter(F.col("week") < F.col("cohort_week")).count() == 0
    # the cohort's own first week is fully retained by construction
    assert (
        df.filter(F.col("week") == F.col("cohort_week"))
        .filter(F.col("retention") != 1.0)
        .count()
        == 0
    )
    df.unpersist()


def test_pagerank_is_a_distribution(spark, sf_dir):
    from lion_parcel_etl_spark.plans.queries import q_pagerank

    df = q_pagerank(spark, sf_dir).cache()
    n = df.count()
    assert n > 0
    assert df.filter(F.col("rank") <= 0).count() == 0
    total = df.agg(F.sum("rank")).first()[0]
    # power iteration preserves total mass = 1 (no dangling nodes:
    # every node has out-degree >= 1 by construction)
    assert abs(total - 1.0) < 1e-6
    df.unpersist()


def test_split_leakage_only_cross_split_spans(spark, sf_dir):
    """Every reported span must involve both sides of the split, and
    the query must agree with dup_spans restricted to cross-split
    pairs at the same window size."""
    from lion_parcel_etl_spark.plans.queries import QUERIES

    leak = QUERIES["split_leakage"].build(spark, sf_dir)
    rows = leak.collect()
    assert all(r.n_train_docs > 0 and r.n_eval_docs > 0 for r in rows)
    # subset of all duplicated spans
    dup = {r.span_hash for r in QUERIES["dup_spans"].build(spark, sf_dir).collect()}
    assert {r.span_hash for r in rows} <= dup


def test_lm_backoff_tiers_and_values(spark, tmp_path):
    """Hand-checkable stupid-backoff: train = doc 0 only; doc 1 hits
    each tier. Train text 'a b c a b d' gives trigrams {abc, bca,
    cab, abd}, bigrams {ab:2, bc, ca, bd}, unigrams {a:2, b:2, c, d},
    N=6, V=4."""
    import math

    import pandas as pd

    from lion_parcel_etl_spark.plans.queries import LM_ALPHA_LOG2, q_lm_backoff

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["a b c a b d", "a b c x d"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [11, 9],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    out = {r["doc_id"]: r.asDict() for r in q_lm_backoff(spark, str(tmp_path)).collect()}
    # doc 1 trigrams: (a,b,c) seen -> tier1 surprisal log2(c12=2)-log2(1)=1
    #                 (b,c,x) unseen, (c,x) unseen, x unseen -> tier3
    #                 (c,x,d) unseen, (x,d) unseen, d seen c=1 -> tier3
    r1 = out[1]
    assert (r1["n_tier1"], r1["n_tier2"], r1["n_tier3"]) == (1, 0, 2)
    s1 = 1.0
    s2 = -2 * LM_ALPHA_LOG2 + math.log2(6 + 4) - math.log2(0 + 1)
    s3 = -2 * LM_ALPHA_LOG2 + math.log2(6 + 4) - math.log2(1 + 1)
    assert r1["avg_surprisal"] == round((s1 + s2 + s3) / 3, 6)
    # doc 0 scores fully in-domain: every trigram tier 1
    assert out[0]["n_tier3"] == 0


def test_gopher_audit_rates_consistent(spark):
    from lion_parcel_etl_spark.plans.queries import q_gopher_audit

    rows = q_gopher_audit(spark, "/root/testdata/sf0.001").collect()
    assert rows and all(0.0 <= r["keep_rate"] <= 1.0 for r in rows)
    # a doc failing any rule can't be kept: keep_rate <= 1 - max(fail)
    for r in rows:
        worst = max(
            r["fail_word_count"], r["fail_word_len"],
            r["fail_stopwords"], r["fail_repetition"],
        )
        assert r["keep_rate"] <= 1.0 - worst + 1e-9


def test_embedding_outliers_flags_low_cosine(spark):
    from lion_parcel_etl_spark.plans.queries import (
        EMB_OUTLIER_TAU,
        q_embedding_outliers,
    )

    rows = q_embedding_outliers(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["is_outlier"] == (r["centroid_cos"] < EMB_OUTLIER_TAU)
    flagged = sum(r["is_outlier"] for r in rows) / len(rows)
    assert 0.0 < flagged < 0.5  # the threshold separates, not degenerate


def test_training_mix_pipeline_stage_invariants(spark):
    """Every output doc passed the quality filter, fit its source's
    token budget, landed in the train split, and its bin start offset
    is below the pack budget boundary arithmetic."""
    from pyspark.sql import functions as F

    from lion_parcel_etl_spark.plans.queries import (
        PACK_BUDGET,
        PACK_SHARDS,
        q_gopher_rules,
        q_token_budget_mix,
        q_training_mix_pipeline,
    )

    sf = "/root/testdata/sf0.001"
    out = q_training_mix_pipeline(spark, sf).collect()
    assert out
    keep = {r["doc_id"] for r in q_gopher_rules(spark, sf).collect() if r["keep"]}
    assert {r["doc_id"] for r in out} <= keep
    assert all(0 <= r["shard"] < PACK_SHARDS for r in out)
    # bins are contiguous from 0 within each shard
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], set()).add(r["bin"])
    for bins in by_shard.values():
        assert bins == set(range(max(bins) + 1))


def test_null_text_rows_score_null_not_negative(spark, tmp_path):
    """The size(NULL) = -1 hazard class (review findings): a NULL-text
    doc must yield NULL counts and NULL rule verdicts in gopher_rules
    (matching the oracle's len(NULL)), and contribute nothing — not
    -1 — to the fertility word sum."""
    import pandas as pd

    from lion_parcel_etl_spark.operators.text import gopher_rules

    df = spark.createDataFrame(
        [(1, "the quick doc is a fine one"), (2, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in gopher_rules(df).collect()}
    assert rows[2]["n_words"] is None
    assert rows[2]["stopword_hits"] is None
    assert rows[2]["r_word_count"] is None
    assert rows[2]["keep"] is False  # NULL AND false-able chain -> never kept
    assert rows[1]["n_words"] == 7

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["aa bb aa bb", None],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [11, 0],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    from lion_parcel_etl_spark.plans.queries import q_bpe_fertility

    r = q_bpe_fertility(spark, str(tmp_path)).collect()
    assert len(r) == 1 and r[0]["n_words"] == 4  # NULL doc adds nothing


def test_bpe_encode_oracle_survives_early_stop(spark, tmp_path):
    """All-single-character corpus: the trainer learns ZERO merges
    (early stop) and the DuckDB oracle must still return every doc
    (LEFT JOIN ON TRUE over the empty merge CTEs), matching Spark."""
    import duckdb
    import pandas as pd

    from lion_parcel_etl_spark.plans.queries import (
        _duck_bpe_encode,
        q_bpe_encode,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["a b c", "d e"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [5, 3],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    got = {
        (r["doc_id"], r["n_pieces"], r["pieces"])
        for r in q_bpe_encode(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    want = set(map(tuple, con.execute(_duck_bpe_encode()).fetchall()))
    assert got == want
    assert got == {(0, 3, "a b c"), (1, 2, "d e")}


def test_perplexity_buckets_tertile_invariants(spark):
    """Per language: tertile sizes differ by at most one (NTILE
    contract), and the head/middle/tail buckets are ordered by
    surprisal — max(head) <= min(middle) <= ... (ties broken by
    doc_id can't reorder values across buckets)."""
    from collections import defaultdict

    from lion_parcel_etl_spark.plans.queries import q_perplexity_buckets

    rows = q_perplexity_buckets(spark, "/root/testdata/sf0.001").collect()
    by_lang = defaultdict(lambda: defaultdict(list))
    for r in rows:
        by_lang[r["lang"]][r["ppl_bucket"]].append(r["avg_surprisal"])
    assert by_lang
    for lang, buckets in by_lang.items():
        sizes = [len(buckets[b]) for b in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        assert max(buckets["head"]) <= min(buckets["middle"])
        assert max(buckets["middle"]) <= min(buckets["tail"])


def test_rfm_approx_agreement_floor(spark, sf_dir):
    """Admissibility floor for the zero-sort RFM path (r06 verdict
    item 3, the ann_recall discipline). Disagreement has two distinct
    sources, and the floors reflect them:

    - monetary_cents is near-unique per customer, so m_match is pure
      BOUNDARY SAMPLING error (the 1/16 md5 sample's quantile rank
      error) — high floor, and the component that tightens as the
      absolute sample size grows with the corpus;
    - frequency has ~20 distinct values over all customers, so exact
      NTILE(5) must split tie-groups by the custkey tie-break while
      width-bucketing keeps equal values together (defensibly MORE
      meaningful for segmentation) — f_match is structurally lower
      and no amount of sampling fixes it, because tied customers have
      no stable exact-quintile answer at all."""
    from lion_parcel_etl_spark.plans.queries import (
        q_rfm_agreement,
        q_rfm_segments,
        q_rfm_segments_approx,
    )

    row = q_rfm_agreement(spark, sf_dir).collect()[0]
    assert row.n_customers == q_rfm_segments(spark, sf_dir).count()
    assert row.m_match >= 0.9
    assert row.r_match >= 0.75
    assert row.f_match >= 0.5
    assert row.segment_match >= 0.75
    # both twins cover every customer with the same schema
    exact = q_rfm_segments(spark, sf_dir)
    approx = q_rfm_segments_approx(spark, sf_dir)
    assert exact.columns == approx.columns
    assert approx.count() == row.n_customers
    # approx scores stay in the quintile range
    from pyspark.sql import functions as F

    bad = approx.filter(
        (F.col("r_score") < 1) | (F.col("r_score") > 5)
        | (F.col("f_score") < 1) | (F.col("f_score") > 5)
        | (F.col("m_score") < 1) | (F.col("m_score") > 5)
    ).count()
    assert bad == 0
