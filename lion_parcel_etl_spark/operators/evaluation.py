"""Model/ranking evaluation operators: ROC-AUC, calibration, RRF
fusion, Zipf fit.

The round-3 statistics/ML layer fits and applies models (quality
classifier, DSIR selection, BM25/dense retrieval); this module closes
the loop with the standard EVALUATION statistics a data-curation
pipeline runs on those models — all deterministic, all expressible as
aggregates + bounded windows, so every one replays in a DuckDB oracle:

- **roc_auc**: threshold-free classifier quality via the Mann-Whitney
  rank-sum identity (AUC = P(score_pos > score_neg) + ½P(tie)),
  computed from per-distinct-score counts — the corpus aggregates to
  ≤ |distinct scores| rows BEFORE the only window, so the ranking
  never total-sorts raw rows.
- **calibration_bins**: reliability-diagram data (per-bin confidence
  vs empirical rate) — is p=0.9 right 90% of the time? One hash
  aggregate.
- **rrf_fuse**: reciprocal-rank fusion (Cormack et al. 2009) of two
  rankings of the same items — the standard hybrid-retrieval combiner
  (lexical BM25 + dense embedding ranks), robust to incomparable
  score scales because only RANKS enter.
- **zipf_fit**: log-log OLS of the token rank-frequency head — the
  classic corpus sanity diagnostic (natural text slopes ≈ −1; a far
  shallower or steeper head flags synthetic/degenerate data). Reuses
  the closed-form single-aggregate OLS from operators/checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def auc_from_score_counts(per_score: DataFrame) -> DataFrame:
    """(n_pos, n_neg, auc) from a per-DISTINCT-SCORE count table
    (s, np_, nn_) — the Mann-Whitney mid-rank rank-sum core of
    :func:`roc_auc`. The per-score counts are MERGEABLE (sum matching
    score rows), so count tables of disjoint splits yield the EXACT AUC
    of their union. The running-negatives window runs over distinct
    score values only."""
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_score.withColumn(
        "cum_nn", F.coalesce(F.sum("nn_").over(w), F.lit(0)).cast("double")
    )
    agg = cum.agg(
        F.sum("np_").alias("n_pos"),
        F.sum("nn_").alias("n_neg"),
        F.sum(
            F.col("np_") * (F.col("cum_nn") + F.col("nn_") / F.lit(2.0))
        ).alias("u"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.round(F.col("u") / (F.col("n_pos") * F.col("n_neg")), 6),
    )
    return agg.select("n_pos", "n_neg", auc.alias("auc"))


def roc_auc(
    scored: DataFrame,
    score_col: str = "p",
    label_col: str = "y",
    pred_col: str | None = "pred",
) -> DataFrame:
    """One-row evaluation summary: (n_pos, n_neg, auc[, accuracy,
    prec, recall, f1]) for a scored binary-labeled table.

    AUC via the Mann-Whitney identity with mid-rank tie handling:
    aggregate to one row per DISTINCT score first (n_pos/n_neg at that
    score), then a running-negatives window over those compacted rows
    gives each score's positives credit for all negatives below plus
    half the negatives tied — U / (n_pos·n_neg). The window is
    single-partition by construction, but it runs over distinct score
    values only (bounded by the score's rounding granularity — e.g.
    ≤1e6+1 rows for 6-decimal probabilities), never over the corpus;
    the corpus collapses in the map-side-combined count aggregate.
    All pre-division arithmetic is integer-and-halves, exact in
    doubles, so the statistic replays bit-for-bit in SQL.

    With ``pred_col`` given, thresholded confusion metrics (accuracy,
    precision as ``prec``, recall, f1) ride along from a second tiny
    aggregate. Degenerate inputs (a class absent) yield NULL for the
    undefined ratios rather than a division error.

    NULL/NaN scores are excluded along with NULL labels: an unscored
    row has no rank, and the two engines disagree on where NULLs sort
    (Spark Window.orderBy puts them first, SQL engines typically
    last), so keeping them would both skew n_pos/n_neg and silently
    diverge the running-negatives window across engines.
    """
    cols = [
        F.col(score_col).cast("double").alias("s"),
        F.col(label_col).cast("long").alias("y"),
    ]
    if pred_col is not None:
        cols.append(F.col(pred_col).cast("long").alias("pred"))
    s = scored.select(*cols).filter(
        F.col("y").isNotNull()
        & F.col("s").isNotNull()
        & ~F.isnan(F.col("s"))
    )

    if pred_col is None:
        per_score = s.groupBy("s").agg(
            F.sum("y").alias("np_"),
            F.sum(F.lit(1) - F.col("y")).alias("nn_"),
        )
        return auc_from_score_counts(per_score)

    # ONE corpus pass for AUC AND the confusion metrics (r09
    # optimization round — the old shape scanned the scored table
    # twice, once for the per-score counts and once for the confusion
    # sums, then cross-joined the two 1-row results): the four
    # confusion cells are exact-integer per-score partial sums, so
    # they ride the same per-distinct-score aggregate, pass through
    # the rank window as inert columns, and the single final aggregate
    # re-sums them next to the Mann-Whitney U — term-for-term the same
    # integers and the same AUC arithmetic as auc_from_score_counts
    # (which stays the canonical form for the pred-less path).
    per_score = s.groupBy("s").agg(
        F.sum("y").alias("np_"),
        F.sum(F.lit(1) - F.col("y")).alias("nn_"),
        F.sum(((F.col("pred") == 1) & (F.col("y") == 1)).cast("long")).alias("tp_"),
        F.sum(((F.col("pred") == 1) & (F.col("y") == 0)).cast("long")).alias("fp_"),
        F.sum(((F.col("pred") == 0) & (F.col("y") == 1)).cast("long")).alias("fn_"),
        F.sum(((F.col("pred") == 0) & (F.col("y") == 0)).cast("long")).alias("tn_"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_score.withColumn(
        "cum_nn", F.coalesce(F.sum("nn_").over(w), F.lit(0)).cast("double")
    )
    agg = cum.agg(
        F.sum("np_").alias("n_pos"),
        F.sum("nn_").alias("n_neg"),
        F.sum(
            F.col("np_") * (F.col("cum_nn") + F.col("nn_") / F.lit(2.0))
        ).alias("u"),
        F.sum("tp_").alias("tp"),
        F.sum("fp_").alias("fp"),
        F.sum("fn_").alias("fn"),
        F.sum("tn_").alias("tn"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.round(F.col("u") / (F.col("n_pos") * F.col("n_neg")), 6),
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))
    )
    rec = F.when(
        F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))
    )
    f1 = F.when(
        prec + rec > 0, F.lit(2.0) * prec * rec / (prec + rec)
    )
    return agg.select(
        "n_pos",
        "n_neg",
        auc.alias("auc"),
        F.round(
            (F.col("tp") + F.col("tn"))
            / (F.col("tp") + F.col("tn") + F.col("fp") + F.col("fn")),
            6,
        ).alias("accuracy"),
        F.round(prec, 6).alias("prec"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def ap_from_score_counts(per_score: DataFrame) -> DataFrame:
    """(n_pos, n_neg, ap) average precision from a per-DISTINCT-SCORE
    count table (s, np_, nn_) — the PR-curve twin of
    :func:`auc_from_score_counts`, sharing its input so the SAME
    count table answers both metrics.

    AP = Σ_thresholds ΔR(t)·P(t) over distinct scores DESCENDING
    (every distinct score is a threshold): ΔR = np_/n_pos at that
    score, P = cum_tp/(cum_tp+cum_fp) with cumulative counts INCLUSIVE
    of the score's own group — the standard step-interpolated
    definition (sklearn's average_precision_score), with a whole tied
    group entering at its combined precision. The window runs over
    distinct scores only; per-group divisions are single IEEE ops on
    integer-valued doubles, so the statistic replays in SQL."""
    w = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_score.select(
        "np_",
        "nn_",
        F.sum("np_").over(w).cast("double").alias("cum_tp"),
        F.sum("nn_").over(w).cast("double").alias("cum_fp"),
    )
    agg = cum.agg(
        F.sum("np_").alias("n_pos"),
        F.sum("nn_").alias("n_neg"),
        F.sum(
            F.col("np_") * F.col("cum_tp") / (F.col("cum_tp") + F.col("cum_fp"))
        ).alias("u"),
    )
    ap = F.when(
        F.col("n_pos") > 0, F.round(F.col("u") / F.col("n_pos"), 6)
    )
    return agg.select("n_pos", "n_neg", ap.alias("ap"))


def pr_auc(
    scored: DataFrame, score_col: str = "p", label_col: str = "y"
) -> DataFrame:
    """One-row (n_pos, n_neg, ap, prevalence): step-interpolated
    average precision (PR-AUC) for a scored binary-labeled table —
    the metric that stays informative under class imbalance where
    ROC-AUC saturates (its random baseline is the prevalence, which
    rides along for exactly that comparison). Same scale shape as
    :func:`roc_auc`: the corpus collapses to per-distinct-score
    counts before the only window; same NULL/NaN-score exclusion."""
    s = scored.select(
        F.col(score_col).cast("double").alias("s"),
        F.col(label_col).cast("long").alias("y"),
    ).filter(
        F.col("y").isNotNull()
        & F.col("s").isNotNull()
        & ~F.isnan(F.col("s"))
    )
    per_score = s.groupBy("s").agg(
        F.sum("y").alias("np_"),
        F.sum(F.lit(1) - F.col("y")).alias("nn_"),
    )
    out = ap_from_score_counts(per_score)
    return out.select(
        "n_pos",
        "n_neg",
        "ap",
        F.round(
            F.col("n_pos") / (F.col("n_pos") + F.col("n_neg")), 6
        ).alias("prevalence"),
    )


def agreement_kappa(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """One-row (n, po, pe, kappa) Cohen's κ chance-corrected agreement
    between two BINARY (0/1) columns — the standard
    annotator/model-agreement statistic (κ = (p_o − p_e)/(1 − p_e);
    1 = perfect, 0 = chance, <0 = worse than chance). ONE hash-free
    aggregate (four conditional sums); perfect-agreement-by-chance
    degenerate inputs (p_e = 1) yield NULL rather than 0/0. Rows with
    a NULL on either side are excluded — an unlabeled row has no
    agreement to measure."""
    a, b = F.col("col_a"), F.col("col_b")
    s = df.select(
        F.col(col_a).cast("long").alias("col_a"),
        F.col(col_b).cast("long").alias("col_b"),
    ).filter(F.col("col_a").isNotNull() & F.col("col_b").isNotNull())
    agg = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((a == 1) & (b == 1)).cast("long")).alias("n11"),
        F.sum(((a == 1) & (b == 0)).cast("long")).alias("n10"),
        F.sum(((a == 0) & (b == 1)).cast("long")).alias("n01"),
        F.sum(((a == 0) & (b == 0)).cast("long")).alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) / n
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ) / (n * n)
    return agg.select(
        "n",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(
            F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)), 6
        ).alias("kappa"),
    )


def calibration_bins(
    scored: DataFrame,
    score_col: str = "p",
    label_col: str = "y",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram rows (bin, n, mean_p, frac_pos, gap): score
    bin b covers [b/n_bins, (b+1)/n_bins) with 1.0 folded into the top
    bin; ``gap`` = |mean predicted − empirical positive rate| is the
    per-bin calibration error (weight by n/N and sum for ECE). ONE
    hash aggregate over the corpus — bins are the only exchange."""
    b = F.least(
        F.floor(F.col(score_col) * n_bins).cast("long"), F.lit(n_bins - 1)
    )
    gap = F.abs(F.avg(score_col) - F.avg(F.col(label_col).cast("double")))
    return (
        scored.filter(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(score_col), 6).alias("mean_p"),
            F.round(F.avg(F.col(label_col).cast("double")), 6).alias("frac_pos"),
            F.round(gap, 6).alias("gap"),
        )
    )


def rrf_fuse(
    rank_a: DataFrame,
    rank_b: DataFrame,
    id_col: str,
    rank_col: str = "rnk",
    k0: int = 60,
    top_n: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of two rankings of the same item space:
    rrf(d) = Σ_lists 1/(k0 + rank_list(d)), items missing from a list
    contribute 0 — Cormack et al. 2009's parameter-free hybrid
    combiner, used here to fuse lexical (BM25) and dense (embedding)
    retrieval. Only ranks enter, so incomparable score scales can't
    skew the fusion. The outer alignment of the two lists is spelled
    union + one hash aggregate (each id keeps its per-list rank via
    max-over-nulls) rather than a full-outer join — same result, but
    a full outer can only plan as a sort-merge join while the union
    aggregate is a plain map-side-combined hash shape. Inputs are
    top-k lists (already bounded), so everything downstream — the
    aggregate, the (rrf desc, id) top-n cut, the fused_rank window
    over the top_n survivors — acts on ≤ |a|+|b| rows."""
    a = rank_a.select(
        F.col(id_col),
        F.col(rank_col).alias("rank_a"),
        F.lit(None).cast("long").alias("rank_b"),
    )
    b = rank_b.select(
        F.col(id_col),
        F.lit(None).cast("long").alias("rank_a"),
        F.col(rank_col).alias("rank_b"),
    )
    fused = (
        a.unionByName(b)
        .groupBy(id_col)
        .agg(
            F.max("rank_a").alias("rank_a"),
            F.max("rank_b").alias("rank_b"),
        )
        .select(
            id_col,
            "rank_a",
            "rank_b",
            F.round(
                F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("rank_a")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("rank_b")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    top = fused.orderBy(F.col("rrf").desc(), F.col(id_col).asc()).limit(top_n)
    w = Window.orderBy(F.col("rrf").desc(), F.col(id_col).asc())
    return top.withColumn(
        "fused_rank", F.row_number().over(w).cast("long")
    )


def rrf_fuse_keyed(
    rank_a: DataFrame,
    rank_b: DataFrame,
    key_col: str,
    id_col: str,
    rank_col: str = "rnk",
    k0: int = 60,
    top_n: int = 20,
) -> DataFrame:
    """Per-KEY reciprocal-rank fusion — :func:`rrf_fuse` with a query
    dimension, for fusing two per-query rankings of a whole eval query
    set in one plan. Inputs carry (key, id, rank); output is the
    per-key fused top-``top_n`` with per-list ranks preserved.

    Same union + hash-aggregate alignment as the unkeyed form (a
    keyed full-outer join could only plan as a sort-merge join; the
    union aggregate stays a map-side-combined hash shape). Both the
    top-n cut and the fused_rank window PARTITION BY the key, so each
    runs over that key's ≤ |a|+|b| candidate rows — adding queries
    adds partitions, never per-partition work."""
    a = rank_a.select(
        F.col(key_col),
        F.col(id_col),
        F.col(rank_col).alias("rank_a"),
        F.lit(None).cast("long").alias("rank_b"),
    )
    b = rank_b.select(
        F.col(key_col),
        F.col(id_col),
        F.lit(None).cast("long").alias("rank_a"),
        F.col(rank_col).alias("rank_b"),
    )
    fused = (
        a.unionByName(b)
        .groupBy(key_col, id_col)
        .agg(
            F.max("rank_a").alias("rank_a"),
            F.max("rank_b").alias("rank_b"),
        )
        .select(
            key_col,
            id_col,
            "rank_a",
            "rank_b",
            F.round(
                F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("rank_a")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("rank_b")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    w = Window.partitionBy(key_col).orderBy(
        F.col("rrf").desc(), F.col(id_col).asc()
    )
    return fused.withColumn(
        "fused_rank", F.row_number().over(w).cast("long")
    ).filter(F.col("fused_rank") <= top_n)


def zipf_fit(
    token_counts: DataFrame,
    count_col: str = "n",
    token_col: str = "token",
    top_r: int = 500,
) -> DataFrame:
    """One-row log-log OLS fit of the token rank-frequency HEAD:
    (n_tokens, slope, intercept, r2) over the ``top_r`` most frequent
    tokens, x = ln(rank), y = ln(count), both rounded at 1e-6 before
    the closed-form moment sums so the fit replays across engines.
    Natural-language corpora fit slope ≈ −1 (Zipf's law); a head far
    off that flags synthetic, truncated, or boilerplate-dominated
    data. Restricting to the head is deliberate twice over: it is
    where the law lives (the tail bends under any finite corpus), and
    it bounds the rank window + moment sums at ``top_r`` rows so
    accumulated float noise stays orders below the 1e-6 rounding. The
    rank window runs over the top_r survivors of a
    TakeOrderedAndProject, never the vocabulary."""
    from lion_parcel_etl_spark.operators.checks import ols_trend

    top = (
        token_counts.select(
            F.col(token_col).alias("t"), F.col(count_col).alias("c")
        )
        .orderBy(F.col("c").desc(), F.col("t").asc())
        .limit(top_r)
    )
    w = Window.orderBy(F.col("c").desc(), F.col("t").asc())
    pts = top.select(
        F.lit("zipf").alias("g"),
        F.round(F.log(F.row_number().over(w).cast("double")), 6).alias("x"),
        F.round(F.log(F.col("c").cast("double")), 6).alias("y"),
    )
    return ols_trend(pts, "x", "y", "g").select(
        F.col("n").alias("n_tokens"), "slope", "intercept", "r2"
    )
