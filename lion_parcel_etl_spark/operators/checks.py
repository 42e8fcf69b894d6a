"""Data-quality checks — the dbt-test layer of the reference, filled in.

The reference ships dbt test scaffolding but no tests (SURVEY.md §5:
``test-paths: ["tests"]`` in ``dbt/dbt_project.yml:7`` with only a
``.gitkeep``); its models still *imply* the four standard dbt checks —
``unique_key='id'`` (merge correctness), not-null ids (the staging
filter ``df[df["id"].notna()]``), accepted status values, and
staging→mart referential integrity. This module provides them as
engine operators.

Each check returns a DataFrame of VIOLATIONS (empty = pass) so the
caller decides whether to fail, quarantine, or log; ``run_checks``
evaluates a batch in one Spark action and returns one summary row per
check. All checks are single aggregate/join plans:

- uniqueness: one hash aggregate on the key (partial agg first — the
  shuffle carries one row per distinct key per task);
- not-null / accepted-values: pushed-down scan predicates, no shuffle;
- referential integrity: left-anti join with the parent side reduced
  to distinct keys (broadcast when the parent key set is small, e.g.
  dims; for fact→fact use the bucketed layout).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def expect_unique(df: DataFrame, keys: list[str]) -> DataFrame:
    """Violations of a uniqueness constraint: key tuples appearing more
    than once, with their count (dbt ``unique`` / the merge contract's
    ``unique_key``)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def expect_not_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """Rows where any of ``cols`` is null (dbt ``not_null``; reference
    staging filter public/lion_parcell_bonus_test_stg.py:259)."""
    pred = F.lit(False)
    for c in cols:
        pred = pred | F.col(c).isNull()
    return df.filter(pred)


def expect_accepted_values(df: DataFrame, col: str, allowed: list) -> DataFrame:
    """Rows whose ``col`` is outside ``allowed`` (dbt
    ``accepted_values``). Nulls are NOT violations — pair with
    expect_not_null to forbid them."""
    return df.filter(~F.col(col).isin(allowed) & F.col(col).isNotNull())


def expect_ref_integrity(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    broadcast_parent: bool = True,
) -> DataFrame:
    """Child rows whose key has no match in the parent (dbt
    ``relationships``). The parent side collapses to distinct keys
    before the anti-join."""
    pk = parent.select(F.col(parent_key).alias(child_key)).distinct()
    if broadcast_parent:
        pk = F.broadcast(pk)
    return child.filter(F.col(child_key).isNotNull()).join(
        pk, on=child_key, how="left_anti"
    )


def run_checks(named_checks: dict[str, DataFrame]) -> list[dict]:
    """Evaluate a batch of checks; one summary dict per check, in dict
    order: ``{"check": name, "violations": n, "passed": bool}``.

    All checks run as ONE Spark action: each violations frame is
    reduced to a ``__check`` index column, the frames are unioned and
    counted per index with one ``groupBy`` + ``collect``. The checks'
    own shuffle stages are independent inside that one job, so AQE
    runs them side by side instead of one driver round-trip per check.
    A check with no violations has no group and counts 0."""
    if not named_checks:
        return []
    tagged = [
        viol.select(F.lit(i).alias("__check"))
        for i, viol in enumerate(named_checks.values())
    ]
    union = reduce(DataFrame.unionAll, tagged)
    counts = {r["__check"]: r["count"] for r in union.groupBy("__check").count().collect()}
    out = []
    for i, name in enumerate(named_checks):
        n = counts.get(i, 0)
        out.append({"check": name, "violations": n, "passed": n == 0})
    return out


def column_profile(df: DataFrame, cols: list[str], fmt=None) -> DataFrame:
    """Per-column data profiling in two pruned scans — the engine's structured
    analog of the reference's ``df.info(memory_usage='deep')`` summary
    (reference ``public/source_transaction_lion_parcel.py:79-83``):
    one output row per profiled column with non-null / null / distinct
    counts and min/max rendered to strings.

    Two aggregates over pruned scans, crossed into one row and
    unpivoted driver-free with ``stack``: the plain stats (counts +
    min/max) in one pass, the exact count-distincts (which share one
    Expand) in a second. Keeping them apart matters: a string-typed
    min/max buffer is not hash-aggregate-compatible, so a combined
    aggregate would drag the whole ``columns×rows`` Expand through
    SortAggregate (measured 12 s vs ~2 s on the sf0.1 lineitem);
    split, the distinct pass stays hash-based end to end. ``fmt`` maps
    a column name to a Column->Column renderer for its min/max
    (default: plain string cast) — heterogeneous types land in one
    string column deterministically, e.g. doubles through a DECIMAL
    cast so the render never switches to scientific notation.
    """
    from pyspark.sql import functions as F

    fmt = fmt or {}

    def _default(x):
        return x.cast("string")

    plain = []
    distinct = []
    for c in cols:
        render = fmt.get(c, _default)
        plain += [
            F.count(F.col(c)).alias(f"__{c}_n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__{c}_nn"),
            render(F.min(F.col(c))).alias(f"__{c}_mn"),
            render(F.max(F.col(c))).alias(f"__{c}_mx"),
        ]
        distinct.append(F.count_distinct(F.col(c)).alias(f"__{c}_nd"))
    row = df.agg(*plain).crossJoin(df.agg(*distinct))
    parts = ", ".join(
        f"'{c}', __{c}_n, __{c}_nn, __{c}_nd, __{c}_mn, __{c}_mx" for c in cols
    )
    return row.selectExpr(
        f"stack({len(cols)}, {parts}) AS "
        "(col_name, n_nonnull, n_null, n_distinct, min_val, max_val)"
    )


def psi_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    smooth: float = 0.5,
) -> DataFrame:
    """(group, psi, drift) Population Stability Index of each group's
    ``value_col`` distribution against the whole input's — the
    standard corpus-monitoring statistic (PSI = Σ (p−q)·ln(p/q) over
    bins; < 0.1 stable, 0.1–0.2 moderate, > 0.2 significant).

    Bins are FIXED-WIDTH over [lo, hi] (width_bucket semantics, with
    the two overflow bins) so the statistic is append-stable and
    replayable — the production variant with baseline-decile edges
    just passes those edges in as the fixed cut points. Proportions
    are Laplace-smoothed (+``smooth`` per bin) so a bin empty on one
    side contributes a finite, honest penalty instead of ±inf.

    One scan + two tiny aggregates: the per-(group, bin) histogram is
    the only exchange (≤ groups×(n_bins+2) rows after map-side
    combine); the baseline histogram derives from it by re-aggregation
    — the raw data is NOT scanned twice."""
    b = F.width_bucket(F.col(value_col), F.lit(lo), F.lit(hi), F.lit(n_bins))
    # NaN joins the NULL filter: width_bucket(NaN) is NULL, and a
    # NULL-bin row would be counted in the totals but silently miss
    # the dense 0..n_bins+1 grid, biasing every PSI low
    per = (
        df.filter(
            F.col(value_col).isNotNull()
            & ~F.isnan(F.col(value_col).cast("double"))
        )
        .groupBy(F.col(group_col).alias("g"), b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    base = per.groupBy("bin").agg(F.sum("cnt").alias("bcnt"))
    gtot = per.groupBy("g").agg(F.sum("cnt").alias("gn"))
    btot = base.agg(F.sum("bcnt").alias("bn"))
    # dense (group × bin) grid over ALL n_bins+2 bins — including bins
    # empty corpus-wide: the smoothed denominators charge smooth·nb for
    # every bin, so omitting globally-empty bins would understate PSI
    # by their (p−q)·ln(p/q) share (material when [lo, hi] is wider
    # than the data)
    all_bins = gtot.select(
        "g",
        "gn",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins + 1))).alias("bin"),
    )
    grid = (
        all_bins.join(F.broadcast(base), "bin", "left")
        .withColumn("bcnt", F.coalesce("bcnt", F.lit(0)))
        .join(F.broadcast(btot), F.lit(True))
    )
    # rename before the re-join with `per`: grid derives FROM per, so a
    # direct join is an ambiguous self-join to the analyzer
    obs = per.select(
        F.col("g").alias("__og"),
        F.col("bin").alias("__ob"),
        F.col("cnt").alias("__oc"),
    )
    joined = grid.join(
        obs,
        (grid["g"] == obs["__og"]) & (grid["bin"] == obs["__ob"]),
        "left",
    ).select(
        "g",
        "bin",
        F.coalesce("__oc", F.lit(0)).alias("cnt"),
        "gn",
        "bcnt",
        "bn",
    )
    nb = n_bins + 2  # width_bucket's two overflow bins
    p = (F.col("cnt") + F.lit(smooth)) / (F.col("gn") + F.lit(smooth * nb))
    q = (F.col("bcnt") + F.lit(smooth)) / (F.col("bn") + F.lit(smooth * nb))
    psi = F.round(F.sum((p - q) * F.log(p / q)), 6)
    return (
        joined.groupBy("g")
        .agg(psi.alias("psi"))
        .select(
            F.col("g").alias(group_col),
            "psi",
            F.when(F.col("psi") > 0.2, "significant")
            .when(F.col("psi") > 0.1, "moderate")
            .otherwise("stable")
            .alias("drift"),
        )
    )


#: Poisson(1) inverse-CDF breakpoints (cumulative e⁻¹·Σ 1/k!) shared
#: verbatim by the Spark expression and the SQL oracle. Weights cap at
#: 7 — P(X ≥ 8) < 1e-8, invisible next to bootstrap noise.
POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286059,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507177,
]


def _poisson_weight(u):
    expr = None
    for k, c in enumerate(POISSON1_CDF):
        cond = u < F.lit(c)
        expr = F.when(cond, k) if expr is None else expr.when(cond, k)
    return expr.otherwise(len(POISSON1_CDF))


def duck_poisson_weight(u_expr: str) -> str:
    """The DuckDB spelling of the Poisson(1) inverse CDF."""
    whens = " ".join(
        f"WHEN {u_expr} < {c!r} THEN {k}" for k, c in enumerate(POISSON1_CDF)
    )
    return f"(CASE {whens} ELSE {len(POISSON1_CDF)} END)"


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    b: int = 200,
    alpha: float = 0.05,
) -> DataFrame:
    """One-row (mean, ci_lo, ci_hi, b) percentile-bootstrap confidence
    interval for the mean of ``value_col`` — the Poisson bootstrap
    (Hanley & MacGibbon 2006; the form used for resampling on
    distributed data, e.g. "bag of little bootstraps" infrastructure):
    each replicate reweights every row by an independent Poisson(1)
    count instead of materializing resamples, so one pass computes all
    B replicate means. The Poisson draws come from the deterministic
    60-bit id hash salted per replicate — rerunning (or re-running in
    DuckDB) reproduces the interval bit-for-bit.

    The CI bounds are ORDER STATISTICS of the B replicate means
    (⌊α/2·B⌋-th from each end), not interpolated percentiles — the
    two engines' interpolation conventions can differ; ranks cannot.

    Scale: the replicate explode multiplies the (id, value) stream by
    B before one aggregate whose map-side combine caps the exchange at
    partitions×B rows; only B replicate means exist after it. Null
    values are excluded up front (the mean's own convention)."""
    lo_rank = max(1, int(alpha / 2 * b))
    hi_rank = b - lo_rank + 1
    rows = df.filter(F.col(value_col).isNotNull()).select(
        F.col(id_col).cast("string").alias("__id"),
        F.col(value_col).cast("double").alias("__v"),
    )
    rep = rows.select(
        "__id", "__v", F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("__r")
    )
    from lion_parcel_etl_spark.operators.sampling import HASH_MOD, id_hash

    u = id_hash(
        F.concat(F.col("__id"), F.lit("|"), F.col("__r").cast("string")),
        salt="boot",
    ) / F.lit(float(HASH_MOD))
    w = _poisson_weight(u).cast("double")
    means = (
        rep.select("__r", (w * F.col("__v")).alias("__wv"), w.alias("__w"))
        .groupBy("__r")
        .agg((F.sum("__wv") / F.sum("__w")).alias("m"))
        .filter(F.col("m").isNotNull())
    )
    from pyspark.sql import Window

    ranked = means.select(
        "m", F.row_number().over(Window.orderBy(F.col("m"))).alias("rn")
    )
    point = rows.agg(F.avg("__v").alias("mean"))
    ci = ranked.agg(
        F.max(F.when(F.col("rn") == lo_rank, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("m"))).alias("ci_hi"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        F.round("mean", 6).alias("mean"),
        F.round("ci_lo", 6).alias("ci_lo"),
        F.round("ci_hi", 6).alias("ci_hi"),
        F.lit(b).alias("b"),
    )


def cusum_changepoints(
    df: DataFrame,
    value_col: str,
    order_col: str,
    group_col: str,
    k_sigmas: float = 0.5,
    h_sigmas: float = 4.0,
) -> DataFrame:
    """(group, order, value, cusum_up, cusum_down, alarm) — two-sided
    CUSUM changepoint statistics (Page 1954) per ordered series.

    Uses the closed form instead of the textbook recurrence
    S_t = max(0, S_{t−1} + dev_t): the running max-with-reset equals
    P_t − min_{j≤t} P_j over the prefix sums P of deviations
    (x − μ − k·σ) — pure cumulative windows, no recursion, no UDF, so
    it runs as two ordered window folds per series and replays in SQL.
    μ and σ are the series' own (self-baselined retrospective form);
    pass a pre-fit baseline by standardizing ``value_col`` upstream.
    Alarm compares 1e-6-ROUNDED statistics against the rounded
    threshold so both engines make identical boundary calls."""
    w = Window.partitionBy("g").orderBy("o")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base = df.select(
        F.col(group_col).alias("g"),
        F.col(order_col).alias("o"),
        F.col(value_col).cast("double").alias("x"),
    ).filter(F.col("x").isNotNull())
    stats = base.groupBy("g").agg(
        F.avg("x").alias("mu"), F.stddev_pop("x").alias("sigma")
    )
    j = base.join(F.broadcast(stats), "g")
    up_dev = F.col("x") - F.col("mu") - F.lit(k_sigmas) * F.col("sigma")
    dn_dev = F.col("x") - F.col("mu") + F.lit(k_sigmas) * F.col("sigma")
    pu = F.sum(up_dev).over(run)
    pd_ = F.sum(dn_dev).over(run)
    staged = j.select(
        "g", "o", "x", "sigma",
        pu.alias("pu"), pd_.alias("pd")
    )
    # min/max over prefixes must include the EMPTY prefix (P₀ = 0):
    # S₁ = max(0, dev₁) = P₁ − min(0, P₁), not P₁ − P₁
    s_up = F.round(F.col("pu") - F.least(F.lit(0.0), F.min("pu").over(run)), 6)
    s_dn = F.round(F.greatest(F.lit(0.0), F.max("pd").over(run)) - F.col("pd"), 6)
    thr = F.round(F.lit(h_sigmas) * F.col("sigma"), 6)
    return staged.select(
        F.col("g").alias(group_col),
        F.col("o").alias(order_col),
        F.col("x").alias(value_col),
        s_up.alias("cusum_up"),
        s_dn.alias("cusum_down"),
        ((s_up > thr) | (s_dn > thr)).alias("alarm"),
    )


def _group_median(df: DataFrame, group: str, col: str, out: str) -> DataFrame:
    """Exact per-group median by the row_number middle-elements
    spelling (shared with the mode_median query) — deterministic and
    identical across engines, unlike interpolated percentile
    conventions."""
    wr = Window.partitionBy(group).orderBy(col)
    ranked = df.select(
        group, col, F.row_number().over(wr).alias("__rn")
    ).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(group))
    )
    return (
        ranked.filter(
            (F.col("__rn") == F.floor((F.col("__n") + 1) / 2))
            | (F.col("__rn") == F.floor((F.col("__n") + 2) / 2))
        )
        .groupBy(group)
        .agg(F.avg(col).alias(out))
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    z_thresh: float = 3.5,
) -> DataFrame:
    """(group, id, value, robust_z, outlier) — modified z-scores
    0.6745·(x−median)/MAD per group (Iglewicz & Hoaglin 1993), the
    robust outlier rule that one extreme value cannot drag (unlike
    mean/stddev z-scores, where the outlier inflates its own
    denominator).

    Exact medians via the deterministic middle-elements spelling, so
    the whole statistic replays in SQL; groups with MAD = 0 (over half
    the values identical) yield NULL robust_z — flagging everything
    unequal to the median there would be noise, not signal. Two
    per-group window sorts (value, then deviation) + two joins; the
    100 TB swap is approx_percentile for both medians (documented
    trade: sketch tolerance for no sort).

    NaN values are excluded with the NULLs: NaN sorts above every
    real value in both engines, so it would shift the median rank,
    score robust_z = NaN, and — since NaN > threshold is true — flag
    itself as the top 'outlier'. The input and the deviation table are
    pinned: each feeds two lineage branches (median + join-back), and
    unpinned the source scan would run four times."""
    from lion_parcel_etl_spark.operators.dedup import pin

    base = pin(
        df.select(
            F.col(group_col).alias("g"),
            F.col(id_col).alias("i"),
            F.col(value_col).cast("double").alias("x"),
        ).filter(F.col("x").isNotNull() & ~F.isnan("x"))
    )
    med = _group_median(base, "g", "x", "med")
    dev = pin(
        base.join(F.broadcast(med), "g").select(
            "g", "i", "x", "med", F.abs(F.col("x") - F.col("med")).alias("d")
        )
    )
    mad = _group_median(
        dev.select("g", F.col("d").alias("x")), "g", "x", "mad"
    )
    z = F.round(
        F.lit(0.6745)
        * (F.col("x") - F.col("med"))
        / F.when(F.col("mad") > 0, F.col("mad")),
        6,
    )
    return dev.join(F.broadcast(mad), "g").select(
        F.col("g").alias(group_col),
        F.col("i").alias(id_col),
        F.col("x").alias(value_col),
        z.alias("robust_z"),
        F.coalesce(F.abs(z) > F.lit(z_thresh), F.lit(False)).alias(
            "outlier"
        ),
    )


def ols_trend(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str,
) -> DataFrame:
    """(group, n, slope, intercept, r2) — per-group ordinary
    least-squares line fit from the closed-form sums: ONE hash
    aggregate over the input (map-side combined to groups×partitions
    rows), no iteration, no sort. With integer x (e.g. epoch days) and
    integer-exact y the moment sums are exact in doubles, so the fit
    replays bit-for-bit in SQL. Degenerate groups (n < 2 or zero x
    variance) yield NULL slope/intercept/r2 rather than ±inf."""
    base = df.select(
        F.col(group_col).alias("g"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).filter(
        F.col("x").isNotNull()
        & F.col("y").isNotNull()
        & ~F.isnan("x")
        & ~F.isnan("y")
    )
    agg = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when((F.col("n") >= 2) & (dx > 0), cov / dx)
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    r2 = F.when(dy > 0, (cov * cov) / (dx * dy)).otherwise(
        F.when(slope.isNotNull(), F.lit(1.0))
    )
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def theil_sen_trend(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str,
    max_rows: int = 1_000_000,
) -> DataFrame:
    """(group, n, slope) — per-group Theil–Sen robust slope: the exact
    median of all pairwise slopes (the estimator a 29%-outlier
    fraction cannot break, unlike OLS where one bad point owns the
    fit). Pairwise enumeration is an a<b self-join per group —
    O(rows²/group) — so this is for SHORT series per group (daily
    rollups, sensor summaries); it pairs with :func:`ols_trend` the
    way mad_outliers pairs with mean/stddev z-scores. The median uses
    the deterministic middle-elements spelling, so the whole estimate
    replays in SQL.

    The short-series contract is ENFORCED, not just documented: the
    cleaned input is pinned and counted, and more than ``max_rows``
    rows raises a contract error up front — the same
    loud-failure-over-silent-hazard judgment as the
    connected-components convergence guard. Past that size the
    quadratic pair volume (and the one-sided broadcast the pair join
    relies on) are both wrong tools; :func:`ols_trend` is the
    closed-form single-aggregate scale path."""
    from lion_parcel_etl_spark.operators.dedup import pin

    base = pin(
        df.select(
            F.col(group_col).alias("g"),
            F.col(x_col).cast("double").alias("x"),
            F.col(y_col).cast("double").alias("y"),
        ).filter(
            F.col("x").isNotNull()
            & F.col("y").isNotNull()
            & ~F.isnan("x")
            & ~F.isnan("y")
        )
    )
    n_rows = base.count()  # cached by pin — no extra scan
    if n_rows > max_rows:
        # release the pinned cache before failing: the gate rejects
        # exactly the over-sized inputs whose cached partitions would
        # otherwise squat on executor memory (a pin lives until the
        # session ends; nothing else would unpersist it); blocking so
        # the storage is actually gone when the caller sees the error
        base.unpersist(blocking=True)
        raise ValueError(
            f"theil_sen_trend: input has {n_rows} rows after cleaning, over "
            f"the short-series contract's max_rows={max_rows}. The exact "
            "pairwise-median estimator is O(rows²/group) and broadcasts "
            "one full side of the pair join; at this size use ols_trend "
            "(closed-form, one hash aggregate) or pre-aggregate each series "
            "before fitting."
        )
    a = base.select("g", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = base.select("g", F.col("x").alias("xb"), F.col("y").alias("yb"))
    # broadcast one side: the input is rollup-sized by this operator's
    # own short-series contract (the quadratic pair volume would be
    # the problem long before the broadcast), so a shuffle join here
    # would be pure overhead
    pairs = (
        a.join(F.broadcast(b), "g")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "g",
            (
                (F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa"))
            ).alias("x"),
        )
    )
    med = _group_median(pairs, "g", "x", "slope")
    n = base.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    return n.join(F.broadcast(med), "g", "left").select(
        F.col("g").alias(group_col),
        "n",
        F.round("slope", 6).alias("slope"),
    )


def ks_from_group_value_counts(cnt: DataFrame) -> DataFrame:
    """Exact two-sample KS per group vs the pooled complement from a
    (g, v, c) count table — the statistic pipeline behind
    plans/queries.q_ks_drift and :func:`ks_binned_from_counts`. Counts
    are sufficient statistics for an ECDF, and they are a commutative
    monoid under addition.

    Plan: totals re-aggregate from the count table (never rescanning
    rows); the ECDF grid is a broadcast |groups|-row fan-out over
    distinct values, cumulated by ONE window sort per group; every F
    is an exact integer-count ratio. |distinct values|-bound — for
    continuous columns at 100 TB pre-bucket to quantile bins first
    (the psi_drift shape) and this same pipeline computes binned-KS."""
    from pyspark.sql import Window

    tot = cnt.groupBy("v").agg(F.sum("c").alias("ct"))
    gs = cnt.groupBy("g").agg(F.sum("c").alias("ng"))
    # a group that IS the whole corpus has no complement to test
    # against — drop it explicitly (Spark's NULL-on-div-by-zero and
    # DuckDB's IEEE inf would otherwise disagree silently)
    n_all = cnt.agg(F.sum("c").alias("n"))
    grid = (
        tot.crossJoin(F.broadcast(gs))
        .join(cnt, ["g", "v"], "left")
        .select("g", "ng", "v", "ct", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w = Window.partitionBy("g").orderBy("v")
    cum = grid.select(
        "g",
        "ng",
        F.sum("c").over(w).alias("cg"),
        F.sum("ct").over(w).alias("cto"),
    )
    gap = F.abs(
        F.col("cg").cast("double") / F.col("ng")
        - (F.col("cto") - F.col("cg")).cast("double") / (F.col("n") - F.col("ng"))
    )
    return (
        cum.crossJoin(F.broadcast(n_all))
        .filter(F.col("n") > F.col("ng"))
        .groupBy("g", "ng", "n")
        .agg(F.max(gap).alias("d"))
        .select(
            F.col("g").alias("event_type"),
            F.col("ng").alias("n_group"),
            (F.col("n") - F.col("ng")).alias("n_rest"),
            F.round("d", 6).alias("ks_d"),
            F.round(
                F.col("d")
                * F.sqrt(
                    # cast BEFORE multiplying: ng*(n-ng) as BIGINT wraps
                    # silently past 2^63 (n ~ 1e11 balanced split)
                    F.col("ng").cast("double")
                    * (F.col("n") - F.col("ng")).cast("double")
                    / F.col("n")
                ),
                6,
            ).alias("ks_stat"),
        )
        .orderBy("event_type")
    )


#: Binned-KS bucket count: KS_BINS − 1 quantile boundaries → KS_BINS
#: buckets (plans/queries.q_ks_drift_binned).
KS_BINS = 16


def ks_binned_from_counts(
    cnt: DataFrame, sampled_cnt: DataFrame, bins: int = KS_BINS
) -> DataFrame:
    """Binned two-sample KS from a (g, v, c) count table + a (v, c)
    SAMPLED count table — the 100 TB twin of
    :func:`ks_from_group_value_counts`, whose ECDF grid is |distinct
    values|-bound. ``bins − 1`` quantile boundaries come from an exact
    frequency-weighted interpolated percentile over the sampled counts
    (counts are sufficient for a percentile, so the boundary from
    sampled ROWS and the one from merged sampled COUNTS are
    identical); every (g, v) count then width-buckets
    with ``bins − 1`` comparisons against the broadcast 1-row boundary
    scalars — zero global sorts — and the SAME statistic pipeline runs
    on the (g, bucket) counts: the grid is now ``bins`` rows per group
    at any corpus size. Binned D restricts the CDF-gap sup to bucket
    boundaries, so binned ≤ exact always; q_ks_agreement measures the
    gap.

    An EMPTY sample fails fast at execution time: percentile over zero
    rows yields a NULL boundary array, every (v > NULL) comparison is
    NULL, and all rows would collapse into a NULL bucket that the
    downstream grid join silently drops (NULL = NULL never matches) —
    garbage KS stats instead of an error. Reachable with a corpus so
    small the 1/APPROX_SAMPLE_DIV md5 sample selects zero events, so
    the guard rides the SAME one-row bounds aggregate (no extra pass
    over the sample)."""
    qarr = "array(" + ", ".join(f"{i / bins}D" for i in range(1, bins)) + ")"
    bounds = (
        sampled_cnt.agg(
            F.expr(f"percentile(v, {qarr}, c)").alias("bs_raw"),
            F.coalesce(F.sum("c"), F.lit(0)).alias("n_samp"),
        )
        .select(
            F.when(F.col("n_samp") > 0, F.col("bs_raw"))
            .otherwise(
                F.raise_error(
                    F.lit(
                        "ks_binned_from_counts: sampled count table is "
                        "empty — no rows to derive quantile boundaries "
                        "from (corpus too small for the md5 sample)"
                    )
                )
            )
            .alias("bs")
        )
    )
    bin_col = F.lit(0)
    for i in range(bins - 1):
        bin_col = bin_col + (F.col("v") > F.round(F.col("bs")[i], 6)).cast("int")
    binned = (
        cnt.crossJoin(F.broadcast(bounds))
        .select("g", bin_col.cast("long").alias("v"), "c")
        .groupBy("g", "v")
        .agg(F.sum("c").alias("c"))
    )
    return ks_from_group_value_counts(binned)


def ks_agreement_from(exact: DataFrame, binned: DataFrame) -> DataFrame:
    """Admissibility join behind plans/queries.q_ks_agreement: per
    event type, exact D next to binned D and the gap between them.
    Both sides are |event types|-sized (a handful of rows at any
    corpus size) — broadcast beats the SMJ Catalyst guesses for two
    stats-free aggregates."""
    e = exact.select("event_type", F.col("ks_d").alias("ks_d_exact"))
    b = binned.select("event_type", F.col("ks_d").alias("ks_d_binned"))
    return (
        e.join(F.broadcast(b), "event_type")
        .select(
            "event_type",
            "ks_d_exact",
            "ks_d_binned",
            F.round(F.col("ks_d_exact") - F.col("ks_d_binned"), 6).alias(
                "d_gap"
            ),
        )
        .orderBy("event_type")
    )


def benford_from_digit_counts(obs: DataFrame) -> DataFrame:
    """Benford conformance readout from a (digit, n_obs) count table —
    the pipeline behind plans/queries.q_benford_audit. The digit
    domain is DENSIFIED against a literal 1–9 spine before the
    chi-square: a digit with ZERO observations contributes
    (0 − n·p)²/(n·p) = n·p — the dominant evidence of a fabricated
    column — which a groupBy over observed digits alone would silently
    drop exactly when the data is most broken.

    CONTRACT: every input row's ``digit`` must already be a first
    significant digit in 1–9. A row outside that domain (digit 0 from
    a sub-cent amount, a negative, a NULL) would otherwise vanish in
    the spine's left join while ALSO being excluded from the total n —
    silently skewing p_obs/chi2 — so the pipeline fails fast at
    execution time. The guard is an aggregate COUNT of out-of-domain
    rows with raise_error gated on the ONE-ROW total, not a per-row
    raise_error projection: raise_error is non-deterministic to
    Catalyst, and placed per-row it blocks exchange reuse between the
    two consumers of the count table — the caller's whole upstream
    aggregate executed twice (measured 0.86 s → 2.26 s isolated floor
    before this shape)."""
    from lion_parcel_etl_spark.plans.queries import BENFORD_P

    valid = F.col("digit").between(1, 9)
    # coalesce both sums: over an EMPTY count table sum() is NULL, and
    # a NULL n_bad would take the otherwise-branch with a NULL concat
    # message — an opaque error instead of the documented behavior
    # (empty input flows through and yields NULL stats rows, matching
    # the pre-guard contract).
    totals = obs.agg(
        F.coalesce(
            F.sum(F.when(valid, F.col("n_obs")).otherwise(F.lit(0))), F.lit(0)
        )
        .cast("long")
        .alias("n_raw"),
        F.coalesce(
            F.sum(F.when(valid, F.lit(0)).otherwise(F.lit(1))), F.lit(0)
        ).alias("n_bad"),
    )
    n = totals.select(
        F.when(F.col("n_bad") == 0, F.col("n_raw"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.col("n_bad").cast("string"),
                    F.lit(
                        " digit rows outside 1-9 fed to "
                        "benford_from_digit_counts (input must be first "
                        "significant digits)"
                    ),
                )
            )
        )
        .alias("n")
    )
    spark = obs.sparkSession
    spine = spark.createDataFrame(
        [(d,) for d in range(1, 10)], "digit int"
    )
    dense = F.broadcast(spine).join(obs.filter(valid), "digit", "left").select(
        "digit", F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs")
    )
    exp_p = F.lit(None)
    for d, pv in BENFORD_P.items():
        exp_p = F.when(F.col("digit") == d, F.lit(pv)).otherwise(exp_p)
    expected = F.col("n") * exp_p
    return (
        dense.crossJoin(F.broadcast(n))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs").cast("double") / F.col("n"), 6).alias("p_obs"),
            F.round(exp_p, 6).alias("p_benford"),
            F.round(
                (F.col("n_obs") - expected) * (F.col("n_obs") - expected)
                / expected,
                6,
            ).alias("chi2"),
        )
        .orderBy("digit")
    )


def trimmed_means(
    df: DataFrame,
    group_col: str,
    value_cents: Column,
    tiebreak: list[Column],
    trim_frac: float = 0.1,
) -> DataFrame:
    """Plain / trimmed / winsorized means per group from an exact-cents
    value column — the robust-aggregation operator behind
    plans/queries.q_trimmed_stats (and directly testable on
    constructed frames: tests inject an outlier and assert the plain
    mean moves while the trimmed one does not — the definition of
    robustness). Exact integer ranks with caller-supplied unique
    tie-breaks; ONE window sort per group + one conditional aggregate
    produce all three means, the trim count and both winsor
    boundaries."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(value_cents.asc(), *tiebreak)
    ranked = df.select(
        F.col(group_col),
        value_cents.alias("v"),
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy(group_col)).alias("n"),
    ).withColumn("k", F.floor(F.lit(trim_frac) * F.col("n")).cast("long"))
    kept = (F.col("rnk") > F.col("k")) & (F.col("rnk") <= F.col("n") - F.col("k"))
    g = ranked.groupBy(group_col).agg(
        F.max("n").alias("n_rows"),
        F.max("k").alias("k_trim"),
        F.sum("v").alias("s_all"),
        F.sum(F.when(kept, F.col("v"))).alias("s_kept"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.max(F.when(F.col("rnk") == F.col("k") + 1, F.col("v"))).alias("lo"),
        F.max(F.when(F.col("rnk") == F.col("n") - F.col("k"), F.col("v"))).alias("hi"),
    )
    return g.select(
        F.col(group_col),
        "n_rows",
        "k_trim",
        F.round(F.col("s_all").cast("double") / F.col("n_rows") / 100.0, 6).alias(
            "mean"
        ),
        F.round(F.col("s_kept").cast("double") / F.col("n_kept") / 100.0, 6).alias(
            "trimmed_mean"
        ),
        F.round(
            (F.col("s_kept") + F.col("k_trim") * (F.col("lo") + F.col("hi")))
            .cast("double")
            / F.col("n_rows")
            / 100.0,
            6,
        ).alias("winsorized_mean"),
    ).orderBy(group_col)
