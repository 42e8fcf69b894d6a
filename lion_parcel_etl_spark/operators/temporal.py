"""Temporal joins Spark lacks as built-ins: as-of join and range join.

The reference has no temporal joins (SURVEY.md §2.4 — all its joins
are single-key equi-joins), but any event-stream analytics on the
engine needs them. Both are implemented as COMPOSITIONS of shuffle
operators Spark already optimizes — no UDFs, no driver loops — so
they inherit whole-stage codegen, AQE skew handling, and partial
aggregation for free.

as-of join — "attach the most recent right row at or before each left
row's timestamp, per key". The naive formulation is a non-equi join
(l.ts >= r.ts) + argmax, which Spark plans as a broadcast
nested-loop join: quadratic, dead at scale. Instead: union both
sides tagged, one window per key ordered by (ts, side) carrying
last(right_payload, ignoreNulls) forward, keep left rows. Exactly
ONE shuffle on the key — the same cost as an equi-join, at any
scale, and AQE's skew splitting still applies.

range join — "pair left rows with right intervals containing them".
The naive form is again a nested-loop join. Instead: discretize
time into fixed bins; each interval explodes to the bins it covers,
each point maps to one bin; equi-join on (key, bin); residual
filter exact containment. Each matching pair meets in exactly one
bin (the point's), so no dedup pass is needed. Bin width trades
join fan-out (intervals × bins-per-interval) against candidate
false positives within a bin; choose ~median interval length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_ts: str = "ts",
    right_ts: str | None = None,
    direction: str = "backward",
    suffix: str = "_r",
) -> DataFrame:
    """Left as-of join: per key, each left row gets the right row with
    the greatest ``right_ts <= left_ts`` (``direction='backward'``) or
    the least ``right_ts >= left_ts`` (``'forward'``). Ties on the
    timestamp itself match (inclusive, as DuckDB/pandas ASOF).

    Right payload columns (everything except ``by`` and ``right_ts``)
    come back suffixed; the matched right timestamp comes back as
    ``<right_ts><suffix>``. Rows with no match get nulls (left join
    semantics). Right side should be unique per (by, right_ts) — with
    duplicates, which duplicate wins is unspecified (same as DuckDB).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    from pyspark.sql import types as T

    right_ts = right_ts or left_ts
    rpay = [c for c in right.columns if c not in by and c != right_ts]
    out_cols = [f"{c}{suffix}" for c in rpay] + [f"{right_ts}{suffix}"]
    rtypes = {f.name: f.dataType for f in right.schema.fields}

    # The whole right payload rides as ONE struct, and ONE
    # last(ignorenulls) carries it forward — per-column last() fills
    # would stitch values from DIFFERENT right rows whenever the
    # matched row has a legitimately NULL payload value (the older
    # row's value would bleed through for just that column).
    rrow_type = T.StructType(
        [T.StructField(f"{c}{suffix}", rtypes[c]) for c in rpay]
        + [T.StructField(f"{right_ts}{suffix}", rtypes[right_ts])]
    )
    l2 = left.select(
        *left.columns,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(rrow_type).alias("__rrow"),
    )
    lfill = [c for c in left.columns if c not in by]
    ltypes = {f.name: f.dataType for f in left.schema.fields}
    r2 = right.select(
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lfill],
        *by,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(
            *[F.col(c).alias(f"{c}{suffix}") for c in rpay],
            F.col(right_ts).alias(f"{right_ts}{suffix}"),
        ).alias("__rrow"),
    ).select(l2.columns)  # align column order for unionByName-free union

    merged = l2.unionByName(r2)
    # right rows (__side=0) sort before left at equal ts → inclusive
    order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(*by)
        .orderBy(order, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged.select(
        *left.columns,
        "__side",
        F.last("__rrow", ignorenulls=True).over(w).alias("__rrow"),
    )
    return (
        filled.filter(F.col("__side") == 1)
        .select(
            *left.columns,
            *[F.col(f"__rrow.{c}").alias(c) for c in out_cols],
        )
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_col: str,
    end_col: str,
    by: list[str] | None = None,
    bin_seconds: int = 3600,
) -> DataFrame:
    """Inner join of point rows to every interval containing them
    (``start <= ts <= end``), optionally also keyed on ``by``.

    Discretized to ``bin_seconds`` buckets: an interval covering B
    bins produces B candidate rows, a point exactly one, and each true
    (point, interval) pair meets in exactly one bin — the shuffle is
    an equi-join on (by, bin) that AQE can split on skew, never a
    nested-loop. Pick ``bin_seconds`` near the median interval length:
    much smaller multiplies interval fan-out, much larger multiplies
    within-bin false candidates.
    """
    by = by or []
    binned_p = points.withColumn(
        "__bin", (F.unix_timestamp(point_ts) / F.lit(bin_seconds)).cast("long")
    )
    binned_i = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                (F.unix_timestamp(start_col) / F.lit(bin_seconds)).cast("long"),
                (F.unix_timestamp(end_col) / F.lit(bin_seconds)).cast("long"),
            )
        ),
    )
    return (
        binned_p.join(binned_i, [*by, "__bin"])
        .filter(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) <= F.col(end_col))
        )
        .drop("__bin")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    by: list[str] | None = None,
    bin_seconds: int = 3600,
) -> DataFrame:
    """Inner join of interval rows to every interval OVERLAPPING them
    (half-open semantics: [s1,e1) ∩ [s2,e2) ≠ ∅ ⟺ s1 < e2 ∧ s2 < e1),
    optionally also keyed on ``by`` — the interval-algebra sibling of
    :func:`range_join`.

    Same discretization idea, with one extra trick: two overlapping
    intervals share ALL the bins of their intersection, so a plain
    bin equi-join would emit the pair once per shared bin. Requiring
    the matched bin to equal ``greatest(start_bin_l, start_bin_r)`` —
    the FIRST shared bin — makes every true pair match exactly once,
    so no dedup exchange is needed at all. The shuffle is an equi-join
    on (by, bin), skew-splittable by AQE; fan-out per interval is its
    length in bins."""
    by = by or []

    def binned(df, start, end, tag):
        sb = (F.unix_timestamp(start) / F.lit(bin_seconds)).cast("long")
        eb = (F.unix_timestamp(end) / F.lit(bin_seconds)).cast("long")
        return df.withColumn(f"__sb_{tag}", sb).withColumn(
            "__bin", F.explode(F.sequence(sb, eb))
        )

    # aliased so the residual filter resolves even when both frames use
    # the same start/end column names (the natural self-join case);
    # same-named PAYLOAD columns still come back duplicated — rename on
    # one side if the caller needs to tell them apart
    bl = binned(left, left_start, left_end, "l").alias("__la")
    br = binned(right, right_start, right_end, "r").alias("__ra")
    return (
        bl.join(br, [*by, "__bin"])
        .filter(
            (F.col(f"__la.{left_start}") < F.col(f"__ra.{right_end}"))
            & (F.col(f"__ra.{right_start}") < F.col(f"__la.{left_end}"))
            & (F.col("__bin") == F.greatest("__sb_l", "__sb_r"))
        )
        .drop("__bin", "__sb_l", "__sb_r")
    )


def resample_interpolate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    trunc_unit: str = "hour",
) -> DataFrame:
    """(key, t, value, observed) — regularize an irregular time series
    to a grid of one ``trunc_unit`` per step with linear interpolation
    across gaps: observations aggregate (mean) into truncated buckets
    (``date_trunc`` units: hour, day, ...), each key's grid spans ITS
    OWN [min, max] bucket (resampling never extrapolates), and an
    empty bucket takes prev + (next − prev)·Δt/ΔT from the nearest
    observed buckets on each side.

    Plan shape (r10 — segment explode): one hash aggregate (the bucket
    mean — the only corpus-sized exchange), then ONE lead() window
    over the |observed buckets| rows attaches each bucket's next
    observed neighbor, and each bucket explodes the half-open grid
    span [t, next_t) it left-bounds (the last bucket emits itself).
    Every gap row is born WITH its prev/next interpolation anchors, so
    the grid is never joined back to the observations and never
    window-sorted: the r05-r09 shape paid a grid ⋈ buckets left join
    plus TWO grid-sized window sorts (ASC + DESC running ignore-nulls
    frames over ~1M rows at sf0.1); this shape pays one window over
    the far smaller bucket table and a Generate. Grid rows are
    identical (all buckets sit on the ``trunc_unit`` lattice, so
    per-segment sequences tile the old per-key [min, max] sequence
    exactly) and the interpolation arithmetic is term-for-term
    the same doubles, so the output is byte-identical (oracle
    hash-verified). Grid points at observed buckets pass through
    exactly (observed = true); interior gaps are bounded by observed
    buckets on both sides by construction, so the interpolation
    denominators are never null."""
    t = F.date_trunc(trunc_unit, F.col(ts_col))
    hourly = (
        df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"), t.alias("t"))
        .agg(F.avg(value_col).alias("v"))
    )
    w = Window.partitionBy("key").orderBy("t")
    seg = hourly.select(
        "key",
        "t",
        "v",
        F.lead("t").over(w).alias("__nt"),
        F.lead("v").over(w).alias("__nv"),
    )
    # each observed bucket emits the grid points of [t, next_t): itself
    # plus the gap rows it left-bounds; the per-key LAST bucket
    # (next_t null) emits only itself — so resampling still never
    # extrapolates past a key's own first/last observation
    step_iv = F.expr(f"INTERVAL 1 {trunc_unit}")
    pts = F.sequence(
        F.col("t"),
        F.coalesce(F.col("__nt") - step_iv, F.col("t")),
        step_iv,
    )
    g = seg.select("key", "t", "v", "__nt", "__nv", F.explode(pts).alias("__gt"))
    observed = F.col("__gt") == F.col("t")
    frac = (F.col("__gt").cast("long") - F.col("t").cast("long")).cast(
        "double"
    ) / (F.col("__nt").cast("long") - F.col("t").cast("long")).cast("double")
    interp = F.when(observed, F.col("v")).otherwise(
        F.col("v") + (F.col("__nv") - F.col("v")) * frac
    )
    # explicit HALF-UP rounding (floor(x·1e6 + 0.5)/1e6) instead of
    # round(): interpolated values between 2-decimal inputs land on
    # EXACT dyadic halves, where engines' round() tie-break conventions
    # differ (Spark half-up, DuckDB half-even) — this spelling is the
    # same double arithmetic everywhere
    r6 = (F.floor(interp * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).cast("double")
    return g.select(
        F.col("key").alias(key_col),
        F.col("__gt").alias("t"),
        r6.alias("value"),
        observed.alias("observed"),
    )


def kaplan_meier(
    subjects: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """(duration, n_at_risk, n_events, n_censored, survival) — the
    Kaplan–Meier product-limit survival estimator from per-subject
    (duration, observed-event) rows, with the standard convention that
    subjects censored at t are still at risk for deaths at t.

    The product Π(1 − d/n) is computed as exp(Σ ln(1 − d/n)) over an
    ordered cumulative window — the ewma/cusum discipline: recurrences
    become window folds, no iteration, no UDF, SQL-replayable (libm ln
    ulp differences stay ~1e-14 over any realistic number of distinct
    times, far below the 1e-6 output rounding). One aggregate to the
    per-duration death/censor table (the only corpus-sized exchange),
    then windows over ≤ distinct-duration rows."""
    per_t = (
        subjects.select(
            F.col(duration_col).alias("t"),
            F.col(event_col).cast("int").alias("e"),
        )
        .filter(F.col("t").isNotNull())
        .groupBy("t")
        .agg(
            F.sum("e").cast("long").alias("d"),
            F.sum(F.lit(1) - F.col("e")).cast("long").alias("c"),
        )
    )
    w = Window.orderBy("t")
    prior = F.coalesce(
        F.sum(F.col("d") + F.col("c")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    total = F.sum(F.col("d") + F.col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    staged = per_t.select(
        "t", "d", "c", (total - prior).alias("n")
    )
    # d = n (every remaining subject dies at t) makes the factor 0 and
    # ln(0) undefined — DuckDB throws rather than returning −inf, so
    # both engines special-case it: term 0 in the cumsum, survival
    # pinned to 0.0 at that (necessarily final) time point
    log_term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n")),
        F.log(F.lit(1.0) - F.col("d") / F.col("n")),
    ).otherwise(F.lit(0.0))
    surv = F.when(F.col("d") == F.col("n"), F.lit(0.0)).otherwise(
        F.exp(
            F.sum(log_term).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        )
    )
    return staged.select(
        F.col("t").alias(duration_col),
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.round(surv, 6).alias("survival"),
    )


def densify_daily(
    d: DataFrame,
    series_col: str = "event_type",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Zero-fill a (series, x=epoch-day, y=count) frame over each
    series' OWN [min, max] day span — the structural fix for the
    row-lag-vs-day-lag hazard (r07 verdict item 5): every lag-family
    consumer (acf_lags, seasonal_naive_eval, holt_winters_eval,
    seasonal_dow) runs ``lag(y, k)`` over rows, which means day-k ONLY
    when every day in the span has a row. Used by
    plans/queries._daily_volumes.

    Plan cost: one |series|-row min/max aggregate, a sequence-explode
    over day spans (days, not data — tiny at any corpus size) and one
    |days|-sized left join; y stays an exact long."""
    spine = (
        d.groupBy(series_col)
        .agg(F.min(x_col).alias("lo"), F.max(x_col).alias("hi"))
        .select(
            series_col, F.explode(F.sequence("lo", "hi")).alias(x_col)
        )
    )
    return spine.join(d, [series_col, x_col], "left").select(
        series_col,
        x_col,
        F.coalesce(y_col, F.lit(0)).cast("long").alias(y_col),
    )


def holt_winters_backtest(
    d: DataFrame,
    series_col: str = "event_type",
    x_col: str = "x",
    y_col: str = "y",
    season: int = 7,
) -> DataFrame:
    """Additive Holt-Winters one-step-ahead backtest over a
    (series, x, y) daily-volume frame — the operator behind
    plans/queries.q_holt_winters_eval. Fixed smoothing constants
    (queries.HW_ALPHA/BETA/GAMMA); init: level = mean of the first
    ``season`` days, trend = 0, season_i = y_i − mean; forecasts and
    error columns
    (n_days/mae/mape/smape) start at day season+1 — exactly the days
    a seasonal-naive lag-``season`` is defined on, so the two models'
    rows compare directly.

    Plan shape: the entire recurrence runs INSIDE one JVM higher-order
    ``aggregate`` (left fold) over each series' |days|-length array —
    no UDF, no driver loop, no per-iteration shuffle; the seasonal
    state is a ``season``-element rotating queue (head = s_{t−m},
    consumed and re-appended updated each step), so no indexed array
    writes. |series| rows × bounded-length day arrays: the time
    dimension doesn't grow with corpus bytes, so this shape survives
    100 TB unchanged. The SQL oracle replays the identical arithmetic
    as a recursive CTE (see plans/queries._duck_holt_winters_eval);
    the shared text fragments live in plans/queries._hw_fragments."""
    from lion_parcel_etl_spark.plans.queries import HW_BETA, HW_GAMMA, _hw_fragments

    m = season
    ser = (
        d.groupBy(F.col(series_col).alias("event_type"))
        .agg(
            F.expr(
                f"transform(array_sort(collect_list(struct({x_col} AS x,"
                f" {y_col} AS y))), p -> cast(p.y as double))"
            ).alias("ys")
        )
        .filter(F.size("ys") >= m + 1)
    )
    init = ser.select(
        "event_type",
        "ys",
        F.expr(
            f"aggregate(slice(ys, 1, {m}), cast(0.0 as double),"
            " (a, v) -> a + v)"
            f" / {m}.0"
        ).alias("m7"),
    )
    pred, err, nl = _hw_fragments("y", "acc.l", "acc.b", "element_at(acc.s, 1)")
    fold = f"""aggregate(
  slice(ys, {m + 1}, size(ys) - {m}),
  named_struct(
    'l', m7, 'b', cast(0.0 as double),
    's', transform(slice(ys, 1, {m}), v -> v - m7),
    'nd', cast(0 as bigint), 'asum', cast(0.0 as double),
    'msum', cast(0.0 as double), 'mn', cast(0 as bigint),
    'ssum', cast(0.0 as double), 'sn', cast(0 as bigint)),
  (acc, y) -> named_struct(
    'l', {nl},
    'b', {HW_BETA} * (({nl}) - acc.l) + {1 - HW_BETA} * acc.b,
    's', concat(slice(acc.s, 2, {m - 1}),
                array({HW_GAMMA} * (y - acc.l - acc.b)
                      + {1 - HW_GAMMA} * element_at(acc.s, 1))),
    'nd', acc.nd + 1,
    'asum', acc.asum + {err},
    'msum', acc.msum + (CASE WHEN y > 0 THEN ({err}) / y ELSE 0.0 END),
    'mn', acc.mn + (CASE WHEN y > 0 THEN 1 ELSE 0 END),
    'ssum', acc.ssum + (CASE WHEN (abs(y) + abs({pred})) > 0
                        THEN (2.0 * ({err})) / (abs(y) + abs({pred}))
                        ELSE 0.0 END),
    'sn', acc.sn + (CASE WHEN (abs(y) + abs({pred})) > 0 THEN 1 ELSE 0 END))
)"""
    st = init.select("event_type", F.expr(fold).alias("st"))
    return st.select(
        "event_type",
        F.col("st.nd").alias("n_days"),
        F.round(F.expr("st.asum / st.nd"), 6).alias("mae"),
        F.round(F.expr("st.msum / st.mn"), 6).alias("mape"),
        F.round(F.expr("st.ssum / st.sn"), 6).alias("smape"),
    ).orderBy("event_type")
