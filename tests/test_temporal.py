"""as-of join / range join: correctness vs naive O(n^2) formulations
on the events fixture, plus edge semantics (ties, no-match, forward).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lion_parcel_etl_spark.operators.temporal import asof_join, range_join


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _sides(events):
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    return clicks, purchases


def test_asof_backward_matches_naive(spark, events):
    clicks, purchases = _sides(events)
    got = asof_join(clicks, purchases, ["user_id"], direction="backward")

    # naive: non-equi join + argmax — the formulation we refuse to scale
    naive = (
        clicks.alias("l")
        .join(
            purchases.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("l.ts") >= F.col("r.ts")),
            "left",
        )
        .groupBy("l.event_id")
        .agg(F.max_by("r.pvalue", "r.ts").alias("pvalue_r"))
    )
    g = {(r["event_id"]): r["pvalue_r"] for r in got.collect()}
    n = {(r["event_id"]): r["pvalue_r"] for r in naive.collect()}
    assert g == n
    assert got.count() == clicks.count()  # left join: every click kept


def test_asof_forward_matches_naive(spark, events):
    clicks, purchases = _sides(events)
    got = asof_join(clicks, purchases, ["user_id"], direction="forward")
    naive = (
        clicks.alias("l")
        .join(
            purchases.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("l.ts") <= F.col("r.ts")),
            "left",
        )
        .groupBy("l.event_id")
        .agg(F.min_by("r.pvalue", "r.ts").alias("pvalue_r"))
    )
    g = {(r["event_id"]): r["pvalue_r"] for r in got.collect()}
    n = {(r["event_id"]): r["pvalue_r"] for r in naive.collect()}
    assert g == n


def test_asof_tie_is_inclusive(spark):
    l = spark.createDataFrame([(1, "2024-01-01 10:00:00")], "k int, ts string").select(
        "k", F.to_timestamp("ts").alias("ts")
    )
    r = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 9.0)], "k int, ts string, v double"
    ).select("k", F.to_timestamp("ts").alias("ts"), "v")
    out = asof_join(l, r, ["k"]).collect()
    assert out[0]["v_r"] == 9.0  # equal timestamps match


def test_range_join_matches_naive(spark, events):
    clicks, purchases = _sides(events)
    iv = purchases.select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("win_end"),
    )
    got = range_join(clicks, iv, "ts", "win_start", "win_end", by=["user_id"])
    naive = clicks.join(iv, "user_id").filter(
        (F.col("ts") >= F.col("win_start")) & (F.col("ts") <= F.col("win_end"))
    )
    assert sorted(
        (r["event_id"], str(r["p_ts"])) for r in got.collect()
    ) == sorted((r["event_id"], str(r["p_ts"])) for r in naive.collect())
    # each qualifying pair appears exactly once
    assert got.count() == got.dropDuplicates(["event_id", "p_ts"]).count()


def test_interval_overlap_join_matches_brute_force(spark):
    import random

    from lion_parcel_etl_spark.operators.temporal import interval_overlap_join

    rng = random.Random(11)
    base = 1_700_000_000

    def mk(n, key_space):
        rows = []
        for i in range(n):
            s = base + rng.randrange(0, 200_000)
            e = s + rng.randrange(1, 30_000)  # up to ~8h, bins of 1h
            rows.append((i, rng.randrange(key_space), s, e))
        return rows

    lrows, rrows = mk(60, 3), mk(60, 3)
    to_df = lambda rows, p: spark.createDataFrame(
        [(i, k) for i, k, _, _ in rows], f"{p}id long, {p}k long"
    ).join(
        spark.createDataFrame(
            [(i, s, e) for i, _, s, e in rows], f"{p}id long, {p}s long, {p}e long"
        ),
        f"{p}id",
    ).selectExpr(
        f"{p}id", f"{p}k",
        f"to_timestamp({p}s) AS {p}start", f"to_timestamp({p}e) AS {p}end",
    )
    L, R = to_df(lrows, "l"), to_df(rrows, "r")
    got = {
        (r.lid, r.rid)
        for r in interval_overlap_join(
            L, R, "lstart", "lend", "rstart", "rend", bin_seconds=3600
        )
        .withColumn("__eq", F.col("lk") == F.col("rk"))
        .filter("__eq")  # emulate keyed join for comparison below
        .collect()
    }
    want = {
        (li, ri)
        for (li, lk, ls, le) in lrows
        for (ri, rk, rs, re) in rrows
        if lk == rk and ls < re and rs < le
    }
    assert got == want

    # keyed variant gives the same pairs with the key as equi-join
    keyed = interval_overlap_join(
        L.withColumnRenamed("lk", "k"),
        R.withColumnRenamed("rk", "k"),
        "lstart", "lend", "rstart", "rend", by=["k"], bin_seconds=3600,
    )
    assert {(r.lid, r.rid) for r in keyed.collect()} == want


def test_interval_overlap_half_open_boundary(spark):
    from lion_parcel_etl_spark.operators.temporal import interval_overlap_join

    # [0, 10) and [10, 20) touch but do NOT overlap
    L = spark.createDataFrame([(1,)], "lid long").selectExpr(
        "lid", "to_timestamp(1700000000) AS lstart", "to_timestamp(1700000010) AS lend"
    )
    R = spark.createDataFrame([(2,)], "rid long").selectExpr(
        "rid", "to_timestamp(1700000010) AS rstart", "to_timestamp(1700000020) AS rend"
    )
    assert interval_overlap_join(L, R, "lstart", "lend", "rstart", "rend").count() == 0


def test_asof_join_null_payload_in_matched_row_stays_null(spark):
    """Regression: per-column last() fills stitched values from
    DIFFERENT right rows when the matched row had a NULL payload —
    the payload must travel as one struct."""
    from lion_parcel_etl_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 3)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 1, 5), (1, 2, None)], "k long, ts long, val long"
    )
    out = asof_join(left, right, ["k"], "ts").collect()
    assert len(out) == 1
    r = out[0]
    # matched row is ts=2 whose val is legitimately NULL
    assert r.ts_r == 2 and r.val_r is None


def test_interval_overlap_join_same_column_names(spark):
    from lion_parcel_etl_spark.operators.temporal import interval_overlap_join

    import datetime as dt

    mk = lambda rows: spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, h1), dt.datetime(2024, 1, 1, h2)) for i, h1, h2 in rows],
        "id long, s timestamp, e timestamp",
    )
    a = mk([(1, 0, 2)])
    b = mk([(10, 1, 3), (11, 5, 6)]).withColumnRenamed("id", "rid")
    out = interval_overlap_join(a, b, "s", "e", "s", "e")
    assert [(r.id, r.rid) for r in out.collect()] == [(1, 10)]


def test_resample_interpolate_linear_fill(spark):
    from datetime import datetime

    from lion_parcel_etl_spark.operators.temporal import resample_interpolate

    rows = [
        (1, datetime(2024, 1, 1, 0, 30), 10.0),
        (1, datetime(2024, 1, 1, 3, 10), 40.0),   # 2-hour gap → 2 interpolated points
        (2, datetime(2024, 1, 1, 5, 0), 7.0),     # singleton key → one grid point
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = resample_interpolate(df, "user_id", "ts", "value").collect()
    k1 = sorted(
        [(r["t"].hour, r["value"], r["observed"]) for r in out if r["user_id"] == 1]
    )
    assert k1 == [(0, 10.0, True), (1, 20.0, False), (2, 30.0, False), (3, 40.0, True)]
    k2 = [(r["t"].hour, r["value"], r["observed"]) for r in out if r["user_id"] == 2]
    assert k2 == [(5, 7.0, True)]


def test_resample_interpolate_bucket_mean_and_no_extrapolation(spark):
    from datetime import datetime

    from lion_parcel_etl_spark.operators.temporal import resample_interpolate

    rows = [
        (1, datetime(2024, 1, 1, 2, 5), 1.0),
        (1, datetime(2024, 1, 1, 2, 55), 3.0),   # same bucket → mean 2.0
        (1, datetime(2024, 1, 1, 4, 0), 6.0),
        (1, None, 99.0),                          # null ts dropped
        (1, datetime(2024, 1, 1, 5, 0), None),    # null value dropped
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sorted(
        (r["t"].hour, r["value"]) for r in
        resample_interpolate(df, "user_id", "ts", "value").collect()
    )
    # grid spans [2h, 4h] only — no point at 0h/1h/5h
    assert out == [(2, 2.0), (3, 4.0), (4, 6.0)]


def test_kaplan_meier_matches_hand_computation(spark):
    from lion_parcel_etl_spark.operators.temporal import kaplan_meier

    # classic textbook set: deaths at 1 (2 of 10), censor at 2 (1),
    # deaths at 3 (1 of 7), censor at 4 (2), deaths at 5 (4 of 4)
    rows = (
        [(1, True)] * 2
        + [(2, False)]
        + [(3, True)]
        + [(4, False)] * 2
        + [(5, True)] * 4
    )
    df = spark.createDataFrame(rows, "duration_days long, event boolean")
    got = {
        r["duration_days"]: r
        for r in kaplan_meier(df, "duration_days", "event").collect()
    }
    assert (got[1]["n_at_risk"], got[1]["n_events"]) == (10, 2)
    assert abs(got[1]["survival"] - 0.8) < 1e-6
    # t=2: censor only — survival unchanged
    assert abs(got[2]["survival"] - 0.8) < 1e-6
    # t=3: 1 death of 7 at risk → 0.8 * 6/7
    assert abs(got[3]["survival"] - 0.8 * 6 / 7) < 1e-6
    # t=5: all 4 remaining die → survival exactly 0
    assert got[5]["n_at_risk"] == 4 and got[5]["survival"] == 0.0


def test_kaplan_meier_no_events_stays_at_one(spark):
    from lion_parcel_etl_spark.operators.temporal import kaplan_meier

    df = spark.createDataFrame(
        [(i % 5 + 1, False) for i in range(20)], "duration_days long, event boolean"
    )
    rows = kaplan_meier(df, "duration_days", "event").collect()
    assert all(r["survival"] == 1.0 for r in rows)
    assert all(r["n_events"] == 0 for r in rows)
