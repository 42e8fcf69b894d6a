"""Data-quality check operators (the dbt-test layer, operators/checks.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lion_parcel_etl_spark.operators.checks import (
    expect_accepted_values,
    expect_not_null,
    expect_ref_integrity,
    expect_unique,
    run_checks,
)


def test_unique_flags_duplicate_keys(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "c"), (3, None)], ["id", "v"]
    )
    viol = expect_unique(df, ["id"]).collect()
    assert [(r.id, r.n_rows) for r in viol] == [(2, 2)]


def test_not_null_any_column(spark):
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, None)], ["id", "v"]
    )
    viol = expect_not_null(df, ["id", "v"]).collect()
    assert sorted(((r.id, r.v) for r in viol), key=str) == sorted(
        [(None, "b"), (3, None)], key=str
    )


def test_accepted_values_ignores_null(spark):
    df = spark.createDataFrame(
        [(1, "DONE"), (2, "On Way"), (3, "BOGUS"), (4, None)],
        ["id", "last_status"],
    )
    viol = expect_accepted_values(
        df, "last_status", ["Created", "On Way", "Delivered", "DONE"]
    ).collect()
    assert [r.id for r in viol] == [3]


def test_ref_integrity_orphans(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # the synthetic star schema is consistent: no orphans
    assert (
        expect_ref_integrity(orders, "o_custkey", customer, "c_custkey").count() == 0
    )
    # drop some parents -> their orders become violations
    some = customer.filter(F.col("c_custkey") % 7 != 0)
    orphans = expect_ref_integrity(orders, "o_custkey", some, "c_custkey")
    want = orders.filter(F.col("o_custkey") % 7 == 0).count()
    assert orphans.count() == want > 0


def test_run_checks_summary(spark):
    df = spark.createDataFrame([(1, "x"), (1, "y")], ["id", "v"])
    summary = run_checks(
        {
            "unique_id": expect_unique(df, ["id"]),
            "v_not_null": expect_not_null(df, ["v"]),
        }
    )
    assert summary == [
        {"check": "unique_id", "violations": 1, "passed": False},
        {"check": "v_not_null", "violations": 0, "passed": True},
    ]


def test_run_checks_matches_per_check_counts(spark):
    """The one-action evaluation gives each check the count its own
    violations frame has, in dict order, across frames of different
    schemas and with passing and failing checks mixed."""
    orders = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", None), (2, None, 3.0), (3, "c", 4.0), (3, "d", 5.0)],
        "id int, status string, amount double",
    )
    events = spark.createDataFrame(
        [("e1", "OPEN"), ("e2", "BOGUS"), ("e3", None), ("e4", "DONE")],
        "eid string, state string",
    )
    parents = spark.createDataFrame([(1,), (2,)], "id int")
    checks = {
        "orders.id_unique": expect_unique(orders, ["id"]),
        "orders.status_not_null": expect_not_null(orders, ["status"]),
        "events.eid_unique": expect_unique(events, ["eid"]),
        "events.state_accepted": expect_accepted_values(events, "state", ["OPEN", "DONE"]),
        "orders.amount_or_status_null": expect_not_null(orders, ["status", "amount"]),
        "orders.id_ref": expect_ref_integrity(orders, "id", parents, "id"),
        "events.eid_not_null": expect_not_null(events, ["eid"]),
    }
    counts = [viol.count() for viol in checks.values()]
    assert counts == [2, 1, 0, 1, 2, 2, 0]
    want = [
        {"check": name, "violations": n, "passed": n == 0}
        for name, n in zip(checks, counts)
    ]
    assert run_checks(checks) == want


def test_run_checks_empty_starts_no_job(spark):
    sc = spark.sparkContext
    df = spark.createDataFrame([(1,)], "id int")
    sc.setJobGroup("run_checks_empty", "run_checks_empty")
    try:
        assert run_checks({}) == []
        assert list(sc.statusTracker().getJobIdsForGroup("run_checks_empty")) == []
        # the same probe does see the jobs of a non-empty batch
        run_checks({"id_unique": expect_unique(df, ["id"])})
        assert list(sc.statusTracker().getJobIdsForGroup("run_checks_empty")) != []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_column_profile_counts_and_renderers(spark):
    from lion_parcel_etl_spark.operators.checks import column_profile

    df = spark.createDataFrame(
        [(1, 2.5, None), (2, 1e7, "x"), (None, 2.5, "x")],
        "a long, b double, c string",
    )
    prof = {
        r.col_name: r
        for r in column_profile(
            df, ["a", "b", "c"],
            fmt={"b": lambda x: x.cast("decimal(18,2)").cast("string")},
        ).collect()
    }
    assert (prof["a"].n_nonnull, prof["a"].n_null, prof["a"].n_distinct) == (2, 1, 2)
    assert (prof["a"].min_val, prof["a"].max_val) == ("1", "2")
    # DECIMAL render: no scientific notation for the 1e7 max
    assert prof["b"].max_val == "10000000.00" and prof["b"].min_val == "2.50"
    assert (prof["c"].n_null, prof["c"].n_distinct) == (1, 1)


def test_psi_drift_flags_shifted_group(spark):
    from pyspark.sql import functions as F

    from lion_parcel_etl_spark.operators.checks import psi_drift

    # 'same' mirrors the pooled distribution; 'shifted' sits far right
    rows = [("same", float(v)) for v in range(100, 300)] * 3 + [
        ("shifted", float(v)) for v in range(800, 1000)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in psi_drift(df, "v", "g", 0.0, 1000.0, 10).collect()}
    assert out["shifted"]["psi"] > 0.2
    assert out["shifted"]["drift"] == "significant"
    assert out["same"]["psi"] < out["shifted"]["psi"]


def test_psi_drift_identical_groups_near_zero(spark):
    from lion_parcel_etl_spark.operators.checks import psi_drift

    rows = [(g, float(v)) for g in ("a", "b") for v in range(0, 100)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = psi_drift(df, "v", "g", 0.0, 100.0, 10).collect()
    assert all(r["psi"] < 0.01 and r["drift"] == "stable" for r in out)


def test_psi_drift_ignores_nulls(spark):
    from lion_parcel_etl_spark.operators.checks import psi_drift

    rows = [("a", float(v)) for v in range(100)] + [("a", None)] * 50
    df = spark.createDataFrame(rows, "g string, v double")
    out = psi_drift(df, "v", "g", 0.0, 100.0, 10).collect()
    assert len(out) == 1 and out[0]["psi"] < 0.01


def test_bootstrap_ci_brackets_true_mean_and_is_deterministic(spark):
    from lion_parcel_etl_spark.operators.checks import bootstrap_ci

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 100).cast("double").alias("v")
    )
    r1 = bootstrap_ci(df, "v", "id", b=200).collect()[0]
    assert r1["ci_lo"] < r1["mean"] < r1["ci_hi"]
    assert abs(r1["mean"] - 49.5) < 1e-6
    # CI of a 1000-row mean of U{0..99} (sd≈28.9, se≈0.91): sane width
    assert 0.5 < (r1["ci_hi"] - r1["ci_lo"]) < 8.0
    # partition-layout independence: same interval bit-for-bit
    r2 = bootstrap_ci(df.repartition(13), "v", "id", b=200).collect()[0]
    assert (r1["ci_lo"], r1["ci_hi"]) == (r2["ci_lo"], r2["ci_hi"])


def test_bootstrap_ci_width_shrinks_with_n(spark):
    from lion_parcel_etl_spark.operators.checks import bootstrap_ci

    small = spark.range(100).select("id", (F.col("id") % 50).cast("double").alias("v"))
    big = spark.range(4000).select("id", (F.col("id") % 50).cast("double").alias("v"))
    ws = bootstrap_ci(small, "v", "id", b=200).collect()[0]
    wb = bootstrap_ci(big, "v", "id", b=200).collect()[0]
    assert (wb["ci_hi"] - wb["ci_lo"]) < (ws["ci_hi"] - ws["ci_lo"])


def test_bootstrap_ci_ignores_nulls(spark):
    from lion_parcel_etl_spark.operators.checks import bootstrap_ci

    rows = [(i, float(i % 10)) for i in range(200)] + [(1000 + i, None) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, v double")
    r = bootstrap_ci(df, "v", "id", b=100).collect()[0]
    assert abs(r["mean"] - 4.5) < 1e-6


def _cusum_reference(xs, k_sig=0.5, h_sig=4.0):
    import math

    mu = sum(xs) / len(xs)
    var = sum((x - mu) ** 2 for x in xs) / len(xs)
    sig = math.sqrt(var)
    su = sd = 0.0
    out = []
    for x in xs:
        su = max(0.0, su + (x - mu - k_sig * sig))
        sd = max(0.0, sd + (mu - x - k_sig * sig))
        out.append((round(su, 6), round(sd, 6)))
    return out, sig


def test_cusum_closed_form_matches_recurrence(spark):
    from lion_parcel_etl_spark.operators.checks import cusum_changepoints

    xs = [10.0, 11.0, 9.0, 10.0, 30.0, 31.0, 29.0, 30.0, 5.0, 10.0]
    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)], "g string, o long, x double"
    )
    got = [
        (r["cusum_up"], r["cusum_down"])
        for r in cusum_changepoints(df, "x", "o", "g").orderBy("o").collect()
    ]
    want, _ = _cusum_reference(xs)
    for (gu, gd), (wu, wd) in zip(got, want):
        assert abs(gu - wu) < 1e-6 and abs(gd - wd) < 1e-6


def test_cusum_alarms_on_level_shift_not_on_noise(spark):
    from lion_parcel_etl_spark.operators.checks import cusum_changepoints

    stable = [10.0, 10.5, 9.5, 10.0, 10.2, 9.8] * 5
    shifted = stable[:15] + [x + 3.0 for x in stable[15:]]
    sdf = spark.createDataFrame(
        [("s", i, x) for i, x in enumerate(stable)], "g string, o long, x double"
    )
    assert not any(
        r["alarm"] for r in cusum_changepoints(sdf, "x", "o", "g").collect()
    )
    hdf = spark.createDataFrame(
        [("h", i, x) for i, x in enumerate(shifted)], "g string, o long, x double"
    )
    rows = cusum_changepoints(hdf, "x", "o", "g").orderBy("o").collect()
    assert any(r["alarm"] for r in rows)
    # self-baselined: the global mean sits between the two levels, so
    # the DOWN statistic may alarm in the low first half — but the UP
    # statistic must only cross after the upward shift at index 15
    first_up = min(
        i
        for i, r in enumerate(rows)
        if r["alarm"] and r["cusum_up"] > r["cusum_down"]
    )
    assert first_up >= 15


def test_mad_outliers_flags_known_extreme(spark):
    from lion_parcel_etl_spark.operators.checks import mad_outliers

    xs = [10.0, 11.0, 12.0, 10.5, 11.5, 9.5, 10.2, 11.8, 100.0]
    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)], "g string, i long, x double"
    )
    rows = {r["i"]: r for r in mad_outliers(df, "x", "g", "i").collect()}
    # median 11.0, MAD = median(|x-11|) = 0.8 → z(100) = 0.6745*89/0.8 ≈ 75
    assert rows[8]["outlier"] and rows[8]["robust_z"] > 50
    assert all(not rows[i]["outlier"] for i in range(8))


def test_mad_outliers_zero_mad_yields_null_not_flags(spark):
    from lion_parcel_etl_spark.operators.checks import mad_outliers

    # >half identical → MAD 0: no flags, NULL z
    xs = [5.0] * 6 + [5.1, 4.9, 50.0]
    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)], "g string, i long, x double"
    )
    rows = mad_outliers(df, "x", "g", "i").collect()
    assert all(r["robust_z"] is None for r in rows)
    assert all(not r["outlier"] for r in rows)


def test_mad_outliers_matches_python_reference(spark):
    import statistics

    from lion_parcel_etl_spark.operators.checks import mad_outliers

    xs = [float(v % 17) + 0.25 * (v % 3) for v in range(40)]
    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)], "g string, i long, x double"
    )
    med = statistics.median(xs)
    mad = statistics.median([abs(x - med) for x in xs])
    rows = mad_outliers(df, "x", "g", "i").collect()
    for r in rows:
        want = round(0.6745 * (xs[r["i"]] - med) / mad, 6)
        assert abs(r["robust_z"] - want) < 1e-9


def test_mad_outliers_excludes_nan(spark):
    from lion_parcel_etl_spark.operators.checks import mad_outliers

    xs = [10.0, 11.0, 12.0, 10.5, 11.5, float("nan")]
    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)], "g string, i long, x double"
    )
    rows = mad_outliers(df, "x", "g", "i").collect()
    ids = {r["i"] for r in rows}
    assert 5 not in ids  # NaN row excluded entirely
    assert not any(r["outlier"] for r in rows)


def test_ols_trend_matches_numpy(spark):
    import numpy as np

    from lion_parcel_etl_spark.operators.checks import ols_trend

    xs = list(range(20))
    ys = [3.0 * x + 7.0 + ((-1) ** x) * 0.5 for x in xs]
    df = spark.createDataFrame(
        [("g", float(x), y) for x, y in zip(xs, ys)], "g string, x double, y double"
    )
    r = ols_trend(df, "x", "y", "g").collect()[0]
    slope, intercept = np.polyfit(xs, ys, 1)
    assert abs(r["slope"] - slope) < 1e-6
    assert abs(r["intercept"] - intercept) < 1e-6
    assert 0.99 < r["r2"] <= 1.0


def test_ols_trend_degenerate_groups_null(spark):
    from lion_parcel_etl_spark.operators.checks import ols_trend

    df = spark.createDataFrame(
        [("one_point", 1.0, 5.0), ("zero_var_x", 2.0, 1.0), ("zero_var_x", 2.0, 9.0)],
        "g string, x double, y double",
    )
    out = {r["g"]: r for r in ols_trend(df, "x", "y", "g").collect()}
    assert out["one_point"]["slope"] is None
    assert out["zero_var_x"]["slope"] is None
    # perfectly flat y: slope 0, r2 pinned to 1.0 (fit is exact)
    flat = spark.createDataFrame(
        [("f", float(x), 4.0) for x in range(5)], "g string, x double, y double"
    )
    r = ols_trend(flat, "x", "y", "g").collect()[0]
    assert r["slope"] == 0.0 and r["r2"] == 1.0


def test_theil_sen_ignores_outlier_ols_does_not(spark):
    from lion_parcel_etl_spark.operators.checks import ols_trend, theil_sen_trend

    xs = list(range(15))
    ys = [2.0 * x for x in xs]
    ys[14] = 500.0  # one wild point
    df = spark.createDataFrame(
        [("g", float(x), y) for x, y in zip(xs, ys)], "g string, x double, y double"
    )
    ts = theil_sen_trend(df, "x", "y", "g").collect()[0]
    ols = ols_trend(df, "x", "y", "g").collect()[0]
    assert abs(ts["slope"] - 2.0) < 0.15          # robust: barely moves
    assert ols["slope"] > 5.0                      # OLS dragged hard
    assert ts["n"] == 15


def test_theil_sen_short_series_contract_enforced(spark):
    """Over-max_rows input raises a clear contract error naming the
    ols_trend scale path instead of risking a broadcast OOM; rows
    dropped by the NaN/NULL cleaning don't count against the limit."""
    import pytest

    from lion_parcel_etl_spark.operators.checks import theil_sen_trend

    df = spark.createDataFrame(
        [("g", float(x), 2.0 * x) for x in range(30)],
        "g string, x double, y double",
    )
    with pytest.raises(ValueError, match="ols_trend"):
        theil_sen_trend(df, "x", "y", "g", max_rows=10)
    # cleaning runs BEFORE the gate: 25 null-y rows leave 5 clean ones
    dirty = df.limit(5).union(
        spark.createDataFrame(
            [("g", float(x), None) for x in range(25)],
            "g string, x double, y double",
        )
    )
    out = theil_sen_trend(dirty, "x", "y", "g", max_rows=10).collect()
    assert out[0]["n"] == 5


def test_theil_sen_gate_failure_releases_pinned_cache(spark):
    """The contract gate rejects exactly the inputs whose pinned
    (persisted + counted) cleaning projection would otherwise squat on
    executor storage forever — the raise path must unpersist it."""
    import pytest

    from lion_parcel_etl_spark.operators.checks import theil_sen_trend

    sc = spark.sparkContext
    # .id() CALLS the Java getter (bare .id is a JavaMember wrapper,
    # unique per Python object — it would fake a diff on every run)
    before = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    df = spark.createDataFrame(
        [("g", float(x), 2.0 * x) for x in range(30)],
        "g string, x double, y double",
    )
    with pytest.raises(ValueError, match="ols_trend"):
        theil_sen_trend(df, "x", "y", "g", max_rows=10)
    leaked = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()} - before
    assert not leaked, f"gate failure leaked cached RDDs: {leaked}"
