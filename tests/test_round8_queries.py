"""Invariant tests for the round-8 additions (binned KS + agreement,
graph-family shared edge store, the contract guards from the r07
ADVICE findings). Value-level equality vs DuckDB is covered by
tools/check_oracles.py; these assert the semantic properties the
oracles can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lion_parcel_etl_spark.plans.queries import (
    q_cooccurrence_graph,
    q_ks_agreement,
    q_ks_drift,
    q_ks_drift_binned,
    q_triangle_count,
)


def test_ks_binned_is_admissible_and_close(spark, sf_dir):
    """The binned twin restricts the CDF-gap sup to bucket boundaries,
    so binned D ≤ exact D for EVERY group (d_gap ≥ 0 — not just on
    average), and at fixture scale the loss is small: both pins are
    deterministic (md5 sample, exact percentiles), so the floor is
    tight. Measured at sf0.001: max d_gap 0.0175; at sf0.01: 0.0044 —
    the gap SHRINKS with scale, which is the production claim."""
    rows = q_ks_agreement(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.d_gap >= 0, (r.event_type, r.d_gap)
        assert r.d_gap <= 0.03, (r.event_type, r.d_gap)
        assert 0 < r.ks_d_binned <= r.ks_d_exact


def test_ks_binned_grid_is_bounded(spark, sf_dir):
    """The entire point of the binned twin: its per-group ECDF grid is
    KS_BINS rows regardless of |distinct values|. Same output schema
    and group set as the exact query (drop-in replacement)."""
    from lion_parcel_etl_spark.operators.checks import KS_BINS

    exact = q_ks_drift(spark, sf_dir)
    binned = q_ks_drift_binned(spark, sf_dir)
    assert exact.columns == binned.columns
    e, b = exact.collect(), binned.collect()
    assert {r.event_type for r in e} == {r.event_type for r in b}
    # group sizes are identical — binning moves values, never rows
    assert {(r.event_type, r.n_group) for r in e} == {
        (r.event_type, r.n_group) for r in b
    }
    assert KS_BINS == 16


def test_cooc_edges_store_is_shared_and_byte_identical(spark, sf_dir):
    """The graph family's cooc_edges store must (a) be built once per
    (session, sf_dir) — later family members read it without rewriting
    it — and (b) contain rows byte-identical to an inline
    cooccurrence_edges build, so oracle parity can't silently depend
    on whether a call built or read the store."""
    import os

    from lion_parcel_etl_spark.operators.graph import cooccurrence_edges
    from lion_parcel_etl_spark.plans.queries import (
        COOC_MIN_JACCARD,
        _session_store,
        _store_path,
        _user_key_rows,
    )

    stored = _session_store(spark, sf_dir, "cooc_edges")
    marker = os.path.join(_store_path(spark, sf_dir, "cooc_edges"), "_SUCCESS")
    written = os.path.getmtime(marker)
    _ = q_triangle_count(spark, sf_dir).collect()
    _ = q_cooccurrence_graph(spark, sf_dir).collect()
    assert os.path.getmtime(marker) == written  # no rebuild happened
    inline = cooccurrence_edges(
        _user_key_rows(spark, sf_dir),
        "k",
        "user_id",
        min_jaccard=COOC_MIN_JACCARD,
    )
    cols = ["node_a", "node_b", "shared", "jaccard"]
    got = sorted(map(tuple, stored.select(cols).collect()))
    want = sorted(map(tuple, inline.select(cols).collect()))
    assert got == want and got


def test_lag_family_is_day_based_on_sparse_data(spark, tmp_path):
    """r07 verdict item 5, end-to-end: on a deliberately SPARSE events
    table (missing days inside every series' span) the whole lag
    family must still hash-match its DuckDB oracle — which only holds
    because _daily_volumes and _DUCK_DAILY now share the day-spine
    zero-fill; before r08 both engines silently computed
    lag-in-observations together and the oracle could not catch it.
    Also pins the semantics directly: lag-7 of a y=0 day is a real
    observation, so the densified series length equals the span."""
    import datetime

    import duckdb

    from lion_parcel_etl_spark.plans.queries import QUERIES, _daily_volumes

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0

    def add(et, day, n):
        nonlocal eid
        for k in range(n):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(days=day, hours=k + 1),
                    eid % 7,
                    et,
                    float(10 + (eid % 5)),
                    None,
                )
            )
            eid += 1

    # series a: 21-day span, days 3 and 9-11 missing
    for d in range(21):
        if d not in (3, 9, 10, 11):
            add("a", d, 1 + d % 3)
    # series b: 16-day span, only 3 observed days (heavy gaps)
    for d in (0, 14, 15):
        add("b", d, 2)
    # series c: 34-day span (days 5..38), every 3rd day only
    for d in range(5, 41, 3):
        add("c", d, 1 + d % 2)

    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    ev.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    sf = str(tmp_path)

    # the spine fills every series to its full span
    dense = _daily_volumes(spark, sf)
    spans = {
        r.event_type: (r.n, r.span)
        for r in dense.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.max("x") - F.min("x") + F.lit(1)).alias("span"),
        )
        .collect()
    }
    assert spans == {"a": (21, 21), "b": (16, 16), "c": (34, 34)}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
    )
    for name in (
        "acf_lags",
        "seasonal_naive_eval",
        "holt_winters_eval",
        "trend_ols",
        "trend_theil_sen",
        "seasonal_dow",
    ):
        query = QUERIES[name]
        got = [tuple(r) for r in query.build(spark, sf).collect()]
        want = [tuple(r) for r in con.execute(query.oracle).fetchall()]
        assert sorted(got, key=str) == sorted(want, key=str), name
        assert got, name


def test_ppr_seeded_empty_cohort_is_loud(spark, sf_dir, monkeypatch):
    """r07 ADVICE: an empty seed cohort must raise a descriptive error,
    not ZeroDivisionError. A customers-only graph has no supplier
    nodes at all, so no node can match the seed predicate. (Patching
    the modulus cannot empty the cohort — supplier s0 exists in the
    testdata and 0 is divisible by everything.)"""
    from pyspark.sql import functions as F

    import lion_parcel_etl_spark.plans.queries as Q

    edges = spark.createDataFrame(
        [("c1", "c2"), ("c2", "c1")], "src string, dst string"
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    monkeypatch.setattr(Q, "_trade_edges", lambda s, d: (edges, deg))
    # r09: the trade graph is session-store-backed — evict before (so
    # the patched build is actually used, not a previously-built real
    # graph) and after (so the patched rows can't leak to later tests)
    def _evict():
        for name in ("trade_ed", "trade_nodes"):
            Q._evict_session_store(spark, sf_dir, name)

    _evict()
    try:
        with pytest.raises(ValueError, match="seed cohort"):
            Q.q_ppr_seeded(spark, sf_dir)
    finally:
        _evict()


def test_benford_rejects_out_of_domain_digits(spark):
    """r07 ADVICE: benford_from_digit_counts is the public contract for
    future twins — a digit outside 1-9 (digit 0 from sub-cent amounts,
    negatives, NULL) must fail fast at execution, never silently skew
    p_obs/chi2 through the spine's left join."""
    from lion_parcel_etl_spark.operators.checks import (
        benford_from_digit_counts,
    )

    ok = spark.createDataFrame(
        [(d, 10) for d in range(1, 10)], "digit int, n_obs long"
    )
    assert benford_from_digit_counts(ok).count() == 9
    for bad_rows in ([(0, 5), (1, 3)], [(1, 3), (10, 2)], [(None, 4)]):
        bad = spark.createDataFrame(bad_rows, "digit int, n_obs long")
        with pytest.raises(Exception, match="outside 1-9"):
            benford_from_digit_counts(bad).collect()
