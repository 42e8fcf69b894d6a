"""Multi-run SCD2 state machine following the reference's worked example
(retail_transactions_scd.sql:226-258): insert → update → update → soft
delete ⇒ 4 versions of id 1, three expired, one current with deleted_at.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from lion_parcel_etl_spark.operators.scd2 import scd2_apply
from lion_parcel_etl_spark.pipelines.retail import retail_snapshot, stage_source
from lion_parcel_etl_spark.schemas import SCD_SENTINEL

KEY = ["id"]
TRACKED = ["last_status", "pos_origin", "pos_destination", "deleted_at"]

SRC_SCHEMA = (
    "id long, customer_id long, last_status string, pos_origin string, "
    "pos_destination string, created_at timestamp, updated_at timestamp"
)


def ts(s):
    return dt.datetime.fromisoformat(s)


def src_df(spark, rows):
    return spark.createDataFrame(rows, SRC_SCHEMA)


def snapshot(spark, rows, run_ts):
    return retail_snapshot(stage_source(src_df(spark, rows), run_ts))


def clocked(df, run_ts):
    """``df`` with the run clock ``run_ts`` as its ``run_at`` column."""
    return df.withColumn("run_at", F.to_timestamp(F.lit(run_ts)))


def run(spark, target, rows, run_ts):
    snap = snapshot(spark, rows, run_ts)
    return scd2_apply(
        target, snap, KEY, TRACKED, snapshot_ts_col="updated_at", run_ts_col="loaded_at"
    ).cache()


def test_worked_example_four_runs(spark):
    t0 = ts("2025-10-01 10:00:00")
    # Run 1: insert
    tgt = run(
        spark,
        None,
        [(1, 10, "Created", "JKT", "BDG", t0, ts("2025-10-01 10:00:00"))],
        "2025-10-01 10:05:00",
    )
    assert tgt.count() == 1
    r = tgt.collect()[0]
    assert r.is_current and r.valid_to == ts(SCD_SENTINEL) and r.deleted_at is None

    # Run 2: status update
    tgt = run(
        spark,
        tgt,
        [(1, 10, "On Way", "JKT", "BDG", t0, ts("2025-10-01 11:00:00"))],
        "2025-10-01 11:05:00",
    )
    assert tgt.count() == 2
    cur = tgt.filter("is_current").collect()
    old = tgt.filter("not is_current").collect()
    assert len(cur) == 1 and cur[0].last_status == "On Way"
    assert cur[0].valid_from == ts("2025-10-01 11:00:00")
    assert old[0].valid_to == ts("2025-10-01 11:00:00")  # expired at new valid_from
    # first-seen dw_inserted_at carried onto the new version
    assert cur[0].dw_inserted_at == ts("2025-10-01 10:05:00")

    # Run 3: second update
    tgt = run(
        spark,
        tgt,
        [(1, 10, "Delivered", "JKT", "BDG", t0, ts("2025-10-01 12:00:00"))],
        "2025-10-01 12:05:00",
    )
    assert tgt.count() == 3

    # Run 4: soft delete (DONE -> deleted_at = updated_at, tracked change)
    tgt = run(
        spark,
        tgt,
        [(1, 10, "DONE", "JKT", "BDG", t0, ts("2025-10-01 13:00:00"))],
        "2025-10-01 13:05:00",
    )
    assert tgt.count() == 4
    cur = tgt.filter("is_current").collect()
    assert len(cur) == 1
    assert cur[0].last_status == "DONE"
    assert cur[0].deleted_at == ts("2025-10-01 13:00:00")
    assert tgt.filter("not is_current").count() == 3
    # validity intervals chain without gaps
    ordered = sorted(tgt.collect(), key=lambda r: r.valid_from)
    for a, b in zip(ordered, ordered[1:]):
        assert a.valid_to == b.valid_from


def test_nochange_and_missing_rows_retained(spark):
    t0 = ts("2025-10-01 10:00:00")
    tgt = run(
        spark,
        None,
        [
            (1, 10, "Created", "JKT", "BDG", t0, t0),
            (2, 20, "Created", "SBY", "JKT", t0, t0),
        ],
        "2025-10-01 10:05:00",
    )
    # Run 2: id 1 unchanged (same tracked values, newer updated_at is NOT
    # tracked), id 2 absent from snapshot entirely.
    tgt2 = run(
        spark,
        tgt,
        [(1, 10, "Created", "JKT", "BDG", t0, ts("2025-10-01 11:00:00"))],
        "2025-10-01 11:05:00",
    )
    assert tgt2.count() == 2
    assert tgt2.filter("is_current").count() == 2
    # retained rows are byte-identical to run-1 state
    assert sorted(map(tuple, tgt2.collect())) == sorted(map(tuple, tgt.collect()))


def test_null_safe_change_detection(spark):
    t0 = ts("2025-10-01 10:00:00")
    # pos_destination null -> value is a tracked change (IS DISTINCT FROM)
    tgt = run(spark, None, [(1, 10, "Created", "JKT", None, t0, t0)], "2025-10-01 10:05:00")
    tgt2 = run(
        spark,
        tgt,
        [(1, 10, "Created", "JKT", "BDG", t0, ts("2025-10-01 11:00:00"))],
        "2025-10-01 11:05:00",
    )
    assert tgt2.count() == 2
    # null -> null is NOT a change
    tgt3 = run(spark, None, [(1, 10, "Created", "JKT", None, t0, t0)], "2025-10-01 10:05:00")
    tgt4 = run(
        spark,
        tgt3,
        [(1, 10, "Created", "JKT", None, t0, ts("2025-10-01 11:00:00"))],
        "2025-10-01 11:05:00",
    )
    assert tgt4.count() == 1


def test_scd2_plan_broadcasts_snapshot(spark):
    t0 = ts("2025-10-01 10:00:00")
    tgt = run(spark, None, [(1, 10, "Created", "JKT", "BDG", t0, t0)], "2025-10-01 10:05:00")
    snap = snapshot(
        spark, [(1, 10, "On Way", "JKT", "BDG", t0, ts("2025-10-01 11:00:00"))],
        "2025-10-01 11:05:00",
    )
    out = scd2_apply(tgt, snap, KEY, TRACKED, "updated_at", "loaded_at")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_scd2_never_shuffles_target(spark):
    """The 100 TB contract: every join in scd2_apply builds on a
    broadcast side (snapshot keys / pruned prev / update keys) — the
    target dimension must plan with ZERO shuffle Exchanges, and no
    broadcast hint may be silently dropped into a sort-merge join."""
    from lion_parcel_etl_spark.operators.bucketing import plan_string

    t0 = ts("2025-10-01 10:00:00")
    tgt = run(spark, None, [(1, 10, "Created", "JKT", "BDG", t0, t0)], "2025-10-01 10:05:00")
    snap = snapshot(
        spark, [(1, 10, "On Way", "JKT", "BDG", t0, ts("2025-10-01 11:00:00"))],
        "2025-10-01 11:05:00",
    )
    out = scd2_apply(tgt, snap, KEY, TRACKED, "updated_at", "loaded_at")
    plan = plan_string(out)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    shuffles = [
        line
        for line in plan.splitlines()
        if line.strip().split()[:2][-1:] == ["Exchange"]
    ]
    assert not shuffles, f"target shuffled: {shuffles}"


def test_scd2_null_key_updates_instead_of_accumulating(spark):
    """A NULL business key is a real key: repeated runs must expire
    and replace its version, never pile up open current rows."""
    snap = lambda v, ts: spark.createDataFrame(
        [(None, v, ts)], "user_id long, status string, snap_ts string"
    ).withColumn("snap_ts", F.to_timestamp("snap_ts"))
    t1 = scd2_apply(None, clocked(snap("A", "2024-01-01 00:00:00"), "2024-01-01 01:00:00"),
                    ["user_id"], ["status"], "snap_ts", "run_at")
    t2 = scd2_apply(t1, clocked(snap("B", "2024-01-02 00:00:00"), "2024-01-02 01:00:00"),
                    ["user_id"], ["status"], "snap_ts", "run_at")
    rows = t2.collect()
    cur = [r for r in rows if r.is_current]
    assert len(cur) == 1 and cur[0].status == "B"
    hist = [r for r in rows if not r.is_current]
    assert len(hist) == 1 and hist[0].status == "A"
    # unchanged re-run: no new versions
    t3 = scd2_apply(t2, clocked(snap("B", "2024-01-03 00:00:00"), "2024-01-03 01:00:00"),
                    ["user_id"], ["status"], "snap_ts", "run_at")
    assert t3.count() == 2


def test_scd2_rejects_meta_column_collisions(spark):
    snap = spark.createDataFrame(
        [(1, "x", "2024-01-01 00:00:00")],
        "user_id long, valid_from string, snap_ts string",
    )
    with pytest.raises(ValueError, match="valid_from"):
        scd2_apply(None, clocked(snap, "2024-01-01 01:00:00"), ["user_id"],
                   ["valid_from"], "snap_ts", "run_at")


def test_scd2_probes_stored_table_twice(spark, tmp_path):
    """An incremental run over a stored, is_current-partitioned dimension
    reads it in two scans (the carry probe and the insert anti-join's
    current keys) and broadcasts three sides. The snapshot is in memory,
    so every parquet scan in the plan is a read of the target."""
    from lion_parcel_etl_spark.catalog import Warehouse

    t0 = ts("2025-10-01 10:00:00")
    wh = Warehouse(str(tmp_path / "wh"))
    first = run(
        spark,
        None,
        [(1, 10, "Created", "JKT", "BDG", t0, t0), (2, 20, "Created", "SBY", "JKT", t0, t0)],
        "2025-10-01 10:05:00",
    )
    wh.overwrite(first, "scd", partition_by=["is_current"])
    snap = snapshot(
        spark, [(1, 10, "On Way", "JKT", "BDG", t0, ts("2025-10-01 11:00:00"))],
        "2025-10-01 11:05:00",
    )
    out = scd2_apply(
        wh.read(spark, "scd"), snap, KEY, TRACKED, "updated_at", "loaded_at"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("AdaptiveSparkPlan")
    scans = plan.count("FileScan parquet")
    assert 1 <= scans <= 2, plan
    assert plan.count("BroadcastExchange") <= 3, plan
    assert out.count() == 3


@pytest.mark.parametrize(
    "key, tracked, run_ts_col, match",
    [
        (["user_id"], ["status"], "absent", r"'absent' must be .*\(found None\)"),
        (["user_id"], ["status"], "note", r"'note' must be .*\(found StringType\(\)\)"),
        (["user_id", "run_at"], ["status"], "run_at", "'run_at' must be .* not a key"),
        (["user_id"], ["status", "seen_at"], "seen_at", "'seen_at' must be .* not a key, tracked"),
        (["user_id"], ["status"], "snap_ts", "'snap_ts' must be .* or snapshot-time column"),
    ],
)
def test_scd2_rejects_bad_run_clock_column_without_a_job(spark, key, tracked, run_ts_col, match):
    """The run clock column is checked against the snapshot's schema
    before any plan is built: it must exist, be a timestamp and be a
    column of its own. No Spark job runs for the check."""
    snap = spark.createDataFrame(
        [(1, "a", "n", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"))],
        "user_id long, status string, note string, seen_at timestamp, snap_ts timestamp, "
        "run_at timestamp",
    )
    sc = spark.sparkContext
    group = f"scd2_clock_check_{run_ts_col}_{len(key)}_{len(tracked)}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=match):
            scd2_apply(None, snap, key, tracked, "snap_ts", run_ts_col)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_scd2_run_clock_column_is_not_stored(spark):
    """The clock stamps the meta columns on every row of a first and an
    incremental run, and never becomes a column of the dimension."""
    t0 = ts("2025-10-01 10:00:00")
    first = run(spark, None, [(1, 10, "Created", "JKT", "BDG", t0, t0)], "2025-10-01 10:05:00")
    second = run(
        spark,
        first,
        [
            (1, 10, "On Way", "JKT", "BDG", t0, ts("2025-10-01 11:00:00")),
            (2, 20, "Created", "SBY", "JKT", t0, ts("2025-10-01 11:00:00")),
        ],
        "2025-10-01 11:05:00",
    )
    assert "loaded_at" not in first.columns and "loaded_at" not in second.columns
    got = sorted(
        (r.id, r.is_current, r.dw_inserted_at, r.dw_updated_at) for r in second.collect()
    )
    assert got == [
        (1, False, ts("2025-10-01 10:05:00"), ts("2025-10-01 11:05:00")),
        (1, True, ts("2025-10-01 10:05:00"), ts("2025-10-01 11:05:00")),
        (2, True, ts("2025-10-01 11:05:00"), ts("2025-10-01 11:05:00")),
    ]
