"""Compaction: fewer files, identical data, pruning-friendly layout."""

from __future__ import annotations

import pyspark.sql.functions as F

from lion_parcel_etl_spark.catalog import Warehouse
from lion_parcel_etl_spark.operators.maintenance import compact, table_file_stats

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _fragged_table(spark, tmp_path, n_files=16):
    wh = Warehouse(str(tmp_path / "wh"))
    ev = spark.read.parquet(EVENTS).drop("ts")
    wh.overwrite(ev.repartition(n_files), "default.events_frag")
    return wh, ev


def test_compact_reduces_files_preserves_data(spark, tmp_path):
    wh, ev = _fragged_table(spark, tmp_path)
    before, total = table_file_stats(wh, "default.events_frag")
    assert before >= 16
    stats = compact(spark, wh, "default.events_frag", target_file_bytes=total)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= 2  # one target-size file (+0/1 rounding)
    got = wh.read(spark, "default.events_frag")
    assert got.count() == ev.count()
    assert got.select(F.sum("event_id")).first()[0] == ev.select(F.sum("event_id")).first()[0]


def test_compact_sorted_layout_has_disjoint_file_ranges(spark, tmp_path):
    wh, ev = _fragged_table(spark, tmp_path)
    _, total = table_file_stats(wh, "default.events_frag")
    compact(
        spark, wh, "default.events_frag",
        target_file_bytes=max(1, total // 4), sort_by="event_id",
    )
    got = wh.read(spark, "default.events_frag")
    assert got.count() == ev.count()
    # per-file [min,max] of the sort key must not overlap — that's what
    # makes footer-stat pruning effective after a sorted rewrite
    ranges = (
        got.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(ranges) >= 2
    for prev, cur in zip(ranges, ranges[1:]):
        assert prev["hi"] < cur["lo"]


def test_vacuum_removes_only_stale_writer_debris(spark, tmp_path):
    import os

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum

    wh = Warehouse(str(tmp_path / "wh"))
    wh.overwrite(spark.range(5), "t")
    tdir = wh.table_path("t")
    stale = f"{tdir}.__tmp__deadbeef"
    fresh = f"{tdir}.__old__cafebabe"
    os.makedirs(stale)
    os.makedirs(fresh)
    os.utime(stale, (0, 0))  # ancient
    # an undotted demoted copy beside its live table: the form older
    # micro-batch demotions left on disk
    stale_old = f"{tdir}.__old__0badf00d"
    os.makedirs(os.path.join(stale_old, "__batch_id=1"))
    part = os.path.join(stale_old, "__batch_id=1", "part-0.parquet")
    with open(part, "w") as f:
        f.write("x")
    for path in (part, os.path.dirname(part), stale_old):
        os.utime(path, (0, 0))
    removed = vacuum(wh, min_age_seconds=3600)
    assert sorted(removed) == sorted([stale, stale_old])
    assert not os.path.exists(stale) and os.path.exists(fresh)
    assert not os.path.exists(stale_old)
    # live table untouched
    assert wh.read(spark, "t").count() == 5


def test_vacuum_restores_interrupted_swap(spark, tmp_path):
    """Crash between the two swap renames leaves committed data ONLY in
    __old__ with no base dir — vacuum must restore it, not delete it."""
    import os
    import shutil

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum

    wh = Warehouse(str(tmp_path / "wh"))
    wh.overwrite(spark.range(7), "t")
    tdir = wh.table_path("t")
    old = f"{tdir}.__old__deadbeef"
    shutil.move(tdir, old)  # simulate: base renamed away, new swap never landed
    os.utime(old, (0, 0))
    removed = vacuum(wh, min_age_seconds=0)
    assert removed == []
    assert wh.read(spark, "t").count() == 7


def test_vacuum_spares_recently_active_tmp_tree(spark, tmp_path):
    """A live writer touches files DEEP in its tmp dir; vacuum must use
    the newest mtime in the tree, not the top-level dir mtime."""
    import os

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum

    wh = Warehouse(str(tmp_path / "wh"))
    wh.overwrite(spark.range(3), "t")
    tdir = wh.table_path("t")
    tmp = f"{tdir}.__tmp__cafed00d"
    os.makedirs(os.path.join(tmp, "inner"))
    with open(os.path.join(tmp, "inner", "part-0.parquet"), "w") as f:
        f.write("x")  # fresh mtime deep inside
    os.utime(tmp, (0, 0))  # top-level dir looks ancient
    removed = vacuum(wh, min_age_seconds=3600)
    assert removed == []
    assert os.path.isdir(tmp)


def test_vacuum_marker_is_suffix_not_substring(spark, tmp_path):
    """A TABLE NAME containing '__old__' must not trick the restore
    path into publishing crashed __tmp__ debris as committed data."""
    import os

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum

    wh = Warehouse(str(tmp_path / "wh"))
    os.makedirs(os.path.join(wh.root, "default"))
    debris = os.path.join(wh.root, "default", "my__old__t.__tmp__deadbeef")
    os.makedirs(debris)
    os.utime(debris, (0, 0))
    removed = vacuum(wh, min_age_seconds=0)
    assert removed == [debris]
    assert not os.path.exists(os.path.join(wh.root, "default", "my__old__t"))


def test_vacuum_restore_waits_for_staleness(spark, tmp_path):
    """A FRESH baseless __old__ is a live swap in flight — vacuum must
    not restore it out from under the writer."""
    import os
    import shutil

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum

    wh = Warehouse(str(tmp_path / "wh"))
    wh.overwrite(spark.range(4), "t")
    tdir = wh.table_path("t")
    old = f"{tdir}.__old__cafebabe"
    shutil.move(tdir, old)  # mid-swap state, mtimes are current
    vacuum(wh, min_age_seconds=3600)
    assert os.path.isdir(old) and not os.path.exists(tdir)


# ---------------------------------------------------------------------------
# Chaos tests: Warehouse.publish, the one install path (a table root).
# Inject a crash between swap_dir's two renames and prove the documented
# recovery story — the table is absent, "if it exists" reads raise,
# vacuum restores the committed copy, and re-running the SAME write
# converges with no data loss.
# ---------------------------------------------------------------------------

import pytest


def test_overwrite_crash_between_renames_vacuum_restores_table(
    spark, tmp_path, monkeypatch
):
    """An overwrite of a boolean-partitioned table crashes between the
    swap's two renames: the table is absent, its demoted copy and the
    staged replacement sit in the database dir, and vacuum restores the
    old table (typed by its own schema file) and removes the tmp."""
    import os
    import re

    import lion_parcel_etl_spark.catalog as cat
    from lion_parcel_etl_spark.operators.maintenance import vacuum

    wh = Warehouse(str(tmp_path / "wh"))
    schema = "id long, is_current boolean"
    old_rows = [(1, True), (2, False), (3, True)]
    wh.overwrite(spark.createDataFrame(old_rows, schema), "t", partition_by=["is_current"])
    table = wh.table_path("t")
    db = os.path.dirname(table)

    real_rename = cat.os.rename

    def rename(src, dst):
        if "__tmp__" in str(src) and str(dst) == table:
            raise RuntimeError("injected crash between renames")
        real_rename(src, dst)

    monkeypatch.setattr(cat.os, "rename", rename)
    new = spark.createDataFrame([(9, True)], schema)
    with pytest.raises(RuntimeError, match="injected crash"):
        wh.overwrite(new, "t", partition_by=["is_current"])
    monkeypatch.undo()

    assert not os.path.exists(table)
    debris = sorted(os.listdir(db))
    assert len(debris) == 2
    assert re.fullmatch(r"\.t\.__old__[0-9a-f]{8}", debris[0])
    assert re.fullmatch(r"t\.__tmp__[0-9a-f]{8}", debris[1])

    assert vacuum(wh, min_age_seconds=0) == [os.path.join(db, debris[1])]
    assert os.listdir(db) == ["t"]
    got = wh.read(spark, "t")
    assert dict(got.dtypes)["is_current"] == "boolean"
    assert sorted(tuple(r) for r in got.select("id", "is_current").collect()) == old_rows


def test_scd2_after_crash_between_renames_raises_then_keeps_history(
    spark, tmp_path, monkeypatch
):
    """An SCD2 overwrite crashes between the swap's two renames: the
    table's only committed copy is its demoted dir. Reading it "if it
    exists" must raise (a first load there would rebuild the dimension
    from one snapshot), and after vacuum restores it the rerun keeps
    every earlier version."""
    import os

    import lion_parcel_etl_spark.catalog as cat
    from lion_parcel_etl_spark.operators.maintenance import vacuum
    from lion_parcel_etl_spark.operators.scd2 import scd2_apply
    from lion_parcel_etl_spark.pipelines.dags import _read_if_exists

    wh = Warehouse(str(tmp_path / "wh"))
    table = wh.table_path("dim")

    def run(status, day):
        snap = spark.createDataFrame(
            [(1, status, f"2024-01-0{day} 00:00:00"), (2, "fixed", "2024-01-01 00:00:00")],
            "id long, status string, snap_ts string",
        ).withColumn("snap_ts", F.to_timestamp("snap_ts")).withColumn(
            "run_at", F.to_timestamp(F.lit(f"2024-01-0{day} 01:00:00"))
        )
        out = scd2_apply(
            _read_if_exists(wh, spark, "dim"), snap, ["id"], ["status"], "snap_ts", "run_at"
        )
        wh.overwrite(out, "dim", partition_by=["is_current"])

    def versions():
        return sorted(
            (r.id, r.status, r.is_current) for r in wh.read(spark, "dim").collect()
        )

    run("a", 1)
    run("b", 2)
    before = versions()
    assert before == [(1, "a", False), (1, "b", True), (2, "fixed", True)]

    real_rename = cat.os.rename

    def rename(src, dst):
        if "__tmp__" in str(src) and str(dst) == table:
            raise RuntimeError("injected crash between renames")
        real_rename(src, dst)

    monkeypatch.setattr(cat.os, "rename", rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        run("c", 3)
    monkeypatch.undo()

    assert not os.path.exists(table)
    with pytest.raises(RuntimeError, match=r"\.dim\.__old__[0-9a-f]{8}.*vacuum"):
        _read_if_exists(wh, spark, "dim")

    vacuum(wh, min_age_seconds=0)
    assert versions() == before
    run("c", 3)
    assert versions() == [(1, "a", False), (1, "b", False), (1, "c", True), (2, "fixed", True)]
