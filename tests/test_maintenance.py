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
    removed = vacuum(wh, min_age_seconds=3600)
    assert removed == [stale]
    assert not os.path.exists(stale) and os.path.exists(fresh)
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
# Chaos tests: the two non-transactional multi-action materializers.
# Inject a crash into swap_dir at each window and prove the documented
# recovery story — table stays readable, at worst a __tmp__ orphan for
# vacuum, and re-running the SAME run converges with no data loss and
# no duplicates.
# ---------------------------------------------------------------------------

import pyspark.sql.functions as _F
import pytest


def _crash_swap_on(monkeypatch, substr: str):
    """Patch catalog.swap_dir to raise when the destination path
    contains ``substr`` (operators resolve swap_dir at call time, so
    patching the catalog module is enough). Returns a dict; set
    d['armed']=False to disarm for the recovery re-run."""
    import lion_parcel_etl_spark.catalog as cat

    real = cat.swap_dir
    state = {"armed": True}

    def chaotic(tmp, dst):
        if state["armed"] and substr in dst:
            raise RuntimeError(f"injected crash before swap of {dst}")
        real(tmp, dst)

    monkeypatch.setattr(cat, "swap_dir", chaotic)
    return state


def _scd_snap(spark, rows, ts):
    df = spark.createDataFrame(rows, "id long, status string")
    return df.withColumn("snap_ts", _F.to_timestamp(_F.lit(ts)))


def _scd_canon(df):
    cols = ["id", "status", "valid_from", "valid_to", "is_current"]
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def _orphans(wh):
    import os

    return [
        os.path.join(dp, d)
        for dp, dns, _f in os.walk(wh.root)
        for d in dns
        if "__tmp__" in d or "__old__" in d
    ]


@pytest.mark.parametrize("window", ["state=history", "state=current"])
def test_scd2_partitioned_crash_windows_recover_on_rerun(
    spark, tmp_path, monkeypatch, window
):
    """Crash before the history swap (table untouched) and between the
    history swap and the current swap (the documented anomaly window:
    expired version in history alongside its still-open predecessor in
    current). Both must leave the table readable and converge to the
    clean-run result when the SAME run retries — the run_ts-keyed
    history subdirectory replaces instead of duplicating."""
    import os

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum
    from lion_parcel_etl_spark.operators.scd2 import scd2_apply, scd2_apply_partitioned

    wh = Warehouse(str(tmp_path / "wh"))
    snap1 = _scd_snap(spark, [(1, "A"), (2, "A")], "2024-01-01 00:00:00")
    snap2 = _scd_snap(spark, [(1, "B"), (2, "A")], "2024-01-02 00:00:00")
    rts1, rts2 = "2024-01-01 01:00:00", "2024-01-02 01:00:00"
    scd2_apply_partitioned(spark, wh, "dim", snap1, ["id"], ["status"], "snap_ts", rts1)
    pre_current = _scd_canon(
        wh.read(spark, "dim").filter(_F.col("is_current")).drop("state")
    )

    state = _crash_swap_on(monkeypatch, window)
    with pytest.raises(RuntimeError, match="injected crash"):
        scd2_apply_partitioned(
            spark, wh, "dim", snap2, ["id"], ["status"], "snap_ts", rts2
        )

    # Crashed state: table still readable, current partition untouched
    # (the current swap never completed in either window).
    got = wh.read(spark, "dim")
    assert (
        _scd_canon(got.filter(_F.col("is_current")).drop("state")) == pre_current
    )
    if window == "state=history":
        # history swap itself crashed → no run dir was installed
        hist_root = os.path.join(wh.table_path("dim"), "state=history")
        assert not os.path.isdir(hist_root) or not any(
            d.startswith("run-") for d in os.listdir(hist_root)
        )
    # debris is confined to __tmp__ orphans, which vacuum removes
    assert all("__tmp__" in p for p in _orphans(wh))
    removed = vacuum(wh, min_age_seconds=0)
    assert removed and not _orphans(wh)

    # Recovery: retry the SAME run (same run_ts, same snapshot).
    state["armed"] = False
    scd2_apply_partitioned(spark, wh, "dim", snap2, ["id"], ["status"], "snap_ts", rts2)

    twin = scd2_apply(
        scd2_apply(None, snap1, ["id"], ["status"], "snap_ts", rts1),
        snap2,
        ["id"],
        ["status"],
        "snap_ts",
        rts2,
    )
    assert _scd_canon(wh.read(spark, "dim").drop("state")) == _scd_canon(twin)


def test_scd2_partitioned_same_run_retry_does_not_duplicate_history(
    spark, tmp_path, monkeypatch
):
    """The regression the run-keyed subdirectory exists to prevent: a
    blind mode=append history write would land id 1's expired version
    TWICE when the crashed run retries."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.scd2 import scd2_apply_partitioned

    wh = Warehouse(str(tmp_path / "wh"))
    snap1 = _scd_snap(spark, [(1, "A")], "2024-01-01 00:00:00")
    snap2 = _scd_snap(spark, [(1, "B")], "2024-01-02 00:00:00")
    rts2 = "2024-01-02 01:00:00"
    scd2_apply_partitioned(
        spark, wh, "dim", snap1, ["id"], ["status"], "snap_ts", "2024-01-01 01:00:00"
    )
    state = _crash_swap_on(monkeypatch, "state=current")
    with pytest.raises(RuntimeError):
        scd2_apply_partitioned(
            spark, wh, "dim", snap2, ["id"], ["status"], "snap_ts", rts2
        )
    # history already holds the expired version from the crashed run …
    assert wh.read(spark, "dim").filter(~_F.col("is_current")).count() == 1
    state["armed"] = False
    scd2_apply_partitioned(spark, wh, "dim", snap2, ["id"], ["status"], "snap_ts", rts2)
    # … and the retry REPLACED it, not appended a second copy
    hist = wh.read(spark, "dim").filter(~_F.col("is_current"))
    assert hist.count() == 1


def _bucket_ids_for(spark, n_buckets, want_distinct=2):
    """First `want_distinct` ids (1..99) landing in distinct buckets,
    as {id: bucket} — lets tests pick keys with known bucket homes."""
    from lion_parcel_etl_spark.operators.scd2 import bucket_of

    rows = (
        spark.createDataFrame([(i,) for i in range(1, 100)], "id long")
        .select("id", bucket_of(["id"], n_buckets).alias("b"))
        .collect()
    )
    picked: dict[int, int] = {}
    for r in rows:
        if r["b"] not in picked.values():
            picked[r["id"]] = r["b"]
        if len(picked) == want_distinct:
            break
    return picked


def test_scd2_bucketed_matches_twin_and_prunes_untouched_buckets(
    spark, tmp_path
):
    """Two bucketed runs produce exactly the scd2_apply twin's state,
    and a run whose snapshot touches ONE bucket leaves every other
    bucket directory byte-untouched (the wholesale-rewrite fix)."""
    import os

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.scd2 import (
        scd2_apply,
        scd2_apply_bucketed,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    n_buckets = 4
    picked = _bucket_ids_for(spark, n_buckets, want_distinct=2)
    (id_a, b_a), (id_b, b_b) = list(picked.items())
    snap1 = _scd_snap(
        spark, [(id_a, "A"), (id_b, "A")], "2024-01-01 00:00:00"
    )
    # second snapshot touches ONLY id_a's bucket
    snap2 = _scd_snap(spark, [(id_a, "B")], "2024-01-02 00:00:00")
    rts1, rts2 = "2024-01-01 01:00:00", "2024-01-02 01:00:00"
    scd2_apply_bucketed(
        spark, wh, "dim", snap1, ["id"], ["status"], "snap_ts", rts1,
        n_buckets=n_buckets,
    )

    def listing(b):
        d = os.path.join(wh.table_path("dim"), "state=current", f"bucket-{b}")
        if not os.path.isdir(d):
            return None
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f))) for f in os.listdir(d)
        )

    before_b = listing(b_b)
    scd2_apply_bucketed(
        spark, wh, "dim", snap2, ["id"], ["status"], "snap_ts", rts2,
        n_buckets=n_buckets,
    )
    assert listing(b_b) == before_b  # untouched bucket: not even renamed

    twin = scd2_apply(
        scd2_apply(None, snap1, ["id"], ["status"], "snap_ts", rts1),
        snap2, ["id"], ["status"], "snap_ts", rts2,
    )
    assert _scd_canon(wh.read(spark, "dim").drop("state")) == _scd_canon(twin)


@pytest.mark.parametrize("window", ["first-history", "second-bucket"])
def test_scd2_bucketed_crash_windows_recover_on_rerun(
    spark, tmp_path, monkeypatch, window
):
    """Crash (a) before the first bucket's history swap — table
    untouched — and (b) before the SECOND touched bucket's current
    swap — first bucket fully applied, second bucket in the
    history-installed/current-stale anomaly window. Both retry to the
    clean twin with exactly one expired version per changed key: the
    >0-rows guard preserves the already-applied bucket's history
    run-dir instead of replacing it with emptiness."""
    import os

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum
    from lion_parcel_etl_spark.operators.scd2 import (
        scd2_apply,
        scd2_apply_bucketed,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    n_buckets = 4
    picked = _bucket_ids_for(spark, n_buckets, want_distinct=2)
    (id_a, b_a), (id_b, b_b) = list(picked.items())
    snap1 = _scd_snap(
        spark, [(id_a, "A"), (id_b, "A")], "2024-01-01 00:00:00"
    )
    snap2 = _scd_snap(
        spark, [(id_a, "B"), (id_b, "B")], "2024-01-02 00:00:00"
    )
    rts1, rts2 = "2024-01-01 01:00:00", "2024-01-02 01:00:00"
    scd2_apply_bucketed(
        spark, wh, "dim", snap1, ["id"], ["status"], "snap_ts", rts1,
        n_buckets=n_buckets,
    )
    substr = (
        "state=history" if window == "first-history"
        else f"bucket-{max(b_a, b_b)}"
    )
    state = _crash_swap_on(monkeypatch, substr)
    with pytest.raises(RuntimeError, match="injected crash"):
        scd2_apply_bucketed(
            spark, wh, "dim", snap2, ["id"], ["status"], "snap_ts", rts2,
            n_buckets=n_buckets,
        )
    # crashed state: table readable; debris confined to __tmp__ orphans
    assert wh.read(spark, "dim").count() >= 2
    assert all("__tmp__" in p for p in _orphans(wh))
    vacuum(wh, min_age_seconds=0)

    state["armed"] = False
    scd2_apply_bucketed(
        spark, wh, "dim", snap2, ["id"], ["status"], "snap_ts", rts2,
        n_buckets=n_buckets,
    )
    twin = scd2_apply(
        scd2_apply(None, snap1, ["id"], ["status"], "snap_ts", rts1),
        snap2, ["id"], ["status"], "snap_ts", rts2,
    )
    got = wh.read(spark, "dim")
    assert _scd_canon(got.drop("state")) == _scd_canon(twin)
    # exactly one expired version per changed key — nothing duplicated,
    # nothing lost across the partial application
    assert got.filter(~_F.col("is_current")).count() == 2


def test_scd2_bucketed_rejects_bucket_count_change(spark, tmp_path):
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.scd2 import scd2_apply_bucketed

    wh = Warehouse(str(tmp_path / "wh"))
    snap1 = _scd_snap(spark, [(1, "A")], "2024-01-01 00:00:00")
    scd2_apply_bucketed(
        spark, wh, "dim", snap1, ["id"], ["status"], "snap_ts",
        "2024-01-01 01:00:00", n_buckets=4,
    )
    with pytest.raises(ValueError, match="_buckets"):
        scd2_apply_bucketed(
            spark, wh, "dim", snap1, ["id"], ["status"], "snap_ts",
            "2024-01-02 01:00:00", n_buckets=8,
        )


def test_scd2_bucketed_marker_without_dtype_line_is_refused(spark, tmp_path):
    """A one-line bucket marker (no key-dtype line) names the table and
    asks for a reload, in both the apply and the rebucket path."""
    import os

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.scd2 import rebucket, scd2_apply_bucketed

    wh = Warehouse(str(tmp_path / "wh"))
    table_dir = wh.table_path("dim")
    os.makedirs(os.path.join(table_dir, "state=current"))
    with open(f"{table_dir}.__buckets__", "w") as mf:
        mf.write("4\n")
    snap = _scd_snap(spark, [(1, "A")], "2024-01-01 00:00:00")
    with pytest.raises(ValueError, match="'dim'.*reload"):
        scd2_apply_bucketed(
            spark, wh, "dim", snap, ["id"], ["status"], "snap_ts",
            "2024-01-01 01:00:00", n_buckets=4,
        )
    with pytest.raises(ValueError, match="'dim'.*reload"):
        rebucket(spark, wh, "dim", ["id"], 8)


def test_scd2_bucketed_first_load_crash_converges(spark, tmp_path, monkeypatch):
    """Crash during the FIRST load's single current-partition swap:
    no partial current partition is ever visible (cur_root absent —
    the round-5 layout swapped buckets one-by-one and could serve a
    prefix as complete), and the retry re-enters the first-load branch
    and completes instead of tripping the marker guard."""
    import os

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum
    from lion_parcel_etl_spark.operators.scd2 import scd2_apply, scd2_apply_bucketed

    wh = Warehouse(str(tmp_path / "wh"))
    snap1 = _scd_snap(spark, [(1, "A"), (2, "A"), (3, "A")], "2024-01-01 00:00:00")
    rts1 = "2024-01-01 01:00:00"
    state = _crash_swap_on(monkeypatch, "state=current")
    with pytest.raises(RuntimeError, match="injected crash"):
        scd2_apply_bucketed(
            spark, wh, "dim", snap1, ["id"], ["status"], "snap_ts", rts1,
            n_buckets=4,
        )
    cur_root = os.path.join(wh.table_path("dim"), "state=current")
    assert not os.path.isdir(cur_root)  # never a partial current partition
    vacuum(wh, min_age_seconds=0)

    state["armed"] = False
    scd2_apply_bucketed(
        spark, wh, "dim", snap1, ["id"], ["status"], "snap_ts", rts1,
        n_buckets=4,
    )
    twin = scd2_apply(None, snap1, ["id"], ["status"], "snap_ts", rts1)
    assert _scd_canon(wh.read(spark, "dim").drop("state")) == _scd_canon(twin)


def test_scd2_bucketed_key_dtype_drift_no_duplicate_current(spark, tmp_path):
    """A later snapshot whose key column arrives as int (first load
    was long) must hash to the SAME buckets: the marker's recorded key
    dtypes are cast onto the snapshot before bucket_of, so the changed
    key gets exactly one current version and one expired version — not
    a silent duplicate in a second bucket."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.scd2 import scd2_apply_bucketed

    wh = Warehouse(str(tmp_path / "wh"))
    snap1 = _scd_snap(spark, [(1, "A"), (2, "A")], "2024-01-01 00:00:00")
    scd2_apply_bucketed(
        spark, wh, "dim", snap1, ["id"], ["status"], "snap_ts",
        "2024-01-01 01:00:00", n_buckets=8,
    )
    snap2 = spark.createDataFrame([(1, "B")], "id int, status string").withColumn(
        "snap_ts", _F.to_timestamp(_F.lit("2024-01-02 00:00:00"))
    )
    scd2_apply_bucketed(
        spark, wh, "dim", snap2, ["id"], ["status"], "snap_ts",
        "2024-01-02 01:00:00", n_buckets=8,
    )
    got = wh.read(spark, "dim")
    cur1 = got.filter(_F.col("is_current") & (_F.col("id") == 1)).collect()
    assert len(cur1) == 1 and cur1[0]["status"] == "B"
    assert got.filter(~_F.col("is_current")).count() == 1


def test_rebucket_preserves_state_and_scd2_straddles_migration(spark, tmp_path):
    """Migrate 4→8 buckets mid-stream: state after
    run1(4) → rebucket(8) → run2(8) equals the plain twin of the two
    runs, and the marker now enforces the new count."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.scd2 import (
        rebucket,
        scd2_apply,
        scd2_apply_bucketed,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    snap1 = _scd_snap(
        spark, [(i, "A") for i in range(1, 13)], "2024-01-01 00:00:00"
    )
    snap2 = _scd_snap(spark, [(1, "B"), (7, "B")], "2024-01-02 00:00:00")
    rts1, rts2 = "2024-01-01 01:00:00", "2024-01-02 01:00:00"
    scd2_apply_bucketed(
        spark, wh, "dim", snap1, ["id"], ["status"], "snap_ts", rts1, n_buckets=4
    )
    stats = rebucket(spark, wh, "dim", ["id"], 8)
    assert stats == {"rows": 12, "n_old": 4, "n_new": 8}
    with pytest.raises(ValueError, match="_buckets"):
        scd2_apply_bucketed(
            spark, wh, "dim", snap2, ["id"], ["status"], "snap_ts", rts2,
            n_buckets=4,
        )
    scd2_apply_bucketed(
        spark, wh, "dim", snap2, ["id"], ["status"], "snap_ts", rts2, n_buckets=8
    )
    twin = scd2_apply(
        scd2_apply(None, snap1, ["id"], ["status"], "snap_ts", rts1),
        snap2, ["id"], ["status"], "snap_ts", rts2,
    )
    assert _scd_canon(wh.read(spark, "dim").drop("state")) == _scd_canon(twin)


def test_rebucket_crash_windows(spark, tmp_path, monkeypatch):
    """(a) Crash before the layout swap: old layout + old marker
    intact, debris vacuums, retry converges. (b) Crash between the
    swap and the marker write: FAIL-STOP — apply raises the marker
    mismatch loudly (never silent corruption), and re-running rebucket
    converges."""
    import lion_parcel_etl_spark.operators.scd2 as scd2mod
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum
    from lion_parcel_etl_spark.operators.scd2 import (
        rebucket,
        scd2_apply,
        scd2_apply_bucketed,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    snap1 = _scd_snap(
        spark, [(i, "A") for i in range(1, 13)], "2024-01-01 00:00:00"
    )
    rts1 = "2024-01-01 01:00:00"
    scd2_apply_bucketed(
        spark, wh, "dim", snap1, ["id"], ["status"], "snap_ts", rts1, n_buckets=4
    )

    # window (a): before the swap
    state = _crash_swap_on(monkeypatch, "state=current")
    with pytest.raises(RuntimeError, match="injected crash"):
        rebucket(spark, wh, "dim", ["id"], 8)
    assert wh.read(spark, "dim").count() == 12  # old layout serves fine
    vacuum(wh, min_age_seconds=0)
    state["armed"] = False

    # window (b): between the swap and the marker write
    real_write = scd2mod._write_marker
    armed = {"on": True}

    def crashy_marker(marker, n, types):
        if armed["on"]:
            raise RuntimeError("injected crash before marker write")
        real_write(marker, n, types)

    monkeypatch.setattr(scd2mod, "_write_marker", crashy_marker)
    with pytest.raises(RuntimeError, match="injected crash"):
        rebucket(spark, wh, "dim", ["id"], 8)
    snap2 = _scd_snap(spark, [(1, "B")], "2024-01-02 00:00:00")
    with pytest.raises(ValueError, match="_buckets"):  # loud, not silent
        scd2_apply_bucketed(
            spark, wh, "dim", snap2, ["id"], ["status"], "snap_ts",
            "2024-01-02 01:00:00", n_buckets=8,
        )
    armed["on"] = False
    stats = rebucket(spark, wh, "dim", ["id"], 8)
    assert stats["n_new"] == 8 and stats["rows"] == 12
    scd2_apply_bucketed(
        spark, wh, "dim", snap2, ["id"], ["status"], "snap_ts",
        "2024-01-02 01:00:00", n_buckets=8,
    )
    twin = scd2_apply(
        scd2_apply(None, snap1, ["id"], ["status"], "snap_ts", rts1),
        snap2, ["id"], ["status"], "snap_ts", "2024-01-02 01:00:00",
    )
    assert _scd_canon(wh.read(spark, "dim").drop("state")) == _scd_canon(twin)


def test_merge_partitioned_crash_mid_swap_loop_recovers(spark, tmp_path, monkeypatch):
    """Crash after swapping the first of two touched partitions: each
    partition is individually consistent (one merged, one stale), the
    leftover tmp dir vacuums away, and retrying the same batch
    converges because the merge is idempotent per key."""
    import os

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum
    from lion_parcel_etl_spark.operators.merge_upsert import merge_upsert_partitioned

    wh = Warehouse(str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(1, "old", "d1"), (2, "old", "d1"), (3, "old", "d2"), (4, "old", "d3")],
        "id long, v string, day string",
    )
    merge_upsert_partitioned(spark, wh, "mart", base, ["id"], "day")
    updates = spark.createDataFrame(
        [(1, "new", "d1"), (3, "new", "d2"), (5, "new", "d2")],
        "id long, v string, day string",
    )

    # swap loop iterates sorted(day=d1, day=d2): crash on the second
    state = _crash_swap_on(monkeypatch, "day=d2")
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_upsert_partitioned(spark, wh, "mart", updates, ["id"], "day")

    got = {(r.id, r.v, r.day) for r in wh.read(spark, "mart").collect()}
    # d1 merged, d2 untouched, d3 never read or rewritten — no data loss
    assert got == {
        (1, "new", "d1"),
        (2, "old", "d1"),
        (3, "old", "d2"),
        (4, "old", "d3"),
    }
    orphans = _orphans(wh)
    assert orphans and all("__tmp__" in p for p in orphans)
    removed = vacuum(wh, min_age_seconds=0)
    assert removed and not _orphans(wh)

    # retry the same batch → exact clean-run result
    state["armed"] = False
    swapped = merge_upsert_partitioned(spark, wh, "mart", updates, ["id"], "day")
    assert set(swapped) == {"d1", "d2"}
    got = {(r.id, r.v, r.day) for r in wh.read(spark, "mart").collect()}
    assert got == {
        (1, "new", "d1"),
        (2, "old", "d1"),
        (3, "new", "d2"),
        (5, "new", "d2"),
        (4, "old", "d3"),
    }


def test_merge_partitioned_crash_after_renames_hides_demoted_partition(
    spark, tmp_path, monkeypatch
):
    """A crash after a partition swap's second rename, before the
    demoted copy is deleted: the copy sits in the table under a
    ``.``-prefixed name, so a whole-table read counts its rows once (an
    in-table ``day=d1.__old__x`` would add them again), and vacuum
    removes it."""
    import os
    import shutil

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum
    from lion_parcel_etl_spark.operators.merge_upsert import merge_upsert_partitioned

    wh = Warehouse(str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(i, "old", f"d{1 + i % 2}") for i in range(6)], "id long, v string, day string"
    )
    merge_upsert_partitioned(spark, wh, "mart", base, ["id"], "day")
    real_rmtree = shutil.rmtree
    state = {"armed": True}

    def rmtree(path, *a, **kw):
        if state["armed"] and "__old__" in str(path):
            raise RuntimeError("injected crash after renames")
        real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", rmtree)
    updates = spark.createDataFrame([(2, "new", "d1")], "id long, v string, day string")
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_upsert_partitioned(spark, wh, "mart", updates, ["id"], "day")
    state["armed"] = False

    table = wh.table_path("mart")
    assert any(d.startswith(".day=d1.__old__") for d in os.listdir(table))
    want = {(i, "new" if i == 2 else "old", f"d{1 + i % 2}") for i in range(6)}
    for df in (wh.read(spark, "mart"), spark.read.parquet(table)):
        got = [(r.id, r.v, r.day) for r in df.collect()]
        assert len(got) == 6 and set(got) == want
    assert vacuum(wh, min_age_seconds=0) and not _orphans(wh)
    assert wh.read(spark, "mart").count() == 6


def test_merge_partitioned_crash_before_any_swap_leaves_table_untouched(
    spark, tmp_path, monkeypatch
):
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum
    from lion_parcel_etl_spark.operators.merge_upsert import merge_upsert_partitioned

    wh = Warehouse(str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(1, "old", "d1"), (3, "old", "d2")], "id long, v string, day string"
    )
    merge_upsert_partitioned(spark, wh, "mart", base, ["id"], "day")
    before = {(r.id, r.v, r.day) for r in wh.read(spark, "mart").collect()}

    updates = spark.createDataFrame([(1, "new", "d1")], "id long, v string, day string")
    state = _crash_swap_on(monkeypatch, "day=d1")
    with pytest.raises(RuntimeError):
        merge_upsert_partitioned(spark, wh, "mart", updates, ["id"], "day")
    assert {(r.id, r.v, r.day) for r in wh.read(spark, "mart").collect()} == before
    vacuum(wh, min_age_seconds=0)
    assert not _orphans(wh)
    state["armed"] = False
    merge_upsert_partitioned(spark, wh, "mart", updates, ["id"], "day")
    assert {(r.id, r.v, r.day) for r in wh.read(spark, "mart").collect()} == {
        (1, "new", "d1"),
        (3, "old", "d2"),
    }


def test_append_batch_crash_before_swap_keeps_committed_batches(
    spark, tmp_path, monkeypatch
):
    """A crash in the swap of batch 1 leaves batch 0 as the table, the
    staging dir outside the table for vacuum, and a checkpoint replay
    of batch 1 converges without duplicates."""
    import os

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum

    wh = Warehouse(str(tmp_path / "wh"))
    wh.append_batch(spark.range(10), "log", 0)
    state = _crash_swap_on(monkeypatch, "__batch_id=1")
    with pytest.raises(RuntimeError, match="injected crash"):
        wh.append_batch(spark.range(10, 15), "log", 1)

    def rows():
        return sorted((r["__batch_id"], r.id) for r in wh.read(spark, "log").collect())

    assert rows() == [(0, i) for i in range(10)]
    table = wh.table_path("log")
    orphans = _orphans(wh)
    assert orphans and all(
        os.path.dirname(p) == os.path.dirname(table) and "__tmp__" in p
        for p in orphans
    )
    assert sorted(vacuum(wh, min_age_seconds=0)) == sorted(orphans)
    assert not _orphans(wh)

    state["armed"] = False
    wh.append_batch(spark.range(10, 15), "log", 1)
    assert rows() == [(0, i) for i in range(10)] + [(1, i) for i in range(10, 15)]


@pytest.mark.parametrize("window", ["between_renames", "after_renames"])
def test_append_batch_replay_crash_never_duplicates_batch(
    spark, tmp_path, monkeypatch, window
):
    """A replay of committed batch 1 crashes inside its swap: between
    the two renames (batch 1 demoted, replay not yet installed) or after
    them (before the demoted copy is deleted). The demoted copy is a
    sibling of the table, so reads never see batch 1 twice and
    ``__batch_id`` stays an integer column; vacuum removes the debris
    and a disarmed replay converges."""
    import os
    import shutil

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.maintenance import vacuum

    wh = Warehouse(str(tmp_path / "wh"))
    wh.append_batch(spark.range(10), "log", 0)
    wh.append_batch(spark.range(10, 15), "log", 1)
    state = {"armed": True}
    if window == "between_renames":
        real_rename = os.rename

        def rename(src, dst):
            if state["armed"] and "__tmp__" in str(src) and str(dst).endswith(
                "__batch_id=1"
            ):
                raise RuntimeError("injected crash between renames")
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", rename)
    else:
        real_rmtree = shutil.rmtree

        def rmtree(path, *a, **kw):
            if state["armed"] and "__old__" in str(path):
                raise RuntimeError("injected crash after renames")
            real_rmtree(path, *a, **kw)

        monkeypatch.setattr(shutil, "rmtree", rmtree)
    with pytest.raises(RuntimeError, match="injected crash"):
        wh.append_batch(spark.range(10, 15), "log", 1)
    state["armed"] = False

    def rows():
        return sorted((r["__batch_id"], r.id) for r in wh.read(spark, "log").collect())

    batch0 = [(0, i) for i in range(10)]
    batch1 = [(1, i) for i in range(10, 15)]
    assert rows() == (batch0 if window == "between_renames" else batch0 + batch1)
    table = wh.table_path("log")
    orphans = _orphans(wh)
    assert orphans and all(
        os.path.dirname(p) == os.path.dirname(table) for p in orphans
    )
    assert sorted(vacuum(wh, min_age_seconds=0)) == sorted(orphans)
    assert not _orphans(wh)

    wh.append_batch(spark.range(10, 15), "log", 1)
    assert rows() == batch0 + batch1
