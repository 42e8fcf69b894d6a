"""Structured Streaming jobs vs their batch twins.

Each streaming job is run with Trigger.AvailableNow over static input
and must produce exactly what the equivalent batch plan produces —
the streaming/batch parity Spark promises when the plan is the same.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from lion_parcel_etl_spark.pipelines.bonus import metrics_detail
from lion_parcel_etl_spark.streaming import (
    run_available_now,
    stream_hourly_counts,
    stream_metrics_detail,
    stream_running_user_totals,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _rows(df, cols):
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


@pytest.fixture()
def events_dir(spark, tmp_path):
    # copy events to a directory the file-stream source can list
    out = str(tmp_path / "events_in")
    spark.read.parquet(EVENTS).repartition(2).write.parquet(out)
    return out


def test_stream_metrics_detail_matches_batch(spark, tmp_path, bonus_json):
    stream = stream_metrics_detail(spark, bonus_json.path)
    assert stream.isStreaming
    run_available_now(
        stream, str(tmp_path / "ckpt"), out_path=str(tmp_path / "out")
    )
    got = spark.read.parquet(str(tmp_path / "out"))
    want = metrics_detail(spark, bonus_json.path)
    cols = ["id", "runtime_date", "sum_ms", "cnt", "load_time", "Message", "source_file"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_hourly_counts_matches_batch(spark, tmp_path, events_dir):
    stream = stream_hourly_counts(spark, events_dir)
    run_available_now(
        stream,
        str(tmp_path / "ckpt"),
        table_name="hourly_out",
        output_mode="complete",
    )
    got = spark.table("hourly_out")
    ev = spark.read.parquet(events_dir)
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n", "value_sum")
    )
    cols = ["bucket", "event_type", "n"]
    assert _rows(got, cols) == _rows(want, cols)
    # float sums compared with tolerance (accumulation order differs)
    gs = {tuple(r[c] for c in cols): r["value_sum"] for r in got.collect()}
    ws = {tuple(r[c] for c in cols): r["value_sum"] for r in want.collect()}
    for k, v in ws.items():
        assert gs[k] == pytest.approx(v, rel=1e-9)


def test_stream_running_user_totals(spark, tmp_path, events_dir):
    stream = stream_running_user_totals(spark, events_dir)
    run_available_now(
        stream,
        str(tmp_path / "ckpt"),
        table_name="totals_out",
        output_mode="update",
    )
    got = spark.table("totals_out")
    ev = spark.read.parquet(events_dir)
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("value_sum"),
    )
    # update-mode emits one row per user per batch; keep the last
    got_last = {r["user_id"]: (r["n_events"], r["value_sum"]) for r in got.collect()}
    for r in want.collect():
        n, s = got_last[r["user_id"]]
        assert n == r["n_events"]
        assert s == pytest.approx(r["value_sum"], rel=1e-9)


def test_stream_dedup_events_matches_batch(spark, tmp_path, events_dir):
    from lion_parcel_etl_spark.streaming import stream_dedup_events

    # duplicate the whole input: every event_id now appears twice
    ev = spark.read.parquet(events_dir)
    dup_dir = str(tmp_path / "events_dup")
    ev.unionByName(ev).repartition(3).write.parquet(dup_dir)

    stream = stream_dedup_events(spark, dup_dir)
    assert stream.isStreaming
    run_available_now(
        stream, str(tmp_path / "ckpt_dedup"), out_path=str(tmp_path / "out_dedup")
    )
    got = spark.read.parquet(str(tmp_path / "out_dedup"))
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == got.count()


def test_stream_merge_into_incremental_mart(spark, tmp_path):
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.streaming import stream_merge_into

    ev = spark.read.parquet(EVENTS)
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ev = ev.orderBy("event_id").limit(200).cache()
    # time-split: the stream delivers newer events in the later batch,
    # so merge's update-wins semantics yield the latest row per user
    split = "2024-01-03 00:00:00"
    first, second = ev.filter(f"ts < '{split}'"), ev.filter(f"ts >= '{split}'")

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(ev.schema).parquet(landing)
        stream_merge_into(stream, wh, "user_latest", ["user_id"], ckpt, order_col="ts")

    first.write.mode("append").parquet(landing)
    run()
    got1 = wh.read(spark, "user_latest")
    assert got1.count() == first.select("user_id").distinct().count()

    second.write.mode("append").parquet(landing)
    run()  # same checkpoint: only the new files are consumed
    got2 = wh.read(spark, "user_latest").cache()
    # one row per user, and each row is that user's latest event overall
    assert got2.count() == ev.select("user_id").distinct().count()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc())
    want = (
        ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )
    cols = ["user_id", "event_id"]
    assert _rows(got2, cols) == _rows(want, cols)
    ev.unpersist(); got2.unpersist()


def test_stream_merge_out_of_order_batches_do_not_regress(spark, tmp_path):
    """Cross-batch ordering guard (ADVICE r01): a later batch carrying
    an OLDER event for a key must not overwrite the newer target row."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.streaming import stream_merge_into

    schema = "user_id long, event_id long, ts timestamp, status string"
    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        stream_merge_into(stream, wh, "latest", ["user_id"], ckpt, order_col="ts")

    import datetime as dt

    t_new = dt.datetime(2024, 1, 5, 12, 0, 0)
    t_old = dt.datetime(2024, 1, 1, 12, 0, 0)
    spark.createDataFrame([(1, 100, t_new, "NEW")], schema).write.mode("append").parquet(landing)
    run()
    # batch 2: stale event for user 1, fresh user 2
    spark.createDataFrame(
        [(1, 50, t_old, "STALE"), (2, 51, t_old, "OK")], schema
    ).write.mode("append").parquet(landing)
    run()
    got = {r.user_id: r.status for r in wh.read(spark, "latest").collect()}
    assert got == {1: "NEW", 2: "OK"}


def test_stream_near_dup_pairs_incremental_store(spark, tmp_path):
    """Two micro-batches of documents: the accumulated pairs table must
    equal the batch-1 self-join plus the batch-2-touching pairs — and
    batch 2 must run the incremental path against the signature store."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.dedup import minhash_near_dup
    from lion_parcel_etl_spark.streaming import stream_near_dup_pairs

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    b1 = [(1, base), (2, base), (4, "completely different words about engines")]
    b2 = [(3, base + " extra token"), (5, "another unrelated doc")]
    schema = "doc_id long, text string"

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        stream_near_dup_pairs(
            stream, wh, "sigs", "pairs", "doc_id", "text", ckpt, threshold=0.3
        )

    spark.createDataFrame(b1, schema).write.mode("append").parquet(landing)
    run()
    spark.createDataFrame(b2, schema).write.mode("append").parquet(landing)
    run()

    got = {
        (r.id_a, r.id_b) for r in wh.read(spark, "pairs").collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup(
            spark.createDataFrame(b1 + b2, schema), "doc_id", "text", threshold=0.3
        ).collect()
    }
    assert got == full
    # the store accreted both batches' signatures
    assert wh.read(spark, "sigs").count() == 5


def test_append_batch_replay_is_idempotent(spark, tmp_path):
    """A checkpoint replay re-invokes foreachBatch with the SAME batch
    id; append_batch must rewrite that batch's partition, not duplicate
    it."""
    from lion_parcel_etl_spark.catalog import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))
    wh.append_batch(spark.range(10), "log", 0)
    wh.append_batch(spark.range(10), "log", 0)  # replay
    wh.append_batch(spark.range(5), "log", 1)
    got = wh.read(spark, "log")
    assert got.count() == 15
    assert got.select("id").distinct().count() == 10


def test_stream_session_windows_match_batch_sessionize(spark, tmp_path, events_dir):
    """Streaming session windows must produce the same per-user session
    counts as the batch lag-based sessionize (the oracle-checked twin),
    given complete input within the watermark."""
    from lion_parcel_etl_spark.plans.queries import QUERIES
    from lion_parcel_etl_spark.streaming import stream_session_windows

    # Append-mode emits only sessions the watermark has CLOSED; plant a
    # far-future sentinel event (unused user id) so the final watermark
    # passes every real session's end and all of them are emitted.
    import datetime as dt

    sentinel_user = 10**9
    spark.createDataFrame(
        [(10**9, dt.datetime(2030, 1, 1), sentinel_user, "click", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.mode("append").parquet(events_dir)

    stream = stream_session_windows(
        spark, events_dir, gap="30 minutes", watermark="0 seconds"
    )
    assert stream.isStreaming
    run_available_now(
        stream,
        str(tmp_path / "ckpt_sess"),
        out_path=str(tmp_path / "out_sess"),
    )
    got = (
        spark.read.parquet(str(tmp_path / "out_sess"))
        .filter(F.col("user_id") != sentinel_user)
        .groupBy("user_id")
        .count()
        .collect()
    )
    got_counts = {r.user_id: r["count"] for r in got}

    # batch twin with session_window's end-EXCLUSIVE boundary: a new
    # session starts when the gap is >= 30 min (q_sessionize's oracle
    # uses the strict >, so it can't be compared verbatim)
    from pyspark.sql import Window

    ev = spark.read.parquet(events_dir).filter(F.col("user_id") != sentinel_user)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    want_df = (
        ev.withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap >= 1800), F.lit(1)).otherwise(F.lit(0)),
        )
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"))
    )
    want = {r.user_id: r.n_sessions for r in want_df.collect()}
    assert got_counts == want


def test_stream_scd2_matches_batch_two_runs(spark, tmp_path):
    """Two micro-batches through the streaming SCD2 materializer must
    leave the dimension in the same state as two batch scd2_apply runs
    over the same snapshots."""
    import datetime as dt

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.scd2 import scd2_apply
    from lion_parcel_etl_spark.streaming import stream_scd2

    schema = "user_id long, status string, ts timestamp"
    t1, t2 = dt.datetime(2024, 1, 1, 10), dt.datetime(2024, 1, 2, 10)
    b1 = [(1, "new", t1), (2, "new", t1)]
    b2 = [(1, "active", t2), (2, "new", t2)]  # user 1 changed, user 2 not

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        stream_scd2(stream, wh, "dim", ["user_id"], ["status"], "ts", ckpt)

    spark.createDataFrame(b1, schema).write.mode("append").parquet(landing)
    run()
    spark.createDataFrame(b2, schema).write.mode("append").parquet(landing)
    run()

    got = wh.read(spark, "dim").drop("state")
    s1 = spark.createDataFrame(b1, schema)
    s2 = spark.createDataFrame(b2, schema)
    want1 = scd2_apply(None, s1, ["user_id"], ["status"], "ts", str(t1))
    want = scd2_apply(want1, s2, ["user_id"], ["status"], "ts", str(t2))
    cols = ["user_id", "status", "valid_from", "valid_to", "is_current"]
    canon = lambda df: sorted(tuple(str(r[c]) for c in cols) for r in df.collect())
    assert canon(got) == canon(want)
    # user 1: two versions, old expired at t2; user 2: single current
    assert got.filter("user_id = 1").count() == 2
    assert got.filter("user_id = 2").count() == 1


@pytest.mark.parametrize("window", ["before_swap", "after_swap"])
def test_stream_scd2_crash_around_swap_replays_to_batch_state(
    spark, tmp_path, monkeypatch, window
):
    """Batch 2 crashes before or after its table swap; a rerun on the
    same checkpoint replays it. The dimension ends equal to two batch
    scd2_apply runs, with one current version per key and is_current
    read back as a boolean."""
    import datetime as dt

    import lion_parcel_etl_spark.catalog as cat
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.scd2 import scd2_apply
    from lion_parcel_etl_spark.streaming import stream_scd2

    schema = "user_id long, status string, ts timestamp"
    t1, t2 = dt.datetime(2024, 1, 1, 10), dt.datetime(2024, 1, 2, 10)
    b1 = [(1, "new", t1), (2, "new", t1), (3, "new", t1)]
    b2 = [(1, "active", t2), (2, "new", t2), (4, "new", t2)]

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        stream_scd2(stream, wh, "dim", ["user_id"], ["status"], "ts", ckpt)

    spark.createDataFrame(b1, schema).write.mode("append").parquet(landing)
    run()
    before = sorted(tuple(r) for r in wh.read(spark, "dim").collect())

    real = cat.swap_dir
    state = {"armed": True}

    def chaotic(tmp, dst):
        if state["armed"] and window == "before_swap":
            raise RuntimeError("injected crash before swap")
        real(tmp, dst)
        if state["armed"]:
            raise RuntimeError("injected crash after swap")

    monkeypatch.setattr(cat, "swap_dir", chaotic)
    spark.createDataFrame(b2, schema).write.mode("append").parquet(landing)
    with pytest.raises(Exception, match="injected crash"):
        run()
    if window == "before_swap":
        assert sorted(tuple(r) for r in wh.read(spark, "dim").collect()) == before

    state["armed"] = False
    run()
    got = wh.read(spark, "dim")
    assert dict(got.dtypes)["is_current"] == "boolean"
    s1 = spark.createDataFrame(b1, schema)
    s2 = spark.createDataFrame(b2, schema)
    want1 = scd2_apply(None, s1, ["user_id"], ["status"], "ts", str(t1))
    want = scd2_apply(want1, s2, ["user_id"], ["status"], "ts", str(t2))
    cols = ["user_id", "status", "valid_from", "valid_to", "is_current"]
    canon = lambda df: sorted(tuple(str(r[c]) for c in cols) for r in df.collect())
    assert canon(got) == canon(want)
    current = got.filter("is_current").groupBy("user_id").count().collect()
    assert sorted((r.user_id, r["count"]) for r in current) == [
        (1, 1), (2, 1), (3, 1), (4, 1)
    ]


def test_stream_scd2_refuses_all_null_order_batch(spark, tmp_path):
    """A micro-batch whose order column is NULL on every row has no
    snapshot ordering and no run timestamp: the stream raises and
    writes nothing."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.streaming import stream_scd2

    schema = "user_id long, status string, ts timestamp"
    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    spark.createDataFrame([(1, "new", None)], schema).write.parquet(landing)
    stream = spark.readStream.schema(schema).parquet(landing)
    with pytest.raises(Exception, match="all-NULL"):
        stream_scd2(
            stream, wh, "dim", ["user_id"], ["status"], "ts", str(tmp_path / "ckpt")
        )
    assert not wh.exists("dim")


def test_stream_rollup_matches_batch_single_shot(spark, tmp_path):
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.rollup import rollup_finalize, rollup_state
    from lion_parcel_etl_spark.streaming.jobs import read_rollup, stream_rollup_into

    ev = spark.read.parquet(EVENTS)
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ev = ev.orderBy("event_id").limit(300).cache()
    split = "2024-01-03 00:00:00"
    first, second = ev.filter(f"ts < '{split}'"), ev.filter(f"ts >= '{split}'")

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    metrics = {"value": F.col("value")}

    def run():
        stream = spark.readStream.schema(ev.schema).parquet(landing)
        stream_rollup_into(stream, wh, "ev_rollup", ["event_type"], metrics, ckpt)

    first.write.mode("append").parquet(landing)
    run()
    second.write.mode("append").parquet(landing)
    run()  # same checkpoint: second batch only

    got = read_rollup(spark, wh, "ev_rollup", ["event_type"])
    want = rollup_finalize(
        rollup_state(ev, ["event_type"], metrics), ["event_type"]
    )
    cols = sorted(got.columns)
    assert got.columns == want.columns
    assert _rows(got, cols) == _rows(want, cols)

    # replaying one batch's append (a checkpoint replay) must not
    # double-count: additive states land in per-batch partitions
    wh.append_batch(rollup_state(second, ["event_type"], metrics), "ev_rollup", 1)
    again = read_rollup(spark, wh, "ev_rollup", ["event_type"])
    assert _rows(again, cols) == _rows(want, cols)
    ev.unpersist()


def test_stream_interval_join_matches_batch(spark, tmp_path, events_dir):
    from lion_parcel_etl_spark.streaming.jobs import stream_interval_join
    from lion_parcel_etl_spark.streaming import run_available_now

    out = stream_interval_join(spark, events_dir, within="1 hour")
    run_available_now(out, str(tmp_path / "ckpt"), table_name="sj_out")
    got = spark.table("sj_out")

    ev = spark.read.parquet(events_dir)
    first = ev.filter("event_type = 'click'").selectExpr(
        "user_id AS f_user", "event_id AS first_id", "ts AS first_ts"
    )
    then = ev.filter("event_type = 'purchase'").selectExpr(
        "user_id AS t_user", "event_id AS then_id", "ts AS then_ts", "value AS then_value"
    )
    want = first.join(
        then,
        (F.col("f_user") == F.col("t_user"))
        & (F.col("then_ts") > F.col("first_ts"))
        & (F.col("then_ts") <= F.expr("first_ts + INTERVAL 1 hour")),
    )
    cols = ["first_id", "then_id"]
    assert want.count() > 0
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_snapshot_diff_emits_changelog_and_replaces_current(spark, tmp_path):
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.streaming.jobs import stream_snapshot_diff

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, status string, amount long"

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        stream_snapshot_diff(stream, wh, "accounts", ["id"], ckpt)

    snap1 = spark.createDataFrame(
        [(1, "open", 10), (2, "open", 20)], schema
    )
    snap1.coalesce(1).write.mode("append").parquet(landing)
    run()
    # bootstrap: everything is an INSERT, current == snapshot
    log = wh.read(spark, "accounts_changelog")
    assert {r.change_type for r in log.collect()} == {"INSERT"}
    assert wh.read(spark, "accounts").count() == 2

    snap2 = spark.createDataFrame(
        [(1, "closed", 10), (3, "open", 30)], schema
    )
    snap2.coalesce(1).write.mode("append").parquet(landing)
    run()  # same checkpoint: second snapshot only
    cur = {r.id: r for r in wh.read(spark, "accounts").collect()}
    assert set(cur) == {1, 3} and cur[1].status == "closed"
    log = wh.read(spark, "accounts_changelog")
    by_batch = {
        (r.id, r.change_type)
        for r in log.filter(F.col("__batch_id") == 1).collect()
    }
    assert by_batch == {(1, "UPDATE"), (2, "DELETE"), (3, "INSERT")}

    # Replay point A — batch 1 replayed BEFORE its table swap landed:
    # the diff recomputes identically and overwrites its own partition
    # with the same rows (no duplicates).
    n_before = log.count()
    from lion_parcel_etl_spark.operators.diff import table_diff

    wh.append_batch(table_diff(snap1, snap2, ["id"]), "accounts_changelog", 1)
    assert wh.read(spark, "accounts_changelog").count() == n_before

    # Replay point B — batch 1 replayed AFTER it fully completed: the
    # current table already equals the snapshot, the diff is EMPTY,
    # and an empty diff must NOT clobber the already-written partition
    # (this is what the foreachBatch body now guarantees by skipping
    # the append for empty diffs).
    replay_changes = table_diff(
        wh.read(spark, "accounts").select("id", "status", "amount"), snap2, ["id"]
    )
    assert replay_changes.isEmpty()
    assert wh.read(spark, "accounts_changelog").count() == n_before


def test_stream_heavy_hitters_merged_bound_and_replay(spark, tmp_path):
    from collections import Counter

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.sketches import _mg_partials
    from lion_parcel_etl_spark.streaming.jobs import (
        read_heavy_hitters,
        stream_heavy_hitters,
    )

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    b1 = ["a"] * 30 + ["b"] * 10 + list("cdefg")
    b2 = ["a"] * 5 + ["b"] * 25 + list("hijkl")
    cap = 4

    def run():
        stream = spark.readStream.schema("v string").parquet(landing)
        stream_heavy_hitters(stream, wh, "hh", "v", ckpt, capacity=cap)

    for batch in (b1, b2):
        spark.createDataFrame([(x,) for x in batch], "v string").coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        run()

    merged = {r.v: r.est for r in read_heavy_hitters(spark, wh, "hh", "v").collect()}
    true = Counter(b1 + b2)
    n = len(b1) + len(b2)
    band = n // (cap + 1)
    for v, est in merged.items():
        assert est <= true[v]
        assert true[v] - est <= band
    for v, c in true.items():
        if c > band:
            assert v in merged
    # replayed batch overwrites its own partition: merged view unchanged
    before = sorted(merged.items())
    wh.append_batch(
        _mg_partials(
            spark.createDataFrame([(x,) for x in b2], "v string").coalesce(1), "v", cap
        ),
        "hh",
        1,
    )
    after = {r.v: r.est for r in read_heavy_hitters(spark, wh, "hh", "v").collect()}
    assert sorted(after.items()) == before


def test_stream_sample_mix_matches_batch_decisions(spark, tmp_path):
    """The streaming sampler's keep/drop and split decisions must be
    byte-identical to the batch operators over the same files — the
    replay-stability property that makes hash sampling safe at
    ingest time (a batch backfill later agrees with the stream)."""
    from lion_parcel_etl_spark.operators.sampling import (
        hash_split,
        rate_sample_by_group,
    )
    from lion_parcel_etl_spark.streaming.jobs import (
        run_available_now,
        stream_sample_mix,
    )

    rates = {"src0": 1.0, "src1": 0.5}
    src = str(tmp_path / "docs_in")  # file streams need a DIRECTORY source
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").repartition(
        3
    ).write.parquet(src)
    stream = stream_sample_mix(spark, src, rates, default_rate=0.25)
    assert stream.isStreaming
    run_available_now(
        stream, str(tmp_path / "ckpt_mix"), out_path=str(tmp_path / "out_mix")
    )
    got = {
        (r["doc_id"], r["source"], r["split"])
        for r in spark.read.parquet(str(tmp_path / "out_mix")).collect()
    }
    batch = hash_split(
        rate_sample_by_group(
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
            "source",
            rates,
            "doc_id",
            default_rate=0.25,
        ),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    ).select("doc_id", "source", "split")
    want = {(r["doc_id"], r["source"], r["split"]) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stream_token_budget_single_batch_matches_batch_operator(spark, tmp_path):
    """A stream that sees all input in one micro-batch must reproduce
    token_budget_select row-for-row (same hash-order greedy prefix)."""
    from lion_parcel_etl_spark.operators.sampling import token_budget_select
    from lion_parcel_etl_spark.operators.text import token_count
    from lion_parcel_etl_spark.streaming.jobs import (
        run_available_now,
        stream_token_budget,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs_dir = str(tmp_path / "docs")
    docs.write.parquet(docs_dir)
    budgets = {"src0": 300}
    stream = stream_token_budget(spark, docs_dir, budgets, 200)
    run_available_now(stream, str(tmp_path / "ck1"), table_name="budget_out")
    got = {
        (r["doc_id"], r["source"], r["n_tokens"], r["cum_tokens"])
        for r in spark.table("budget_out").collect()
    }
    sized = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    want = {
        (r["doc_id"], r["source"], r["n_tokens"], r["cum_tokens"])
        for r in token_budget_select(
            sized, "doc_id", "source", "n_tokens", budgets, 200
        ).collect()
    }
    assert got == want and got


def test_stream_token_budget_carries_state_across_batches(spark, tmp_path):
    """Budget remaining carries across micro-batches: a second batch
    admits only what still fits, and inclusive totals never exceed
    the budget across the whole run."""
    from lion_parcel_etl_spark.streaming.jobs import (
        run_available_now,
        stream_token_budget,
    )

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    rows1 = [(i, "w " * 40, "en", "s", 80) for i in range(5)]       # 40 tokens each
    rows2 = [(i, "w " * 40, "en", "s", 80) for i in range(5, 10)]
    cols = "doc_id long, text string, lang string, source string, n_chars long"
    out_dir = str(tmp_path / "admitted")
    spark.createDataFrame(rows1, cols).write.parquet(str(docs_dir / "b1"))
    stream = stream_token_budget(spark, str(docs_dir) + "/*", {}, 130)
    run_available_now(stream, str(tmp_path / "ck"), out_path=out_dir)
    first = spark.read.parquet(out_dir).collect()
    assert sum(r["n_tokens"] for r in first) <= 130
    assert len(first) == 3  # 3 docs of 40 tokens fit in 130
    assert max(r["cum_tokens"] for r in first) == 120
    spark.createDataFrame(rows2, cols).write.parquet(str(docs_dir / "b2"))
    stream = stream_token_budget(spark, str(docs_dir) + "/*", {}, 130)
    run_available_now(stream, str(tmp_path / "ck"), out_path=out_dir)
    both = spark.read.parquet(out_dir).collect()
    # across both batches exactly 0 more docs fit (the 4th doc of
    # batch 1 already overflowed: 160 > 130, prefix semantics)
    assert len(both) == len(first)


def test_stream_gopher_audit_matches_batch_rollup(spark, tmp_path):
    """The streaming per-source audit (update mode, last row per
    source) must land on the batch gopher_audit numbers over the same
    files — the backfill-agreement property of a stateless rule set
    under an incremental rollup."""
    from lion_parcel_etl_spark.plans.queries import q_gopher_audit
    from lion_parcel_etl_spark.streaming.jobs import (
        run_available_now,
        stream_gopher_audit,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs_dir = str(tmp_path / "docs")
    docs.write.parquet(docs_dir)
    stream = stream_gopher_audit(spark, docs_dir)
    run_available_now(
        stream, str(tmp_path / "ck"), table_name="ga_out", output_mode="complete"
    )
    got = {
        r["source"]: (r["n_docs"], r["keep_rate"], r["n_fail_stopwords"])
        for r in spark.table("ga_out").collect()
    }
    want = {}
    for r in q_gopher_audit(spark, "/root/testdata/sf0.001").collect():
        n = r["n_docs"]
        want[r["source"]] = (
            n,
            r["keep_rate"],
            round(r["fail_stopwords"] * n),
        )
    assert got == want and got


def test_stream_training_mix_matches_batch_composition(spark, tmp_path):
    """One-micro-batch streaming curation (gopher filter + budget
    admission) equals the batch composition gopher_rules[keep] →
    token_budget_select row-for-row."""
    from pyspark.sql import functions as F

    from lion_parcel_etl_spark.operators.sampling import token_budget_select
    from lion_parcel_etl_spark.operators.text import gopher_rules
    from lion_parcel_etl_spark.streaming.jobs import (
        run_available_now,
        stream_training_mix,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs_dir = str(tmp_path / "docs")
    docs.write.parquet(docs_dir)
    budgets = {"src0": 300}
    stream = stream_training_mix(spark, docs_dir, budgets, 250)
    run_available_now(stream, str(tmp_path / "ck"), table_name="mix_out")
    got = {
        (r["doc_id"], r["source"], r["n_tokens"], r["cum_tokens"])
        for r in spark.table("mix_out").collect()
    }
    kept = (
        gopher_rules(docs, carry_cols=["source"])
        .filter(F.col("keep"))
        .select("doc_id", "source", F.col("n_words").alias("n_tokens"))
    )
    want = {
        (r["doc_id"], r["source"], r["n_tokens"], r["cum_tokens"])
        for r in token_budget_select(
            kept, "doc_id", "source", "n_tokens", budgets, 250
        ).collect()
    }
    assert got == want and got


def test_stream_merge_order_guard_protects_null_keys(spark, tmp_path):
    """merge_upsert treats NULL as a real key value; the cross-batch
    ordering guard must match it null-safely too — an older event for
    the NULL key may not regress the mart row."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.streaming.jobs import stream_merge_into

    wh = Warehouse(str(tmp_path / "wh"))
    cols = "k long, v string, ord long"
    wh.overwrite(
        spark.createDataFrame([(None, "current", 10), (1, "one", 10)], cols),
        "mart",
    )
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [(None, "stale", 5), (1, "one-new", 12)], cols
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(
        spark.read.parquet(src_dir).schema
    ).parquet(src_dir)
    stream_merge_into(
        stream, wh, "mart", ["k"], str(tmp_path / "ck"), order_col="ord"
    )
    got = {r["k"]: (r["v"], r["ord"]) for r in wh.read(spark, "mart").collect()}
    assert got[None] == ("current", 10)  # stale NULL-key event rejected
    assert got[1] == ("one-new", 12)


def test_tracked_pins_unpersists_on_exit(spark):
    from lion_parcel_etl_spark.operators.dedup import pin, tracked_pins

    df_out = None
    with tracked_pins():
        df_out = pin(spark.range(10))
        assert df_out.storageLevel.useMemory
    assert not df_out.storageLevel.useMemory  # released on exit
    # outside a tracker, pins stay (batch semantics unchanged)
    kept = pin(spark.range(5))
    assert kept.storageLevel.useMemory
    kept.unpersist()


def test_stream_span_dedup_accretes_store_and_rewrites(spark, tmp_path):
    """Two micro-batches: batch 1 establishes the chunk-hash store
    (after its own internal dedup); batch 2's chunks that repeat batch
    1 — or repeat within batch 2 — are dropped, and only genuinely new
    chunk hashes accrete. The final clean corpus equals the one-shot
    corpus-wide rewrite of all docs in arrival order."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.streaming.jobs import stream_span_dedup

    a = " ".join(f"a{i}" for i in range(4))
    b = " ".join(f"b{i}" for i in range(4))
    c = " ".join(f"c{i}" for i in range(4))
    d = " ".join(f"d{i}" for i in range(4))
    schema = "doc_id long, text string"
    b1 = [(1, f"{a} {b}"), (2, f"{b} {c}")]        # chunk b dups within batch 1
    b2 = [(3, f"{a} {d}"), (4, f"{d} {d}")]        # a dups store; d dups in-batch

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        stream_span_dedup(
            stream, wh, "chunks", "clean", "doc_id", "text", ckpt, window=4
        )

    spark.createDataFrame(b1, schema).write.mode("append").parquet(landing)
    run()
    store1 = {r.h for r in wh.read(spark, "chunks").collect()}
    assert len(store1) == 3  # a, b, c
    spark.createDataFrame(b2, schema).write.mode("append").parquet(landing)
    run()

    clean = {r.doc_id: r for r in wh.read(spark, "clean").collect()}
    assert clean[1].clean_text == f"{a} {b}" and clean[1].n_removed == 0
    assert clean[2].clean_text == c and clean[2].n_removed == 1
    # batch 2: doc 3 loses `a` (store hit), keeps d (first batch-2 use)
    assert clean[3].clean_text == d and clean[3].n_removed == 1
    # doc 4: both chunks are d — (3,?) vs (4,?): canonical first is doc 3
    assert clean[4].clean_text == "" and clean[4].n_removed == 2
    # store accreted exactly one new hash (d)
    store2 = {r.h for r in wh.read(spark, "chunks").collect()}
    assert len(store2) == 4


def test_remove_duplicate_spans_incremental_store_probe(spark):
    """Batch rewrite against an existing hash store: store hits drop,
    within-batch later copies drop, and new_hashes returns exactly the
    surviving chunk hashes (ready to append to the store)."""
    from pyspark.sql import functions as SF

    from lion_parcel_etl_spark.operators.dedup import (
        remove_duplicate_spans_incremental,
        tokens,
    )

    x = " ".join(f"x{i}" for i in range(4))
    y = " ".join(f"y{i}" for i in range(4))
    store = spark.createDataFrame(
        [(x,)], "chunk string"
    ).select(SF.md5(SF.concat_ws(" ", tokens(SF.col("chunk")))).alias("h"))
    batch = spark.createDataFrame(
        [(7, f"{x} {y}"), (8, f"{y} {x}")], "doc_id long, text string"
    )
    clean, new_hashes = remove_duplicate_spans_incremental(
        store, batch, "doc_id", "text", window=4
    )
    out = {r.doc_id: r for r in clean.collect()}
    assert out[7].clean_text == y and out[7].n_removed == 1   # x in store
    assert out[8].clean_text == "" and out[8].n_removed == 2  # y dup of (7,1), x in store
    assert new_hashes.count() == 1  # only y survives into the store


def test_stream_dsir_filter_matches_batch_threshold(spark, tmp_path):
    """One-micro-batch streaming DSIR admission equals the batch
    dsir_score + mean-threshold filter row-for-row, and featureless
    docs never pass (NULL score)."""
    from pyspark.sql import functions as SF

    from lion_parcel_etl_spark.operators.selection import (
        dsir_fit,
        dsir_score,
        logratio_values,
    )
    from lion_parcel_etl_spark.streaming.jobs import (
        run_available_now,
        stream_dsir_filter,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lr_vals = logratio_values(dsir_fit(docs, SF.col("lang") == "en"))
    docs_dir = str(tmp_path / "docs")
    docs.write.parquet(docs_dir)

    # data-derived threshold (the corpus median mean-lr): with add-one
    # smoothing over 4096 buckets a tiny corpus scores every doc
    # negative, so a fixed 0.0 cut would vacuously pass an empty==empty
    # comparison
    scored = dsir_score(docs, lr_vals).withColumn(
        "m", SF.col("logw") / SF.col("n_feats").cast("double")
    )
    thr = scored.agg(SF.median("m")).collect()[0][0]

    stream = stream_dsir_filter(spark, docs_dir, lr_vals, min_mean_lr=thr)
    run_available_now(stream, str(tmp_path / "ck"), table_name="dsir_out")
    got = {r["doc_id"]: (r["n_feats"], round(r["logw"], 6))
           for r in spark.table("dsir_out").collect()}

    want = {r["doc_id"]: (r["n_feats"], round(r["logw"], 6))
            for r in scored.filter(SF.col("m") >= thr).collect()}
    assert got == want and got
    # admission is selective: some docs fail the threshold
    assert len(got) < docs.count()


def test_stream_quality_filter_matches_batch_scores(spark, tmp_path):
    """One-micro-batch streaming classifier admission equals the batch
    logreg_score + threshold filter row-for-row (two independent code
    paths: groupBy-join margins vs per-row literal-array fold)."""
    from pyspark.sql import functions as SF

    from lion_parcel_etl_spark.operators.classifier import (
        doc_features,
        logreg_fit,
        logreg_score,
        weights_array,
    )
    from lion_parcel_etl_spark.operators.dedup import pin
    from lion_parcel_etl_spark.streaming.jobs import (
        run_available_now,
        stream_quality_filter,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cond = SF.lower(SF.col("text")).contains("slow join") | SF.lower(
        SF.col("text")
    ).contains("join slow")
    feats = pin(doc_features(docs, cond))
    w = logreg_fit(feats)
    batch = logreg_score(feats, w)
    feats.unpersist()
    # data-derived threshold for selectivity
    thr = batch.agg(SF.median("p")).collect()[0][0]

    docs_dir = str(tmp_path / "docs")
    docs.write.parquet(docs_dir)
    vals, bias = weights_array(w)
    stream = stream_quality_filter(spark, docs_dir, vals, bias, threshold=thr)
    run_available_now(stream, str(tmp_path / "ck"), table_name="qf_out")
    got = {r["doc_id"]: r["p"] for r in spark.table("qf_out").collect()}
    want = {
        r["doc_id"]: r["p"]
        for r in batch.filter(SF.col("p") >= thr).collect()
    }
    assert got == want and got
    assert len(got) < docs.count()


def test_stream_kmv_merged_equals_batch_sketch(spark, tmp_path):
    """Two micro-batches of KMV sketches merge (read_kmv) into exactly
    the sketch of the full stream, and replays overwrite cleanly."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.sketches import kmv_sketch
    from lion_parcel_etl_spark.streaming.jobs import read_kmv, stream_kmv_sketch

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    k = 32
    b1 = [("g1", str(i)) for i in range(500)] + [("g2", str(i)) for i in range(50)]
    b2 = [("g1", str(i)) for i in range(300, 800)] + [("g2", str(i)) for i in range(20, 70)]

    def run():
        stream = spark.readStream.schema("g string, v string").parquet(landing)
        stream_kmv_sketch(stream, wh, "kmv", "v", ["g"], ckpt, k=k)

    for batch in (b1, b2):
        spark.createDataFrame(batch, "g string, v string").coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        run()

    merged = {r["g"]: r["kmv"] for r in read_kmv(spark, wh, "kmv", ["g"], k=k).collect()}
    full = {
        r["g"]: r["kmv"]
        for r in kmv_sketch(
            spark.createDataFrame(b1 + b2, "g string, v string"), "v", ["g"], k=k
        ).collect()
    }
    assert merged == full
    # replayed batch overwrites its own partition: merged view unchanged
    wh.append_batch(
        kmv_sketch(
            spark.createDataFrame(b2, "g string, v string"), "v", ["g"], k=k
        ),
        "kmv",
        1,
    )
    after = {r["g"]: r["kmv"] for r in read_kmv(spark, wh, "kmv", ["g"], k=k).collect()}
    assert after == merged


def test_stream_psi_merged_equals_batch_statistic(spark, tmp_path):
    """Two micro-batches of stored histograms merge (read_psi) into
    exactly the batch psi_drift of the full stream."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.checks import psi_drift
    from lion_parcel_etl_spark.streaming.jobs import (
        read_psi,
        stream_psi_histograms,
    )

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    b1 = [("a", float(v % 100)) for v in range(300)] + [
        ("b", 900.0 + v % 50) for v in range(100)
    ]
    b2 = [("a", float(v % 120)) for v in range(200)] + [
        ("b", 850.0 + v % 80) for v in range(150)
    ]

    def run():
        stream = spark.readStream.schema("g string, v double").parquet(landing)
        stream_psi_histograms(stream, wh, "psi", "v", "g", 0.0, 1000.0, ckpt)

    for batch in (b1, b2):
        spark.createDataFrame(batch, "g string, v double").coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        run()

    got = {
        r["g"]: (r["psi"], r["drift"])
        for r in read_psi(spark, wh, "psi", "g").collect()
    }
    full = spark.createDataFrame(b1 + b2, "g string, v double")
    want = {
        r["g"]: (r["psi"], r["drift"])
        for r in psi_drift(full, "v", "g", 0.0, 1000.0).collect()
    }
    assert got == want
    assert got["b"][1] == "significant"


def test_stream_cusum_merged_equals_batch_statistic(spark, tmp_path):
    """Two micro-batches of stored daily counts merge (read_cusum) into
    exactly the batch CUSUM over the full stream's daily volumes."""
    from datetime import datetime

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.checks import cusum_changepoints
    from lion_parcel_etl_spark.streaming.jobs import (
        read_cusum,
        stream_daily_counts,
    )

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def rows(day_counts, typ):
        out = []
        for day, n in day_counts.items():
            out += [(typ, datetime(2024, 1, day, 12, 0))] * n
        return out

    b1 = rows({d: 10 for d in range(1, 8)}, "click") + rows(
        {1: 5, 2: 5, 3: 3}, "view"
    )
    # day 8 splits across batches (4 + 6); days 13-14 spike to 35
    b1 += rows({8: 4}, "click")
    b2 = rows({8: 6, 9: 10, 10: 10, 11: 10, 12: 10, 13: 35, 14: 35}, "click") + rows(
        {4: 5, 5: 4}, "view"
    )

    def run():
        stream = spark.readStream.schema("event_type string, ts timestamp").parquet(landing)
        stream_daily_counts(stream, wh, "vol", "ts", "event_type", ckpt)

    for batch in (b1, b2):
        spark.createDataFrame(batch, "event_type string, ts timestamp").coalesce(
            1
        ).write.mode("append").parquet(landing)
        run()

    got = {
        (r["event_type"], r["day"]): (r["n_events"], r["cusum_up"], r["alarm"])
        for r in read_cusum(spark, wh, "vol", h_sigmas=2.0).collect()
    }
    full = spark.createDataFrame(b1 + b2, "event_type string, ts timestamp")
    daily = full.groupBy(
        F.col("event_type").alias("g"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    want = {
        (r["g"], r["day"]): (r["x"], r["cusum_up"], r["alarm"])
        for r in cusum_changepoints(daily, "x", "day", "g", h_sigmas=2.0).collect()
    }
    assert got == want
    # the day-8 click counts split across batches merged: 4 + 6 = 10
    assert got[("click", "2024-01-08")][0] == 10.0
    # the injected level shift alarms
    assert any(k[0] == "click" and v[2] for k, v in got.items())


# ---------------------------------------------------------------------------
# Crash-recovery chaos tests for the continuously-maintained state
# tables (KMV sketches, PSI histograms, daily-volume CUSUM counts) —
# the streaming mirror of test_maintenance.py's swap-window chaos.
# Two windows per job: a crash BEFORE the batch append (state table
# untouched; restart replays the batch) and a crash AFTER the append
# but BEFORE the checkpoint commit (the batch landed; restart replays
# the SAME batch_id, which overwrites its own __batch_id partition —
# the exactly-once-by-layout contract under an actual mid-stream
# failure, not just a manual re-append).
# ---------------------------------------------------------------------------


def _crash_append(monkeypatch, window: str):
    """Patch Warehouse.append_batch to raise on every call while armed:
    either before any write ('before-append') or after the real append
    completes ('after-append' — simulating a crash in the gap before
    the streaming checkpoint commits the batch). Disarm via
    d['armed']=False for the recovery rerun."""
    from lion_parcel_etl_spark.catalog import Warehouse

    real = Warehouse.append_batch
    state = {"armed": True}

    def chaotic(self, df, name, batch_id):
        if state["armed"]:
            if window == "before-append":
                raise RuntimeError("injected crash before append")
            real(self, df, name, batch_id)
            raise RuntimeError("injected crash after append, before commit")
        return real(self, df, name, batch_id)

    monkeypatch.setattr(Warehouse, "append_batch", chaotic)
    return state


def _batch_dirs(wh, table):
    import os

    root = wh.table_path(table)
    if not os.path.isdir(root):
        return []
    return sorted(d for d in os.listdir(root) if d.startswith("__batch_id="))


@pytest.mark.parametrize("window", ["before-append", "after-append"])
def test_stream_kmv_crash_recovers_on_restart(spark, tmp_path, monkeypatch, window):
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.sketches import kmv_sketch
    from lion_parcel_etl_spark.streaming.jobs import read_kmv, stream_kmv_sketch

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    k = 32
    b1 = [("g1", str(i)) for i in range(400)] + [("g2", str(i)) for i in range(40)]
    b2 = [("g1", str(i)) for i in range(200, 700)] + [("g2", str(i)) for i in range(20, 60)]

    def run():
        stream = spark.readStream.schema("g string, v string").parquet(landing)
        stream_kmv_sketch(stream, wh, "kmv", "v", ["g"], ckpt, k=k)

    spark.createDataFrame(b1, "g string, v string").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run()
    after_b1 = {r["g"]: r["kmv"] for r in read_kmv(spark, wh, "kmv", ["g"], k=k).collect()}

    spark.createDataFrame(b2, "g string, v string").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    state = _crash_append(monkeypatch, window)
    with pytest.raises(Exception, match="injected crash"):
        run()

    # crashed state: log readable; before-append left it at batch-1 only
    if window == "before-append":
        got = {r["g"]: r["kmv"] for r in read_kmv(spark, wh, "kmv", ["g"], k=k).collect()}
        assert got == after_b1
        assert len(_batch_dirs(wh, "kmv")) == 1

    # recovery: restart with the SAME checkpoint replays the batch
    state["armed"] = False
    run()
    merged = {r["g"]: r["kmv"] for r in read_kmv(spark, wh, "kmv", ["g"], k=k).collect()}
    full = {
        r["g"]: r["kmv"]
        for r in kmv_sketch(
            spark.createDataFrame(b1 + b2, "g string, v string"), "v", ["g"], k=k
        ).collect()
    }
    assert merged == full
    # exactly one partition per batch — the replay overwrote, not duplicated
    assert len(_batch_dirs(wh, "kmv")) == 2
    # idle restart (no new files): nothing changes
    run()
    assert len(_batch_dirs(wh, "kmv")) == 2
    again = {r["g"]: r["kmv"] for r in read_kmv(spark, wh, "kmv", ["g"], k=k).collect()}
    assert again == full


@pytest.mark.parametrize("window", ["before-append", "after-append"])
def test_stream_psi_crash_recovers_on_restart(spark, tmp_path, monkeypatch, window):
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.checks import psi_drift
    from lion_parcel_etl_spark.streaming.jobs import read_psi, stream_psi_histograms

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    b1 = [("a", float(v % 100)) for v in range(300)] + [
        ("b", 900.0 + v % 50) for v in range(100)
    ]
    b2 = [("a", float(v % 120)) for v in range(200)] + [
        ("b", 850.0 + v % 80) for v in range(150)
    ]

    def run():
        stream = spark.readStream.schema("g string, v double").parquet(landing)
        stream_psi_histograms(stream, wh, "psi", "v", "g", 0.0, 1000.0, ckpt)

    spark.createDataFrame(b1, "g string, v double").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run()
    spark.createDataFrame(b2, "g string, v double").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    state = _crash_append(monkeypatch, window)
    with pytest.raises(Exception, match="injected crash"):
        run()
    state["armed"] = False
    run()

    got = {
        r["g"]: (r["psi"], r["drift"])
        for r in read_psi(spark, wh, "psi", "g").collect()
    }
    want = {
        r["g"]: (r["psi"], r["drift"])
        for r in psi_drift(
            spark.createDataFrame(b1 + b2, "g string, v double"), "v", "g", 0.0, 1000.0
        ).collect()
    }
    assert got == want
    assert len(_batch_dirs(wh, "psi")) == 2


@pytest.mark.parametrize("window", ["before-append", "after-append"])
def test_stream_cusum_crash_recovers_on_restart(spark, tmp_path, monkeypatch, window):
    from datetime import datetime

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.checks import cusum_changepoints
    from lion_parcel_etl_spark.streaming.jobs import read_cusum, stream_daily_counts

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def rows(day_counts, typ):
        out = []
        for day, n in day_counts.items():
            out += [(typ, datetime(2024, 1, day, 12, 0))] * n
        return out

    b1 = rows({d: 10 for d in range(1, 8)}, "click") + rows({8: 4}, "click")
    b2 = rows({8: 6, 9: 10, 10: 10, 11: 35, 12: 35}, "click")

    def run():
        stream = spark.readStream.schema(
            "event_type string, ts timestamp"
        ).parquet(landing)
        stream_daily_counts(stream, wh, "vol", "ts", "event_type", ckpt)

    spark.createDataFrame(b1, "event_type string, ts timestamp").coalesce(
        1
    ).write.mode("append").parquet(landing)
    run()
    spark.createDataFrame(b2, "event_type string, ts timestamp").coalesce(
        1
    ).write.mode("append").parquet(landing)
    state = _crash_append(monkeypatch, window)
    with pytest.raises(Exception, match="injected crash"):
        run()
    state["armed"] = False
    run()

    got = {
        (r["event_type"], r["day"]): (r["n_events"], r["alarm"])
        for r in read_cusum(spark, wh, "vol", h_sigmas=2.0).collect()
    }
    full = spark.createDataFrame(b1 + b2, "event_type string, ts timestamp")
    daily = full.groupBy(
        F.col("event_type").alias("g"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    want = {
        (r["g"], r["day"]): (r["x"], r["alarm"])
        for r in cusum_changepoints(daily, "x", "day", "g", h_sigmas=2.0).collect()
    }
    assert got == want
    # the split day's counts merged exactly once across the crash: 4+6
    assert got[("click", "2024-01-08")][0] == 10.0
    assert len(_batch_dirs(wh, "vol")) == 2


def test_stream_auc_merged_equals_batch_statistic(spark, tmp_path):
    """Two micro-batches of per-score label counts merge (read_auc)
    into EXACTLY the batch roc_auc of the full stream — the per-score
    table is the lossless sufficient statistic, not a binned
    estimate."""
    import random

    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.evaluation import roc_auc
    from lion_parcel_etl_spark.streaming.jobs import (
        read_auc,
        stream_score_histograms,
    )

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    rng = random.Random(11)
    # overlapping score distributions with deliberate cross-batch ties
    mk = lambda n, hi: [
        (round(rng.random() * (0.6 if not hi else 1.0) + (0.3 if hi else 0.0), 2),
         1 if hi else 0)
        for _ in range(n)
    ]
    b1 = mk(150, True) + mk(100, False)
    b2 = mk(80, True) + mk(170, False)

    def run():
        stream = spark.readStream.schema("p double, y int").parquet(landing)
        stream_score_histograms(stream, wh, "auc", "p", "y", ckpt)

    for batch in (b1, b2):
        spark.createDataFrame(batch, "p double, y int").coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        run()

    got = read_auc(spark, wh, "auc").collect()[0]
    want = roc_auc(
        spark.createDataFrame(b1 + b2, "p double, y int"), pred_col=None
    ).collect()[0]
    assert (got["n_pos"], got["n_neg"], got["auc"]) == (
        want["n_pos"], want["n_neg"], want["auc"],
    )
    assert 0.5 < got["auc"] < 1.0  # separable-but-overlapping by design

    # the SAME state table answers PR-AUC with zero new state — the
    # per-score counts are the sufficient statistic for the whole PR
    # curve, and the step-interpolation arithmetic is identical, so
    # equality is exact like read_auc's
    from lion_parcel_etl_spark.operators.evaluation import pr_auc
    from lion_parcel_etl_spark.streaming.jobs import read_pr_auc

    got_ap = read_pr_auc(spark, wh, "auc").collect()[0]
    want_ap = pr_auc(
        spark.createDataFrame(b1 + b2, "p double, y int")
    ).collect()[0]
    assert (got_ap["n_pos"], got_ap["n_neg"], got_ap["ap"]) == (
        want_ap["n_pos"], want_ap["n_neg"], want_ap["ap"],
    )

    # the SAME state table answers calibration with zero new state:
    # read_calibration's merged per-score view equals batch
    # calibration_bins over the raw stream bin for bin — n/frac_pos
    # integer-exact; mean_p/gap within one unit in the last rounded
    # place (summation order differs, so a value landing exactly on a
    # 1e-6 rounding boundary may flip its last digit)
    from lion_parcel_etl_spark.operators.evaluation import calibration_bins
    from lion_parcel_etl_spark.streaming.jobs import read_calibration

    got_cal = {
        r["bin"]: r for r in read_calibration(spark, wh, "auc").collect()
    }
    want_cal = {
        r["bin"]: r
        for r in calibration_bins(
            spark.createDataFrame(b1 + b2, "p double, y int")
        ).collect()
    }
    assert set(got_cal) == set(want_cal)
    assert len(got_cal) >= 5  # scores span most deciles by design
    for b in want_cal:
        g, w2 = got_cal[b], want_cal[b]
        assert (g["n"], g["frac_pos"]) == (w2["n"], w2["frac_pos"]), b
        assert abs(g["mean_p"] - w2["mean_p"]) <= 1e-6 + 1e-12, b
        assert abs(g["gap"] - w2["gap"]) <= 1e-6 + 1e-12, b


@pytest.mark.parametrize("window", ["before-append", "after-append"])
def test_stream_auc_crash_recovers_on_restart(spark, tmp_path, monkeypatch, window):
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.evaluation import roc_auc
    from lion_parcel_etl_spark.streaming.jobs import (
        read_auc,
        stream_score_histograms,
    )

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    b1 = [(0.9, 1), (0.8, 1), (0.5, 1), (0.5, 0), (0.2, 0)]
    b2 = [(0.7, 1), (0.5, 0), (0.3, 0), (0.1, 0)]

    def run():
        stream = spark.readStream.schema("p double, y int").parquet(landing)
        stream_score_histograms(stream, wh, "auc", "p", "y", ckpt)

    spark.createDataFrame(b1, "p double, y int").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run()
    spark.createDataFrame(b2, "p double, y int").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    state = _crash_append(monkeypatch, window)
    with pytest.raises(Exception, match="injected crash"):
        run()
    state["armed"] = False
    run()

    got = read_auc(spark, wh, "auc").collect()[0]
    want = roc_auc(
        spark.createDataFrame(b1 + b2, "p double, y int"), pred_col=None
    ).collect()[0]
    assert (got["n_pos"], got["n_neg"], got["auc"]) == (
        want["n_pos"], want["n_neg"], want["auc"],
    )
    assert len(_batch_dirs(wh, "auc")) == 2


def test_stream_vocab_kl_merged_equals_batch_statistic(spark, tmp_path):
    """Two micro-batches of stored (source, token) counts merge
    (read_vocab_kl) into exactly the batch vocab-KL of the full
    stream — integer counts merge losslessly, so equality is exact."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.text import (
        source_token_counts,
        vocab_kl_from_counts,
    )
    from lion_parcel_etl_spark.streaming.jobs import (
        read_vocab_kl,
        stream_token_counts,
    )

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    b1 = [("web", "the cat sat on the mat"), ("web", "dogs and cats"),
          ("wiki", "the theory of computation")]
    b2 = [("wiki", "computation and automata theory"),
          ("web", "the mat the cat the hat")]

    def run():
        stream = spark.readStream.schema("source string, text string").parquet(landing)
        stream_token_counts(stream, wh, "tok", ckpt)

    for batch in (b1, b2):
        spark.createDataFrame(batch, "source string, text string").coalesce(
            1
        ).write.mode("append").parquet(landing)
        run()

    got = {tuple(r) for r in read_vocab_kl(spark, wh, "tok").collect()}
    full = spark.createDataFrame(b1 + b2, "source string, text string")
    want = {
        tuple(r)
        for r in vocab_kl_from_counts(source_token_counts(full)).collect()
    }
    assert got == want and got


@pytest.mark.parametrize("window", ["before-append", "after-append"])
def test_stream_vocab_kl_crash_recovers_on_restart(spark, tmp_path, monkeypatch, window):
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.text import (
        source_token_counts,
        vocab_kl_from_counts,
    )
    from lion_parcel_etl_spark.streaming.jobs import (
        read_vocab_kl,
        stream_token_counts,
    )

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    b1 = [("web", "the cat sat on the mat"), ("wiki", "the theory of computation")]
    b2 = [("web", "dogs and cats and dogs"), ("wiki", "automata theory")]

    def run():
        stream = spark.readStream.schema("source string, text string").parquet(landing)
        stream_token_counts(stream, wh, "tok", ckpt)

    spark.createDataFrame(b1, "source string, text string").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run()
    spark.createDataFrame(b2, "source string, text string").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    state = _crash_append(monkeypatch, window)
    with pytest.raises(Exception, match="injected crash"):
        run()
    state["armed"] = False
    run()

    got = {tuple(r) for r in read_vocab_kl(spark, wh, "tok").collect()}
    full = spark.createDataFrame(b1 + b2, "source string, text string")
    want = {
        tuple(r)
        for r in vocab_kl_from_counts(source_token_counts(full)).collect()
    }
    assert got == want
    assert len(_batch_dirs(wh, "tok")) == 2


def test_stream_market_basket_agrees_under_order_splitting(spark, tmp_path):
    """The market-basket streaming twin must equal the batch pipeline
    over all ingested data EVEN WHEN an order's lines are split across
    micro-batches — the failure mode that silently breaks additive
    pair-count states (cross-batch pairs lost, n_orders over-counted).
    The basket-fragment log is lossless by construction; this pins it
    with an adversarial split plus a duplicate line across batches."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.basket import basket_rules
    from lion_parcel_etl_spark.streaming.jobs import (
        read_market_basket,
        stream_market_basket,
    )
    from pyspark.sql import functions as F

    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    # orders: 1:{A,B,C} 2:{A,B} 3:{B,C} 4:{A,B}  (pair AB in 3 orders,
    # BC in 2, AC in 1). Order 1 and 2 are SPLIT across the batches;
    # part B of order 1 appears in BOTH (cross-batch duplicate).
    b1 = [(1, 10), (1, 20), (2, 10), (3, 20), (3, 30)]
    b2 = [(1, 20), (1, 30), (2, 20), (4, 10), (4, 20)]

    def run():
        stream = spark.readStream.schema(
            "l_orderkey long, l_partkey long"
        ).parquet(landing)
        stream_market_basket(stream, wh, "basket", ckpt)

    for batch in (b1, b2):
        spark.createDataFrame(
            batch, "l_orderkey long, l_partkey long"
        ).coalesce(1).write.mode("append").parquet(landing)
        run()

    got = read_market_basket(spark, wh, "basket", min_pairs=1, top=100).collect()
    full = spark.createDataFrame(b1 + b2, "l_orderkey long, l_partkey long")
    want = basket_rules(
        full.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        ).distinct(),
        min_pairs=1,
        top=100,
    ).collect()
    key = lambda r: (r.pa, r.pb)
    assert sorted(map(tuple, got), key=lambda t: t[:2]) == sorted(
        map(tuple, want), key=lambda t: t[:2]
    )
    pcs = {(r.pa, r.pb): r.pc for r in got}
    assert pcs == {(10, 20): 3, (20, 30): 2, (10, 30): 1}

    # crash replay: re-appending batch 1's fragment cannot double-count
    wh.append_batch(
        spark.createDataFrame(b2, "l_orderkey long, l_partkey long")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct(),
        "basket",
        1,
    )
    again = read_market_basket(spark, wh, "basket", min_pairs=1, top=100).collect()
    assert sorted(map(tuple, again), key=lambda t: t[:2]) == sorted(
        map(tuple, want), key=lambda t: t[:2]
    )


def test_stream_holt_winters_equals_batch(spark, tmp_path, sf_dir):
    """The forecasting twin: Holt-Winters over the merged daily-count
    log must equal q_holt_winters_eval over the same events even when
    a day's events are split across micro-batches (counts are a
    commutative monoid), and a crash replay cannot double-count."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.plans.queries import q_holt_winters_eval
    from lion_parcel_etl_spark.streaming.jobs import (
        read_holt_winters,
        stream_daily_counts,
    )
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "event_type"
    )
    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    # adversarial split: odd/even event ids, so every day's volume is
    # spread across both batches
    for i, frag in enumerate(
        [ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")]
    ):
        frag.coalesce(1).write.mode("append").parquet(landing)
        stream = spark.readStream.schema(ev.schema).parquet(landing)
        stream_daily_counts(stream, wh, "daily", "ts", "event_type", ckpt)

    got = read_holt_winters(spark, wh, "daily").collect()
    want = q_holt_winters_eval(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and got

    # crash replay: re-append batch 1's partial counts under the same id
    part = (
        ev.filter("event_id % 2 = 1")
        .filter(F.col("ts").isNotNull())
        .groupBy(
            F.col("event_type").alias("g"),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wh.append_batch(part, "daily", 1)
    again = read_holt_winters(spark, wh, "daily").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, want))


def test_stream_ks_drift_equals_batch(spark, tmp_path, sf_dir):
    """KS over the merged value-count log equals q_ks_drift over the
    same events under an adversarial split (odd/even event ids, so
    every group's values spread across batches); a crash replay of a
    batch's counts cannot double-count."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.plans.queries import q_ks_drift
    from lion_parcel_etl_spark.streaming.jobs import (
        read_ks_drift,
        stream_value_counts,
    )
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    for frag in [ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")]:
        frag.coalesce(1).write.mode("append").parquet(landing)
        stream = spark.readStream.schema(ev.schema).parquet(landing)
        stream_value_counts(stream, wh, "vc", "event_type", "value", ckpt)

    got = read_ks_drift(spark, wh, "vc").collect()
    want = q_ks_drift(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and got

    part = (
        ev.filter("event_id % 2 = 1")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(F.col("event_type").alias("g"), F.col("value").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wh.append_batch(part, "vc", 1)
    again = read_ks_drift(spark, wh, "vc").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, want))


def test_stream_ks_drift_binned_equals_batch(spark, tmp_path, sf_dir):
    """Binned KS over the two merged count logs (full + md5-sampled)
    equals q_ks_drift_binned over the same events under an adversarial
    odd/even split: the sampled counts are an additive monoid and the
    frequency-weighted percentile over merged counts reproduces the
    batch job's row-percentile boundaries exactly. A crash replay of a
    batch's counts cannot double-count."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.sampling import HASH_MOD, id_hash
    from lion_parcel_etl_spark.plans.queries import (
        APPROX_SAMPLE_DIV,
        q_ks_drift_binned,
    )
    from lion_parcel_etl_spark.streaming.jobs import (
        read_ks_drift_binned,
        stream_value_counts,
    )
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    for frag in [ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")]:
        frag.coalesce(1).write.mode("append").parquet(landing)
        stream = spark.readStream.schema(ev.schema).parquet(landing)
        stream_value_counts(
            stream, wh, "vc", "event_type", "value",
            str(tmp_path / "ckpt_full"),
        )
        sampled_stream = spark.readStream.schema(ev.schema).parquet(
            landing
        ).filter(
            id_hash(F.col("event_id"), salt="ksb")
            < F.lit(HASH_MOD // APPROX_SAMPLE_DIV)
        )
        stream_value_counts(
            sampled_stream, wh, "vc_samp", "event_type", "value",
            str(tmp_path / "ckpt_samp"),
        )

    got = read_ks_drift_binned(spark, wh, "vc", "vc_samp").collect()
    want = q_ks_drift_binned(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and got

    # crash replay: re-append batch 1's SAMPLED counts under the same
    # __batch_id — the exactly-once layout must ignore the duplicate
    part = (
        ev.filter("event_id % 2 = 1")
        .filter(
            id_hash(F.col("event_id"), salt="ksb")
            < F.lit(HASH_MOD // APPROX_SAMPLE_DIV)
        )
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(F.col("event_type").alias("g"), F.col("value").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wh.append_batch(part, "vc_samp", 1)
    again = read_ks_drift_binned(spark, wh, "vc", "vc_samp").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, want))

    # twin 29 (round 9): the agreement readout over the SAME two logs
    # equals the batch q_ks_agreement — one broadcast join of two
    # already-lossless readers, shared readout code (ks_agreement_from)
    from lion_parcel_etl_spark.plans.queries import q_ks_agreement
    from lion_parcel_etl_spark.streaming.jobs import read_ks_agreement

    agree = read_ks_agreement(spark, wh, "vc", "vc_samp").collect()
    agree_want = q_ks_agreement(spark, sf_dir).collect()
    assert sorted(map(tuple, agree)) == sorted(map(tuple, agree_want))
    assert agree and all(r["d_gap"] is not None for r in agree)


def test_stream_benford_equals_batch(spark, tmp_path, sf_dir):
    """Digit counts are additive: the merged Benford readout equals
    q_benford_audit over the same orders under an odd/even split, and
    a crash replay cannot double-count."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.plans.queries import q_benford_audit
    from lion_parcel_etl_spark.streaming.jobs import (
        read_benford_audit,
        stream_digit_counts,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    for frag in [o.filter("o_orderkey % 2 = 0"), o.filter("o_orderkey % 2 = 1")]:
        frag.coalesce(1).write.mode("append").parquet(landing)
        stream = spark.readStream.schema(o.schema).parquet(landing)
        stream_digit_counts(stream, wh, "digits", "o_totalprice", ckpt)

    got = read_benford_audit(spark, wh, "digits").collect()
    want = q_benford_audit(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and got

    from pyspark.sql import functions as F

    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    part = (
        o.filter("o_orderkey % 2 = 1")
        .filter(F.col("o_totalprice") > 0)
        .select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    wh.append_batch(part, "digits", 1)
    again = read_benford_audit(spark, wh, "digits").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, want))


def test_stream_media_frames_equals_batch(spark, tmp_path, sf_dir):
    """Media-ingest twin (round 9, twin 30): per-frame stats from the
    streamed GIF payload log equal q_gif_frames over the same payloads
    under an adversarial odd/even media_id split (decode is row-local,
    so any batch split is lossless); a crash replay of a batch's rows
    cannot double-count thanks to the __batch_id layout."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.multimodal import gif_frame_stats
    from lion_parcel_etl_spark.plans.queries import (
        _gif_video_payloads,
        q_gif_frames,
    )
    from lion_parcel_etl_spark.streaming.jobs import (
        read_gif_frames,
        stream_media_frames,
    )

    media = _gif_video_payloads(spark, sf_dir)
    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    for frag in [
        media.filter("media_id % 2 = 0"),
        media.filter("media_id % 2 = 1"),
    ]:
        frag.coalesce(1).write.mode("append").parquet(landing)
        stream = spark.readStream.schema(media.schema).parquet(landing)
        stream_media_frames(stream, wh, "frames", ckpt)

    got = read_gif_frames(spark, wh, "frames").collect()
    want = q_gif_frames(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and got

    # crash replay: re-append batch 1's rows under the SAME batch id —
    # the partition overwrite must keep the readout unchanged
    part = gif_frame_stats(media.filter("media_id % 2 = 1"))
    wh.append_batch(part, "frames", 1)
    again = read_gif_frames(spark, wh, "frames").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, want))
