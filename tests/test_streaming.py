"""Structured Streaming twins of the reference DAGs vs their batch plans.

Each streaming job is run with Trigger.AvailableNow over static input
and must produce exactly what the equivalent batch plan produces —
the streaming/batch parity Spark promises when the plan is the same.
The merge and SCD2 twins also replay a crashed micro-batch to the
batch state.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from lion_parcel_etl_spark.pipelines.bonus import metrics_detail
from lion_parcel_etl_spark.streaming import (
    run_available_now,
    stream_metrics_detail,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _rows(df, cols):
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


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
