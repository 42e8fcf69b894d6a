"""Warehouse tables carry their schema: ``_schema.json`` at the table root.

A table-root write stages the file with its data; ``Warehouse.read``
types the table by it (no Spark job, partition columns in their written
types) and falls back to parquet inference when it is absent.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from lion_parcel_etl_spark.catalog import SCHEMA_FILE, Warehouse
from lion_parcel_etl_spark.operators.merge_upsert import merge_upsert_evolve
from lion_parcel_etl_spark.operators.scd2 import scd2_apply


def _schema_file(wh, name):
    return os.path.join(wh.table_path(name), SCHEMA_FILE)


def _rows(df):
    return sorted(map(str, df.collect()))


def _typed_frame(spark):
    """Every column kind a mart carries: nested struct/array/map (not
    nullable as built), decimal with field metadata, both timestamp
    kinds, a boolean, a zero-padded string and a date."""
    return (
        spark.range(6)
        .select(
            F.col("id").cast("int").alias("id"),
            F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("s"),
            F.array(F.col("id"), F.lit(1)).alias("arr"),
            F.create_map(F.lit("k"), F.col("id")).alias("m"),
            F.lit(1.5).cast("decimal(10,2)").alias("dec"),
            F.to_timestamp(F.lit("2024-01-01 10:30:00")).alias("ts"),
            F.to_timestamp_ntz(F.lit("2024-01-01 00:00:00")).alias("tsn"),
            (F.col("id") % 2 == 0).alias("flag"),
            F.format_string("%02d", F.col("id") % 3).alias("day"),
            F.to_date(F.lit("2024-01-01")).alias("d"),
            F.lit(None).cast("string").alias("nul"),
        )
        .withMetadata("dec", {"comment": "amount"})
    )


@pytest.mark.parametrize("partition_by", [None, ["flag"], ["day"], ["d", "flag"], ["ts"]])
def test_read_matches_inference_but_keeps_partition_types(spark, tmp_path, partition_by):
    """Same columns, order, nullability and rows as parquet inference;
    partition columns come back in the types they were written with."""
    wh = Warehouse(str(tmp_path / "wh"))
    df = _typed_frame(spark)
    wh.overwrite(df, "t", partition_by=partition_by)
    got = wh.read(spark, "t")
    inferred = spark.read.parquet(wh.table_path("t"))
    parts = set(partition_by or [])

    assert got.columns == inferred.columns
    for g, i in zip(got.schema, inferred.schema):
        if g.name in parts:
            assert g.dataType == df.schema[g.name].dataType and g.nullable
        else:
            assert g == i
    assert _rows(got) == _rows(df.select(*got.columns))


def test_boolean_partition_round_trips_and_feeds_scd2_without_cast(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    snap = spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 1)), (2, "b", dt.datetime(2024, 1, 1))],
        "id long, status string, snap_ts timestamp",
    )
    run1 = F.to_timestamp(F.lit("2024-01-01 01:00:00"))
    first = scd2_apply(
        None, snap.withColumn("run_at", run1), ["id"], ["status"], "snap_ts", "run_at"
    )
    wh.overwrite(first, "dim", partition_by=["is_current"])
    target = wh.read(spark, "dim")
    assert dict(target.dtypes)["is_current"] == "boolean"

    snap2 = spark.createDataFrame(
        [(1, "z", dt.datetime(2024, 1, 2))], "id long, status string, snap_ts timestamp"
    )
    run2 = F.to_timestamp(F.lit("2024-01-02 01:00:00"))
    out = scd2_apply(
        target, snap2.withColumn("run_at", run2), ["id"], ["status"], "snap_ts", "run_at"
    )
    assert sorted((r.id, r.status, r.is_current) for r in out.collect()) == [
        (1, "a", False),
        (1, "z", True),
        (2, "b", True),
    ]


def test_read_of_table_with_schema_file_runs_no_spark_job(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.overwrite(_typed_frame(spark), "t", partition_by=["flag"])
    sc = spark.sparkContext

    def jobs(group, read):
        sc.setJobGroup(group, group)
        try:
            read()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("catalog-read-schema", lambda: wh.read(spark, "t")) == 0
    # the control: inference on the same table does run a job
    assert jobs("catalog-read-infer", lambda: spark.read.parquet(wh.table_path("t"))) >= 1


def test_table_without_schema_file_reads_by_inference(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.overwrite(_typed_frame(spark), "t", partition_by=["flag"])
    os.remove(_schema_file(wh, "t"))
    got = wh.read(spark, "t")
    inferred = spark.read.parquet(wh.table_path("t"))
    assert got.schema == inferred.schema
    assert dict(got.dtypes)["flag"] == "string"
    assert _rows(got) == _rows(inferred)


def test_schema_file_follows_merge_upsert_evolve(spark, tmp_path):
    """A gained column appears in the file and the read; a dropped one
    leaves both."""
    wh = Warehouse(str(tmp_path / "wh"))

    def replay(batch):
        target = wh.read(spark, "mart") if wh.exists("mart") else None
        wh.overwrite(merge_upsert_evolve(target, batch, ["id"]), "mart")
        with open(_schema_file(wh, "mart")) as f:
            stored = [fld["name"] for fld in json.load(f)["fields"]]
        got = wh.read(spark, "mart")
        assert stored == got.columns
        return got

    replay(spark.createDataFrame([(1, "a")], "id int, v string"))
    gained = replay(spark.createDataFrame([(2, "b", 20)], "id int, v string, amount int"))
    assert gained.columns == ["id", "v", "amount"]
    assert sorted(map(tuple, gained.collect())) == [(1, "a", None), (2, "b", 20)]
    dropped = replay(spark.createDataFrame([(3, 30)], "id int, amount int"))
    assert dropped.columns == ["id", "amount"]
    assert sorted(map(tuple, dropped.collect())) == [(1, None), (2, 20), (3, 30)]


def test_schema_file_is_invisible_to_merge_schema_and_pandas(spark, tmp_path):
    import pandas as pd

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a", "01"), (2, "b", "02")], "id long, v string, day string"
    )
    wh.overwrite(df, "t", partition_by=["day"])
    path = wh.table_path("t")
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert merged.columns == ["id", "v", "day"] and merged.count() == 2
    pdf = pd.read_parquet(path)
    assert set(pdf.columns) == {"id", "v", "day"}
    assert sorted(pdf["id"].tolist()) == [1, 2]


def test_overwrite_refreshes_a_cached_read_of_the_table(spark, tmp_path):
    """A cached read of a table sees the rows of the next overwrite:
    the write lands in a staging dir, so the install itself must
    refresh the plans Spark cached over the table path."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.overwrite(spark.range(3).toDF("n"), "t")
    first = wh.read(spark, "t").repartition("n").persist()
    again = wh.read(spark, "t").repartition("n")
    try:
        assert first.count() == 3
        wh.overwrite(spark.range(7).toDF("n"), "t")
        assert again.count() == 7
    finally:
        first.unpersist(blocking=True)


def test_only_catalog_stages_or_swaps_a_directory():
    """``Warehouse.publish`` is the one install path: no package module
    besides catalog.py names ``swap_dir`` or ``staging_dir``, so no
    materializer stages or renames its own table directories."""
    import re

    import lion_parcel_etl_spark

    pkg = os.path.dirname(os.path.abspath(lion_parcel_etl_spark.__file__))
    offenders = []
    for dirpath, _dirs, files in os.walk(pkg):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == os.path.join(pkg, "catalog.py"):
                continue
            with open(path) as fh:
                for n, line in enumerate(fh, 1):
                    if re.search(r"\b(swap_dir|staging_dir)\b", line):
                        offenders.append(f"{os.path.relpath(path, pkg)}:{n}")
    assert not offenders, offenders


def test_only_catalog_bucketing_and_jdbc_hold_a_dataframe_writer():
    """No package module outside catalog.py, operators/bucketing.py
    (``saveAsTable`` needs the session metastore) and sources/jdbc.py
    starts a ``.write.`` DataFrameWriter chain, so every parquet table
    is installed by ``Warehouse.publish``."""
    import re

    import lion_parcel_etl_spark

    pkg = os.path.dirname(os.path.abspath(lion_parcel_etl_spark.__file__))
    allowed = {"catalog.py", os.path.join("operators", "bucketing.py"), os.path.join("sources", "jdbc.py")}
    offenders = []
    for dirpath, _dirs, files in os.walk(pkg):
        for f in files:
            rel = os.path.relpath(os.path.join(dirpath, f), pkg)
            if not f.endswith(".py") or rel in allowed:
                continue
            with open(os.path.join(pkg, rel)) as fh:
                for n, line in enumerate(fh, 1):
                    if re.search(r"\.write(\.|\s*$)", line):
                        offenders.append(f"{rel}:{n}")
    assert not offenders, offenders
