"""Partition pruning: a date-partitioned warehouse table must scan only
the partitions a filter selects — THE layout decision that makes a
100 TB fact table queryable (a day filter reads 1/365th of the data).
Asserted from the physical plan's partition count, not wall time.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from lion_parcel_etl_spark.catalog import Warehouse

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _events(spark):
    return spark.read.parquet(EVENTS).withColumn("day", F.date_format("ts", "yyyy-MM-dd"))


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    ev = _events(spark)
    wh.overwrite(ev, "default.events_by_day", partition_by=["day"])

    n_days = ev.select("day").distinct().count()
    assert n_days > 3

    got = wh.read(spark, "default.events_by_day")
    one_day = ev.select(F.min("day")).first()[0]
    q = got.filter(F.col("day") == one_day)

    # the planner must turn the day predicate into a PartitionFilter
    # (directory-level skip), not a post-scan Filter
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert f"PartitionFilters: [isnotnull(day" in plan, plan[:2000]

    # and at execution time only files under day=<one_day> are opened
    files = [r[0] for r in q.select(F.input_file_name()).distinct().collect()]
    assert files and all(f"day={one_day}" in f for f in files), files
    all_files = got.select(F.input_file_name()).distinct().count()
    assert len(files) < all_files

    # and the data still round-trips (partition col comes back as string)
    want = ev.filter(F.col("day") == one_day).count()
    assert q.count() == want


def test_unfiltered_read_sees_all_partitions(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh2"))
    ev = _events(spark)
    wh.overwrite(ev, "default.events_by_day", partition_by=["day"])
    got = wh.read(spark, "default.events_by_day")
    assert got.count() == ev.count()
