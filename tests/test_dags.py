"""End-to-end DAG runs through runner + warehouse, replaying the
reference's multi-run scenario (insert → update → soft delete; README.md
Task-1 procedure and the SCD worked example at
retail_transactions_scd.sql:226-258)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from lion_parcel_etl_spark.catalog import Warehouse
from lion_parcel_etl_spark.pipelines.dags import build_bonus_pipeline, build_retail_pipeline

RUN1 = "2025-01-01 10:00:00"
RUN2 = "2025-01-01 11:00:00"

COLS = ["id", "customer_id", "last_status", "pos_origin", "pos_destination",
        "created_at", "updated_at"]


def _src(spark, rows):
    return spark.createDataFrame(rows, COLS).select(
        F.col("id").cast("long"),
        "customer_id", "last_status", "pos_origin", "pos_destination",
        F.to_timestamp("created_at").alias("created_at"),
        F.to_timestamp("updated_at").alias("updated_at"),
    )


@pytest.fixture()
def wh(tmp_path):
    return Warehouse(str(tmp_path / "wh"))


def test_retail_two_runs_soft_delete_and_scd(spark, wh):
    p = build_retail_pipeline()
    r1 = [
        (1, "c1", "PICKED", "JKT", "BDG", "2025-01-01 08:00:00", "2025-01-01 09:00:00"),
        (2, "c2", "DONE", "JKT", "SMG", "2025-01-01 08:00:00", "2025-01-01 09:00:00"),
    ]
    p.run({"spark": spark, "warehouse": wh, "run_ts": RUN1, "source_df": _src(spark, r1)})

    mart = wh.read(spark, "retail_transactions")
    assert mart.count() == 2
    del1 = {r["id"]: r["deleted_at"] for r in mart.collect()}
    assert del1[1] is None and del1[2] is not None
    first_deleted = del1[2]

    # run 2: id 1 flips to DONE, id 2 unchanged (deleted_at must be
    # PRESERVED, not restamped), id 3 arrives new
    r2 = [
        (1, "c1", "DONE", "JKT", "BDG", "2025-01-01 08:00:00", "2025-01-01 10:30:00"),
        (2, "c2", "DONE", "JKT", "SMG", "2025-01-01 08:00:00", "2025-01-01 09:00:00"),
        (3, "c3", "PICKED", "SUB", "JKT", "2025-01-01 10:00:00", "2025-01-01 10:30:00"),
    ]
    p.run({"spark": spark, "warehouse": wh, "run_ts": RUN2, "source_df": _src(spark, r2)})

    mart = wh.read(spark, "retail_transactions")
    assert mart.count() == 3
    del2 = {r["id"]: r["deleted_at"] for r in mart.collect()}
    assert del2[1] is not None
    assert del2[2] == first_deleted  # preserved across runs
    assert del2[3] is None

    scd = wh.read(spark, "retail_transactions_scd").withColumn(
        "is_current", F.col("is_current").cast("boolean")
    )
    by_id = {(r["id"], r["is_current"]): r for r in scd.collect()}
    # id 1 has an expired version (PICKED) and a current one (DONE)
    assert (1, False) in by_id and (1, True) in by_id
    assert by_id[(1, True)]["last_status"] == "DONE"
    # unchanged id 2: single current version
    assert (2, True) in by_id and (2, False) not in by_id
    # partitioned storage by is_current
    import os

    parts = os.listdir(wh.table_path("retail_transactions_scd"))
    assert any(p.startswith("is_current=") for p in parts)


def test_retail_tag_selection_runs_subgraph(spark, wh):
    p = build_retail_pipeline()
    rows = [(1, "c1", "PICKED", "A", "B", "2025-01-01 08:00:00", "2025-01-01 09:00:00")]
    timings = p.run(
        {"spark": spark, "warehouse": wh, "run_ts": RUN1, "source_df": _src(spark, rows)},
        tags={"retail_transactions_scd"},
    )
    assert set(timings) == {"stage", "retail_transactions_scd"}
    assert not wh.exists("retail_transactions")


def test_bonus_dag_golden_rowcounts(spark, wh, bonus_json):
    p = build_bonus_pipeline()
    ctx = {"spark": spark, "warehouse": wh, "json_dir": bonus_json.path}
    p.run(ctx)
    assert wh.read(spark, "bonus_detail_per_file").count() == bonus_json.entries
    prod = wh.read(spark, "lion_parcell_bonus_test")
    assert prod.count() == bonus_json.ids
    assert prod.columns == ["id", "runtime_date", "load_time", "Message"]
    # the dbt-test stage ran and passed
    assert all(s["passed"] for s in ctx["check_results"]["bonus_test"])
    # idempotent re-run (hourly schedule replays): same result
    p.run(ctx)
    assert wh.read(spark, "lion_parcell_bonus_test").count() == bonus_json.ids


def test_write_csv_single_file(spark, wh, tmp_path):
    from lion_parcel_etl_spark.catalog import write_csv

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    out = str(tmp_path / "golden_csv")
    write_csv(df, out)
    import glob

    files = glob.glob(out + "/*.csv")
    assert len(files) == 1  # coalesce(1): one golden file
    text = open(files[0]).read()
    assert text.startswith("id,v")
