"""The two reference DAGs, re-expressed as runner pipelines.

E1 ``retail_hourly_etl`` (reference ``dags/retail_hourly_etl.py:17-39``):
  stage (truncate-reload staging) → retail_transactions (merge + soft
  delete) and retail_transactions_scd (SCD2) marts.
E2 ``bonus_test`` (reference ``dags/bonus_test.py:17-39``):
  bonus_stg (JSON corpus → detail + final staging tables) →
  bonus_prod (projection upsert).

Each task reads/writes warehouse tables so a run is resumable and
inspectable mid-pipeline, exactly like the reference's Postgres
tables between Airflow tasks. ``ctx`` carries
{spark, warehouse, run_ts, ...} — injected, deterministic. Only the
``stage`` task reads ``run_ts``: it stamps staging's ``loaded_at``, and
both retail marts take the run clock from that column.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lion_parcel_etl_spark.catalog import Warehouse
from lion_parcel_etl_spark.operators.checks import (
    expect_not_null,
    expect_unique,
    run_checks,
)
from lion_parcel_etl_spark.operators.scd2 import scd2_apply
from lion_parcel_etl_spark.pipelines.bonus import metrics_detail, metrics_final
from lion_parcel_etl_spark.pipelines.retail import (
    bonus_prod_model,
    retail_snapshot,
    retail_transactions_model,
    stage_source,
)
from lion_parcel_etl_spark.runner import Pipeline

SCD_TRACKED = ["customer_id", "last_status", "pos_origin", "pos_destination", "deleted_at"]


def _read_if_exists(wh: Warehouse, spark, name: str):
    return wh.read(spark, name) if wh.exists(name) else None


def build_retail_pipeline() -> Pipeline:
    def stage(ctx):
        spark, wh = ctx["spark"], ctx["warehouse"]
        src = ctx["source_df"]  # seeded by caller (≙ Postgres source table)
        wh.overwrite(stage_source(src, ctx["run_ts"]), "stg_retail_transactions")

    def mart_merge(ctx):
        spark, wh = ctx["spark"], ctx["warehouse"]
        staging = wh.read(spark, "stg_retail_transactions")
        target = _read_if_exists(wh, spark, "retail_transactions")
        out = retail_transactions_model(target, staging)
        wh.overwrite(out, "retail_transactions")

    def mart_scd(ctx):
        spark, wh = ctx["spark"], ctx["warehouse"]
        staging = wh.read(spark, "stg_retail_transactions")
        snap = retail_snapshot(staging)
        target = _read_if_exists(wh, spark, "retail_transactions_scd")
        out = scd2_apply(target, snap, ["id"], SCD_TRACKED, "updated_at", "loaded_at")
        # partitioned by is_current, but overwrite rewrites the WHOLE
        # table (history included) every run: at this history depth one
        # rewrite beat an append-only history layout (SCALE.md
        # §Incremental materialization)
        wh.overwrite(out, "retail_transactions_scd", partition_by=["is_current"])

    def checks(ctx):
        # the dbt-test stage the reference scaffolds but leaves empty
        # (SURVEY §5): the constraints its models imply, enforced.
        spark, wh = ctx["spark"], ctx["warehouse"]
        mart = wh.read(spark, "retail_transactions")
        scd = wh.read(spark, "retail_transactions_scd")
        summary = run_checks(
            {
                "retail_transactions.id_unique": expect_unique(mart, ["id"]),
                "retail_transactions.id_not_null": expect_not_null(mart, ["id"]),
                "scd.key_unique": expect_unique(scd, ["id", "valid_from"]),
                # SCD2 invariant: exactly one open version per key
                "scd.one_current_per_id": scd.groupBy("id")
                .agg(F.sum(F.col("is_current").cast("int")).alias("n_current"))
                .filter(F.col("n_current") != 1),
            }
        )
        ctx.setdefault("check_results", {})["retail_hourly_etl"] = summary
        failed = [s["check"] for s in summary if not s["passed"]]
        if failed:
            raise RuntimeError(f"quality checks failed: {failed}")

    return (
        Pipeline("retail_hourly_etl")
        .task("stage", stage, tags={"staging"})
        .task("retail_transactions", mart_merge, deps=["stage"], tags={"mart", "retail_transactions"})
        .task("retail_transactions_scd", mart_scd, deps=["stage"], tags={"mart", "retail_transactions_scd"})
        .task(
            "checks",
            checks,
            deps=["retail_transactions", "retail_transactions_scd"],
            tags={"test"},
        )
    )


def build_bonus_pipeline() -> Pipeline:
    def bonus_stg(ctx):
        spark, wh = ctx["spark"], ctx["warehouse"]
        detail = metrics_detail(spark, ctx["json_dir"])
        wh.overwrite(detail, "bonus_detail_per_file")
        final = metrics_final(wh.read(spark, "bonus_detail_per_file"))
        wh.overwrite(final, "lion_parcell_bonus_test_stg")

    def bonus_prod(ctx):
        spark, wh = ctx["spark"], ctx["warehouse"]
        staging = wh.read(spark, "lion_parcell_bonus_test_stg")
        target = _read_if_exists(wh, spark, "lion_parcell_bonus_test")
        wh.overwrite(bonus_prod_model(target, staging), "lion_parcell_bonus_test")

    def checks(ctx):
        spark, wh = ctx["spark"], ctx["warehouse"]
        prod = wh.read(spark, "lion_parcell_bonus_test")
        summary = run_checks(
            {
                "bonus_prod.id_unique": expect_unique(prod, ["id"]),
                "bonus_prod.id_not_null": expect_not_null(prod, ["id"]),
            }
        )
        ctx.setdefault("check_results", {})["bonus_test"] = summary
        failed = [s["check"] for s in summary if not s["passed"]]
        if failed:
            raise RuntimeError(f"quality checks failed: {failed}")

    return (
        Pipeline("bonus_test")
        .task("bonus_stg", bonus_stg, tags={"staging"})
        .task("bonus_prod", bonus_prod, deps=["bonus_stg"], tags={"mart"})
        .task("checks", checks, deps=["bonus_prod"], tags={"test"})
    )
