"""Structured Streaming twins of the reference's two DAGs.

The reference is batch-only (hourly Airflow cron, SURVEY.md §2.10):
``schedule_interval="0 * * * *"`` with ``max_active_runs=1`` and
``catchup=False`` (reference ``dags/retail_hourly_etl.py:22-23``).
``Trigger.AvailableNow`` is exactly "process everything that's arrived,
then stop", i.e. the cron micro-batch, but with checkpointed
exactly-once file tracking instead of truncate-reload.

- ``stream_metrics_detail`` — the bonus JSON ingest as a file stream:
  same plan as the batch pipeline (shared ``detail_from_docs``), new
  files picked up incrementally per micro-batch; run it with
  ``run_available_now``.
- ``stream_merge_into`` and ``stream_scd2`` — the retail DAG's merge
  and SCD2 marts per micro-batch (``foreachBatch``), each batch
  installed with one ``Warehouse.overwrite``.

Scale notes: file-stream listing cost is per-directory — at real scale
point the source at a partitioned landing area and set
``maxFilesPerTrigger`` to bound micro-batch size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lion_parcel_etl_spark.pipelines.bonus import detail_from_docs, with_message
from lion_parcel_etl_spark.sources.metrics_json import read_metrics_docs


def _run_foreach_batch(df: DataFrame, checkpoint: str, fn) -> None:
    """Run ``fn(batch_df, batch_id)`` over every micro-batch that has
    arrived (``Trigger.AvailableNow``, checkpointed at ``checkpoint``)
    and block until the stream stops."""
    (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_metrics_detail(spark: SparkSession, path: str) -> DataFrame:
    """Streaming per-(file, metric) detail rows from a JSON landing dir;
    ``Message`` is normalized at the end of the plan, as in batch."""
    docs = read_metrics_docs(spark, path, streaming=True)
    return with_message(detail_from_docs(docs))


def stream_merge_into(
    df: DataFrame,
    warehouse,
    table: str,
    keys: list[str],
    checkpoint: str,
    order_col: str | None = None,
) -> None:
    """Streaming incremental materialization via ``foreachBatch``: each
    micro-batch merge-upserts into a warehouse table — the streaming
    twin of the dbt incremental models (reference K6-K8,
    retail_transactions.sql:1-7), turning the hourly cron-merge into a
    continuous one.

    Each batch: read current target → ``merge_upsert`` (batch side is
    small vs the accumulated target → broadcast anti-join; target
    scanned once, never shuffled) → atomic overwrite-swap, so readers
    see either the pre- or post-batch mart. Restart safety: the
    checkpoint tracks consumed input, and a replayed batch re-merges
    the same keys — idempotent by construction. ``order_col`` gives
    "latest per key" semantics that hold ACROSS batches, not just
    within one: the batch is deduped to its last event per key, and an
    update only replaces the existing target row when its ``order_col``
    is >= the target's (an out-of-order source delivering an older
    event for a key in a later batch cannot regress the mart; >= keeps
    replayed batches idempotent). A batch row whose ``order_col`` is
    NULL cannot establish ordering: it is inserted for a NEW key and
    loses to any existing row whose order is non-null (an unordered
    event never overwrites an ordered mart entry); when the EXISTING
    row's order is itself NULL, no ordering exists on either side and
    plain update-wins applies. Without ``order_col``, update-wins
    applies and the source must be ordered per key.
    """
    from lion_parcel_etl_spark.operators.merge_upsert import merge_upsert

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        tgt = warehouse.read(spark, table) if warehouse.exists(table) else None
        if order_col is not None and tgt is not None:
            # Cross-batch ordering guard. The target is large — never
            # broadcast it whole: semi-prune its (key, order) projection
            # to the batch's keys first (broadcast key set, ≤ |batch|
            # rows), then broadcast the pruned side into the batch join.
            # Keys match NULL-SAFELY (eqNullSafe), because merge_upsert
            # itself treats NULL as a real key value — a null-unsafe
            # guard would let an older event for a NULL key bypass the
            # order check and regress the mart row merge then replaces.
            from functools import reduce

            cur = tgt.select(
                *[F.col(k).alias(f"__k_{k}") for k in keys],
                F.col(order_col).alias("__cur_ord"),
            )
            bkeys = batch.select(
                *[F.col(k).alias(f"__b_{k}") for k in keys]
            ).dropDuplicates()
            semi = reduce(
                lambda a, b: a & b,
                [
                    F.col(f"__k_{k}").eqNullSafe(F.col(f"__b_{k}"))
                    for k in keys
                ],
            )
            cur = cur.join(F.broadcast(bkeys), on=semi, how="left_semi")
            cond = reduce(
                lambda a, b: a & b,
                [batch[k].eqNullSafe(F.col(f"__k_{k}")) for k in keys],
            )
            batch = (
                batch.join(F.broadcast(cur), on=cond, how="left")
                .filter(F.col("__cur_ord").isNull() | (F.col(order_col) >= F.col("__cur_ord")))
                .drop("__cur_ord", *[f"__k_{k}" for k in keys])
            )
        merged = merge_upsert(
            tgt,
            batch,
            keys,
            dedupe_updates=order_col is not None,
            order_col=order_col,
        )
        warehouse.overwrite(merged, table)

    _run_foreach_batch(df, checkpoint, _merge)


def run_available_now(
    df: DataFrame,
    checkpoint: str,
    out_path: str | None = None,
    table_name: str | None = None,
    output_mode: str = "append",
) -> None:
    """Run a streaming DataFrame to completion over all currently
    available input (the cron-batch equivalence), then stop.

    ``out_path`` → parquet sink (append); ``table_name`` → in-memory
    sink (tests / interactive).
    """
    writer = (
        df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    if out_path is not None:
        q = writer.format("parquet").option("path", out_path).start()
    else:
        q = writer.format("memory").queryName(table_name or "stream_out").start()
    q.awaitTermination()


def stream_scd2(
    df: DataFrame,
    warehouse,
    table: str,
    key: list[str],
    tracked: list[str],
    snapshot_ts_col: str,
    checkpoint: str,
    run_ts_col: str | None = None,
) -> None:
    """Streaming SCD2 dimension maintenance via ``foreachBatch`` — the
    continuous twin of the reference's hourly SCD2 dbt run: each
    micro-batch reduces to one snapshot row per key (latest by
    ``snapshot_ts_col``), applies one ``scd2_apply`` run to the stored
    table and installs the result the way the retail DAG's ``mart_scd``
    does: one ``Warehouse.overwrite`` partitioned by ``is_current`` (the
    target dimension is never shuffled: scd2_apply streams it past the
    broadcast snapshot).

    The injected run timestamp is the batch's max ``snapshot_ts_col``
    (or ``run_ts_col`` if given) — deterministic from the data, never
    wall clock, so a checkpoint replay of the same batch applies an
    IDENTICAL run: change detection then sees no differences and the
    dimension is unchanged. A crash before or after the table swap
    leaves the old or the new table; the replay converges on both.
    """
    from pyspark.sql import Window

    from lion_parcel_etl_spark.operators.scd2 import scd2_apply

    order_col = run_ts_col or snapshot_ts_col

    def _batch(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        if batch.isEmpty():
            return
        w = Window.partitionBy(*key).orderBy(F.col(order_col).desc())
        snap = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        max_ord = batch.agg(F.max(order_col)).first()[0]
        if max_ord is None:
            # every row's order column is NULL: no usable snapshot
            # ordering exists, the row_number dedupe would pick
            # arbitrary rows, and str(None) would stamp the literal
            # string 'None' into the validity column — refuse loudly
            raise ValueError(
                f"stream_scd2: micro-batch has all-NULL {order_col!r}; "
                "cannot order snapshot rows or derive run_ts"
            )
        target = warehouse.read(spark, table) if warehouse.exists(table) else None
        out = scd2_apply(target, snap, key, tracked, snapshot_ts_col, str(max_ord))
        warehouse.overwrite(out, table, partition_by=["is_current"])

    _run_foreach_batch(df, checkpoint, _batch)
