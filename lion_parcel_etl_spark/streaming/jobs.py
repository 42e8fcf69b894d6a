"""Structured Streaming jobs.

The reference is batch-only (hourly Airflow cron, SURVEY.md §2.10):
``schedule_interval="0 * * * *"`` with ``max_active_runs=1`` and
``catchup=False`` (reference ``dags/retail_hourly_etl.py:22-23``). The
streaming equivalents here subsume that model — ``Trigger.AvailableNow``
is exactly "process everything that's arrived, then stop", i.e. the
cron micro-batch, but with checkpointed exactly-once file tracking
instead of truncate-reload.

Three surfaces:

- ``stream_metrics_detail`` — the bonus JSON ingest as a file stream:
  same plan as the batch pipeline (shared ``detail_from_docs``), new
  files picked up incrementally per micro-batch.
- ``stream_hourly_counts`` — event-time tumbling-window aggregate with
  a watermark for late data; the batch query ``tumbling_window`` in
  plans/queries.py is the oracle-checked twin with identical
  ``F.window`` semantics.
- ``stream_running_user_totals`` — custom stateful operator via
  ``applyInPandasWithState``: running per-user event count / value sum
  carried across micro-batches in explicit group state.

Scale notes: file-stream listing cost is per-directory — at real scale
point the source at a partitioned landing area and set
``maxFilesPerTrigger`` to bound micro-batch size; stateful operators
shuffle by key once per batch and keep state in the state store (RocksDB
provider on a real cluster).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from lion_parcel_etl_spark.pipelines.bonus import detail_from_docs, with_message
from lion_parcel_etl_spark.sources.metrics_json import read_metrics_docs

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


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


def stream_hourly_counts(
    spark: SparkSession,
    events_path: str,
    watermark: str = "1 hour",
    window: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event_type over a
    parquet file stream. Late rows beyond ``watermark`` are dropped and
    their windows finalized — the knob that bounds state at scale."""
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_path)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("value_sum"),
        )
        .select(F.col("w.start").alias("bucket"), "event_type", "n", "value_sum")
    )


_TOTALS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
    ]
)
_TOTALS_STATE = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
    ]
)


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].fillna(0.0).sum())
    state.update((n, s))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "value_sum": [s]})


def stream_running_user_totals(spark: SparkSession, events_path: str) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    running per-user totals carried across micro-batches. The state rows
    are tiny fixed-width tuples, so state-store size is O(distinct
    users), not O(events)."""
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_path)
    return (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=_TOTALS_OUT,
            stateStructType=_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup_events(
    spark: SparkSession,
    events_path: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on ``event_id`` with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    event-time watermark passes it, so state is O(keys per watermark
    horizon), not O(all keys ever) — the streaming twin of the batch
    ``dedup_exact`` operator, and the standard at-least-once →
    effectively-once repair stage in front of an append sink.
    """
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_path)
    return ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


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


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_sample_mix(
    spark: SparkSession,
    docs_path: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    split_weights: dict[str, float] | None = None,
) -> DataFrame:
    """Streaming corpus mixing + split assignment — the ingest-time
    form of the curation sampler: every arriving document gets its
    per-source keep/drop coin and its train/val/test label from the
    SAME md5(id) expressions the batch operators use
    (operators/sampling.py), so the stream needs NO state, any
    trigger/sink works, and a checkpoint replay or a later batch
    backfill over the same files reproduces byte-identical decisions
    — the property a per-microbatch ``randomSplit`` can never give
    (its coin differs per run, so replays disagree with history).
    Stateless projections also mean this composes with any watermark
    or downstream stateful stage."""
    from lion_parcel_etl_spark.operators.sampling import hash_split, rate_sample_by_group

    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(docs_path)
    kept = rate_sample_by_group(
        docs, "source", rates, "doc_id", default_rate=default_rate
    )
    return hash_split(
        kept, "doc_id", split_weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "source", "split")


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


def stream_near_dup_pairs(
    df: DataFrame,
    warehouse,
    sig_table: str,
    pairs_table: str,
    id_col: str,
    text_col: str,
    checkpoint: str,
    threshold: float = 0.5,
) -> None:
    """Continuous near-dup detection: each micro-batch runs the
    INCREMENTAL MinHash path against the accreted signature store
    (operators/dedup.py minhash_near_dup_incremental — batch bands
    broadcast, store streamed once, old x old never recomputed), then
    appends the surviving pairs to ``pairs_table`` and the batch's
    signatures to ``sig_table``. The first batch self-joins (no store
    yet). Per-batch cost is O(|store| scan + |batch|), which is what
    makes corpus-scale dedup sustainable under continuous ingestion.

    Restart safety: both appends go through ``Warehouse.append_batch``
    keyed on the micro-batch id — a checkpoint replay rewrites the same
    per-batch partition directories instead of duplicating rows, so the
    store and pair log are exactly-once up to the atomicity of a
    directory swap. The store read excludes the CURRENT batch id, so a
    replayed batch doesn't match against its own half-written
    signatures.
    """
    from lion_parcel_etl_spark.operators.dedup import (
        minhash_near_dup,
        minhash_near_dup_incremental,
        minhash_signatures,
    )

    def _batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch.isEmpty():
            return
        # tracked_pins: the dedup operators pin() signature tables
        # (persist + count). One-shot in batch use, but HERE the
        # closure runs once per micro-batch of a long-running stream —
        # without the tracker every batch leaks one permanently-cached
        # table into executor storage (same discipline as
        # stream_snapshot_diff's persist/finally-unpersist).
        from lion_parcel_etl_spark.operators.dedup import tracked_pins

        with tracked_pins():
            if warehouse.exists(sig_table):
                store = warehouse.read(spark, sig_table).filter(
                    F.col("__batch_id") != batch_id
                ).select("doc", "sig", "shingles")
                pairs = minhash_near_dup_incremental(
                    store, batch, id_col, text_col, threshold=threshold
                )
            else:
                pairs = minhash_near_dup(batch, id_col, text_col, threshold=threshold)
            warehouse.append_batch(pairs, pairs_table, batch_id)
            warehouse.append_batch(
                minhash_signatures(batch, id_col, text_col), sig_table, batch_id
            )

    _run_foreach_batch(df, checkpoint, _batch)


def stream_session_windows(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
    watermark: str = "2 days",
) -> DataFrame:
    """Native streaming session windows (``F.session_window``): per-user
    sessions close after ``gap`` of event-time silence; the watermark
    bounds how long an open session can wait for stragglers (state is
    O(open sessions), finalized windows are emitted and dropped). The
    batch twin is plans/queries.py q_sessionize (lag-based gap marking,
    oracle-checked): per-user session COUNTS are equal for any input
    whose late data respects the watermark — asserted in
    tests/test_streaming.py.

    Boundary note: ``session_window`` is end-EXCLUSIVE — an event at
    exactly ``last_event + gap`` starts a NEW session, i.e. the batch
    equivalent marks a new session on ``gap_seconds >= G`` (the
    registered ``sessionize`` query uses the strict ``> G``, so the two
    differ by exactly the boundary-hit events).
    """
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_path)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


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


def stream_rollup_into(
    df: DataFrame,
    warehouse,
    table: str,
    keys: list[str],
    metrics: dict,
    checkpoint: str,
) -> None:
    """Continuously-maintained aggregate rollup (the streaming twin of
    operators/rollup.py and of the reference's incremental dbt models):
    each micro-batch partial-aggregates into mergeable per-key states
    (sum/cnt/min/max in exact cents) and lands them in its own
    ``__batch_id`` partition via ``Warehouse.append_batch``.

    Exactly-once by layout, not by locking: a checkpoint replay of
    batch N overwrites partition ``__batch_id=N`` instead of adding to
    it, so additive states can never double-count. The stored table is
    a LOG of per-batch states; :func:`read_rollup` merges it at read
    time (states are commutative monoids — merge order is irrelevant).
    At scale, compact old batches with ``rollup_merge`` +
    ``append_batch(..., "compacted-<hi>")`` during quiet hours; per-run
    streaming cost stays O(|batch|), never O(|history|).
    """
    from lion_parcel_etl_spark.operators.rollup import rollup_state

    def _batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        warehouse.append_batch(rollup_state(batch, keys, metrics), table, batch_id)

    _run_foreach_batch(df, checkpoint, _batch)


def read_rollup(spark: SparkSession, warehouse, table: str, keys: list[str]) -> DataFrame:
    """Current rollup value: merge every stored per-batch state and
    derive finals. One co-partitioned shuffle over state rows (≤
    batches × keys), independent of how much raw history produced
    them."""
    from lion_parcel_etl_spark.operators.rollup import rollup_finalize, state_aggs

    state = warehouse.read(spark, table).drop("__batch_id")
    cols = [c for c in state.columns if c not in keys]
    return rollup_finalize(state.groupBy(*keys).agg(*state_aggs(cols)), keys)


def stream_interval_join(
    spark: SparkSession,
    events_path: str,
    first_type: str = "click",
    then_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM interval join: pair each ``first_type`` event with
    the same user's ``then_type`` events that follow within ``within``
    — the streaming form of the funnel/conversion join
    (q_funnel_conversion is the batch twin of this shape).

    Both sides carry a watermark and the join condition bounds the
    event-time gap, which is exactly what lets Spark expire buffered
    rows: state per side is limited to the watermark horizon instead
    of growing with the stream. The equality key (user_id) keeps it a
    hash join; the time-range predicate is the residual."""
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_path)
    first = (
        ev.filter(F.col("event_type") == first_type)
        .select(
            F.col("user_id").alias("f_user"),
            F.col("event_id").alias("first_id"),
            F.col("ts").alias("first_ts"),
        )
        .withWatermark("first_ts", watermark)
    )
    then = (
        ev.filter(F.col("event_type") == then_type)
        .select(
            F.col("user_id").alias("t_user"),
            F.col("event_id").alias("then_id"),
            F.col("ts").alias("then_ts"),
            F.col("value").alias("then_value"),
        )
        .withWatermark("then_ts", watermark)
    )
    cond = (
        (F.col("f_user") == F.col("t_user"))
        & (F.col("then_ts") > F.col("first_ts"))
        & (F.col("then_ts") <= F.col("first_ts") + F.expr(f"INTERVAL {within}"))
    )
    return first.join(then, cond).select(
        F.col("f_user").alias("user_id"),
        "first_id",
        "first_ts",
        "then_id",
        "then_ts",
        "then_value",
    )


def stream_snapshot_diff(
    df: DataFrame,
    warehouse,
    table: str,
    keys: list[str],
    checkpoint: str,
    changelog_table: str | None = None,
) -> None:
    """Continuous CDC extraction from a snapshot stream: each
    micro-batch carries a FULL new snapshot of a keyed table; the
    batch is diffed against the stored current version
    (operators/diff.table_diff), the INSERT/UPDATE/DELETE rows land in
    ``<table>_changelog`` under the batch's own ``__batch_id``
    partition, and the snapshot atomically replaces the current table.

    Replay safety mirrors stream_rollup_into: a checkpoint-replayed
    batch overwrites ITS OWN changelog partition instead of appending
    a duplicate, and re-overwriting the current table with the same
    snapshot is idempotent — so the changelog is exactly-once by
    layout, with no locks. The one replay subtlety: a batch replayed
    AFTER it fully completed re-diffs against a current table that
    already equals its snapshot, producing an EMPTY diff — which must
    NOT clobber the batch's already-written changelog partition. An
    empty diff therefore writes nothing (semantically equivalent: an
    absent partition means "no changes in this batch"), making both
    replay points — before and after the table swap — land on the same
    final state. The diff is one full-outer join per batch (both sides
    keyed); the changelog grows ∝ churn, never ∝ |table|.

    An EMPTY micro-batch is treated as "no snapshot arrived", not as
    "the table was truncated": with a file source, a restart or an
    idle trigger can deliver zero rows, which is indistinguishable
    from a genuinely empty snapshot — emitting table-wide DELETEs on
    that signal would be catastrophic. Represent upstream truncation
    explicitly (tombstone rows, or a batch-mode table_diff run).
    """
    from lion_parcel_etl_spark.operators.diff import table_diff

    log = changelog_table or f"{table}_changelog"

    def _batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch.isEmpty():
            return
        if warehouse.exists(table):
            old = warehouse.read(spark, table).select(*batch.columns)
            changes = table_diff(old, batch, keys)
        else:
            changes = table_diff(batch.limit(0), batch, keys)
        changes = changes.persist()
        try:
            if not changes.isEmpty():
                warehouse.append_batch(changes, log, batch_id)
            warehouse.overwrite(batch, table)
        finally:
            changes.unpersist()

    _run_foreach_batch(df, checkpoint, _batch)


def stream_heavy_hitters(
    df: DataFrame,
    warehouse,
    table: str,
    col: str,
    checkpoint: str,
    capacity: int = 2000,
) -> None:
    """Continuously-maintained heavy-hitter summary over a stream:
    each micro-batch's Misra-Gries partial summaries land in the
    batch's own ``__batch_id`` partition (replay overwrites itself —
    the same exactly-once-by-layout contract as stream_rollup_into),
    and :func:`read_heavy_hitters` merges the stored log at read time.

    Why this works: MG summaries are MERGEABLE (Agarwal et al.,
    "Mergeable Summaries", PODS 2012) — summing matching counters
    across summaries keeps every estimate an undercount, and the total
    undercount stays ≤ N/(capacity+1) summed over all batches and
    partitions. Per-batch cost is O(|batch|); stored state is
    O(batches × capacity) until compacted (sum-merge old partitions
    into one during quiet hours, exactly like rollup compaction)."""
    from lion_parcel_etl_spark.operators.sketches import _mg_partials

    def _batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        warehouse.append_batch(
            _mg_partials(batch.select(col), col, capacity), table, batch_id
        )

    _run_foreach_batch(df, checkpoint, _batch)


def read_heavy_hitters(
    spark: SparkSession, warehouse, table: str, col: str, k: int = 100
) -> DataFrame:
    """Merge the stored per-batch MG summaries into global top-k
    estimates (sum matching counters; order by estimate)."""
    log = warehouse.read(spark, table)
    return (
        log.groupBy(col)
        .agg(F.sum("est").alias("est"))
        .orderBy(F.col("est").desc(), F.col(col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Streaming token-budget admission
# ---------------------------------------------------------------------------

_BUDGET_STATE = T.StructType([T.StructField("cum_tokens", T.LongType())])
_BUDGET_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("cum_tokens", T.LongType()),
    ]
)


def _budget_admit(budgets: dict[str, int], default_budget: int, salt: str):
    import hashlib

    def admit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        budget = budgets.get(key[0], default_budget)
        (cum,) = state.get if state.exists else (0,)
        batch = pd.concat(list(pdfs), ignore_index=True)
        # within a micro-batch, admit in the SAME (md5(id), id) order
        # the batch operator uses, so a single-batch stream reproduces
        # token_budget_select exactly; across batches arrival order
        # governs (the honest streaming semantics — replaying the same
        # file sequence through the same checkpoint reproduces it).
        # The id stringifies via id_hash's rules: a NULL id hashes the
        # '__null__' sentinel, a non-null long formats with no '.0'
        # (nullable batches arrive as float64 — int() first).
        def _h(i):
            key_str = "__null__" if pd.isna(i) else str(int(i))
            return int(
                hashlib.md5(f"{key_str}{salt}".encode()).hexdigest()[:15], 16
            )

        batch["__h"] = batch["doc_id"].map(_h)
        batch = batch.sort_values(["__h", "doc_id"], kind="mergesort")
        # strict-prefix semantics, matching token_budget_select: the
        # running total accumulates EVERY doc seen (admitted or not),
        # and a doc is admitted iff its inclusive total fits — once
        # one doc overflows, the budget is spent. NULL n_tokens adds
        # nothing (the batch twin's window SUM skips it) but the row
        # still admits while the total fits. Vectorized cumsum — no
        # per-row Python in the hot applyInPandasWithState path.
        tok = batch["n_tokens"].fillna(0).astype("int64")
        cums = cum + tok.cumsum()
        admitted = batch[cums <= budget]
        state.update((int(cum + int(tok.sum())),))
        yield pd.DataFrame(
            {
                "doc_id": admitted["doc_id"].astype("Int64"),
                "source": key[0],
                "n_tokens": admitted["n_tokens"].astype("Int64"),
                "cum_tokens": cums[admitted.index].astype("int64"),
            }
        )

    return admit


def stream_token_budget(
    spark: SparkSession,
    docs_path: str,
    budgets: dict[str, int],
    default_budget: int,
    salt: str = "",
) -> DataFrame:
    """Streaming token-budget admission — the ingest-time twin of
    ``operators/sampling.token_budget_select``: per-source running
    token totals live in the state store (one long per source, O(1)
    per group), and an arriving document is admitted iff its
    INCLUSIVE total stays within the source budget (the
    boundary-crossing doc is dropped, never truncated).

    Token counts are computed JVM-side before grouping (the pandas
    hop carries (doc_id, source, n_tokens) only — never text). Within
    a micro-batch, documents admit in the same deterministic
    (md5(id), id) order the batch operator uses, so a stream that
    sees all input in ONE batch equals ``token_budget_select``
    row-for-row — tested — and a checkpointed replay of the same file
    sequence reproduces admissions exactly. Across batches, arrival
    order governs: budget remaining when a doc arrives decides, which
    is the semantics continuous ingest actually has."""
    from lion_parcel_etl_spark.operators.text import token_count

    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(docs_path)
    sized = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    return sized.groupBy("source").applyInPandasWithState(
        _budget_admit(budgets, default_budget, salt),
        outputStructType=_BUDGET_OUT,
        stateStructType=_BUDGET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_gopher_audit(spark: SparkSession, docs_path: str) -> DataFrame:
    """Continuously-maintained per-source quality audit — the
    streaming twin of the batch gopher_audit rollup: every arriving
    document is scored by the SAME zero-shuffle gopher_rules
    projection the batch path uses (identical verdicts, replayable),
    and per-source counters aggregate in update mode. State is one
    counter row per source (O(sources), not O(docs)); rates are
    derived in the same projection so the sink always holds current
    keep/fail rates. Because the rule battery is stateless and the
    rollup is an incremental sum, a batch backfill over the same
    files lands on identical numbers."""
    from lion_parcel_etl_spark.operators.text import gopher_rules

    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(docs_path)
    rules = gopher_rules(docs, carry_cols=["source"])
    counts = rules.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum((~F.col("r_word_count")).cast("long")).alias("n_fail_word_count"),
        F.sum((~F.col("r_word_len")).cast("long")).alias("n_fail_word_len"),
        F.sum((~F.col("r_stopwords")).cast("long")).alias("n_fail_stopwords"),
        F.sum((~F.col("r_repetition")).cast("long")).alias("n_fail_repetition"),
    )
    return counts.select(
        "source",
        "n_docs",
        F.round(F.col("n_keep") / F.col("n_docs").cast("double"), 6).alias(
            "keep_rate"
        ),
        "n_fail_word_count",
        "n_fail_word_len",
        "n_fail_stopwords",
        "n_fail_repetition",
    )


def stream_training_mix(
    spark: SparkSession,
    docs_path: str,
    budgets: dict[str, int],
    default_budget: int,
    salt: str = "",
) -> DataFrame:
    """Streaming curation front half — quality filter + token-budget
    admission at ingest time: every arriving document is scored by the
    stateless gopher_rules battery, rejects drop immediately (never
    reaching the state store), and survivors pass through the same
    per-source budget admission as :func:`stream_token_budget`. A
    one-micro-batch stream therefore equals the batch composition
    (gopher keep → token_budget_select) row-for-row — tested — and
    the split/pack stages that follow in q_training_mix_pipeline are
    stateless hash functions any downstream consumer can apply to
    this stream's output verbatim."""
    from lion_parcel_etl_spark.operators.text import gopher_rules

    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(docs_path)
    rules = gopher_rules(docs, carry_cols=["source"])
    kept = rules.filter(F.col("keep")).select(
        "doc_id", "source", F.col("n_words").alias("n_tokens")
    )
    return kept.groupBy("source").applyInPandasWithState(
        _budget_admit(budgets, default_budget, salt),
        outputStructType=_BUDGET_OUT,
        stateStructType=_BUDGET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dsir_filter(
    spark: SparkSession,
    docs_path: str,
    lr_values: list[float],
    min_mean_lr: float = 0.0,
) -> DataFrame:
    """Streaming DSIR admission — the continuous-ingest twin of the
    batch dsir_weights → threshold selection: each arriving document
    is scored against a PRE-FITTED log-ratio model (operators/
    selection.py dsir_score — the fitted table rides the plan as one
    array literal, so scoring is a stateless zero-shuffle per-row
    fold; no join, no state store, no watermark needed) and admitted
    when its length-normalized weight logw/n_feats clears
    ``min_mean_lr``. Mean rather than raw logw: an unbounded stream
    mixes lengths, and raw log-weights scale with document length, so
    a fixed raw threshold would admit long off-target docs over short
    on-target ones. Docs with no features score NULL and are dropped
    — same fate as their absence from the batch weights table. A
    one-micro-batch stream equals the batch dsir_score + filter
    row-for-row (tested); refresh the fit by restarting with new
    ``lr_values`` — the model is a deliberate plan constant, the
    streaming analogue of a broadcast dimension snapshot."""
    from lion_parcel_etl_spark.operators.selection import dsir_score

    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(docs_path)
    scored = dsir_score(docs, lr_values)
    return scored.filter(
        (F.col("logw") / F.col("n_feats").cast("double")) >= F.lit(min_mean_lr)
    )


def stream_span_dedup(
    df: DataFrame,
    warehouse,
    hash_table: str,
    clean_table: str,
    id_col: str,
    text_col: str,
    checkpoint: str,
    window: int = 16,
) -> None:
    """Ingest-time span-level dedup: each micro-batch of documents is
    rewritten against everything kept so far (operators/dedup.py
    remove_duplicate_spans_incremental — the chunk-hash store is
    streamed once through a broadcast batch-set probe, never re-hashed
    or self-joined), the cleaned documents land in ``clean_table`` and
    the batch's surviving chunk hashes accrete into ``hash_table``.
    The first batch dedups only within itself (no store yet).
    Per-batch cost is O(store scan + batch) — the continuous-ingest
    form of the CCNet/RefinedWeb passage-removal transform.

    Restart safety: both appends go through ``Warehouse.append_batch``
    keyed on the micro-batch id (atomic per-batch partition swap →
    replays rewrite, never duplicate), and the store read excludes the
    CURRENT batch id so a replayed batch can't collide with its own
    half-written hashes.
    """
    from lion_parcel_etl_spark.operators.dedup import (
        remove_duplicate_spans_incremental,
    )

    def _batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch.isEmpty():
            return
        if warehouse.exists(hash_table):
            store = warehouse.read(spark, hash_table).filter(
                F.col("__batch_id") != batch_id
            ).select("h")
        else:
            # first batch: same incremental path, empty store — the
            # probe finds nothing, so only within-batch dedup applies
            store = spark.createDataFrame([], "h string")
        clean, new_hashes = remove_duplicate_spans_incremental(
            store, batch, id_col, text_col, window=window
        )
        warehouse.append_batch(clean, clean_table, batch_id)
        warehouse.append_batch(new_hashes, hash_table, batch_id)

    _run_foreach_batch(df, checkpoint, _batch)


def stream_quality_filter(
    spark: SparkSession,
    docs_path: str,
    w_values: list[float],
    bias: float,
    threshold: float = 0.5,
) -> DataFrame:
    """Streaming learned-quality admission — the continuous-ingest twin
    of the batch quality_filter: each arriving document is scored by a
    PRE-FITTED logistic model (operators/classifier.py
    logreg_score_row — the weight vector rides the plan as one array
    literal, so scoring is a stateless zero-shuffle per-row fold; no
    join, no state store, no watermark) and admitted when p ≥
    threshold. Featureless docs score NULL and are dropped — same fate
    as their absence from the batch feature table. A one-micro-batch
    stream equals batch logreg_score + filter row-for-row (tested);
    refresh the model by restarting with new weights — the deliberate
    plan-constant pattern shared with stream_dsir_filter."""
    from lion_parcel_etl_spark.operators.classifier import logreg_score_row

    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(docs_path)
    scored = logreg_score_row(docs, w_values, bias)
    return scored.filter(F.col("p") >= F.lit(threshold))


def stream_kmv_sketch(
    df: DataFrame,
    warehouse,
    table: str,
    key_col: str,
    group_cols: list[str],
    checkpoint: str,
    k: int = 256,
) -> None:
    """Continuously-maintained KMV distinct sketches: each micro-batch
    sketches ITSELF (one bounded rank over the batch) and appends the
    per-group bottom-k arrays to the batch's own ``__batch_id``
    partition (the exactly-once-by-layout contract shared with
    stream_rollup_into); :func:`read_kmv` merges the stored log at
    read time. Why this works: KMV sketches are mergeable — the
    bottom-k of a union of bottom-k's IS the bottom-k of the union
    (Beyer et al. 2007), so per-batch state is O(groups × k) and the
    raw stream is never rescanned. Compact old partitions during
    quiet hours by re-bottom-k'ing them into one, exactly like rollup
    compaction."""
    from lion_parcel_etl_spark.operators.sketches import kmv_sketch

    def _batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        warehouse.append_batch(
            kmv_sketch(batch, key_col, group_cols, k=k), table, batch_id
        )

    _run_foreach_batch(df, checkpoint, _batch)


def read_kmv(
    spark: SparkSession,
    warehouse,
    table: str,
    group_cols: list[str],
    k: int = 256,
) -> DataFrame:
    """Merge the stored per-batch KMV sketches into per-group global
    sketches + distinct estimates. collect_list is bounded by
    batches×k per group (compaction keeps 'batches' small); the
    flatten→distinct→sort→slice is the n-way :func:`kmv_merge`."""
    from lion_parcel_etl_spark.operators.sketches import kmv_estimate

    log = warehouse.read(spark, table)
    merged = log.groupBy(*group_cols).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmv")))),
            1,
            k,
        ).alias("kmv")
    )
    return merged.select(
        *group_cols,
        "kmv",
        F.round(kmv_estimate(F.col("kmv"), k), 6).alias("distinct_est"),
    )


def stream_psi_histograms(
    df: DataFrame,
    warehouse,
    table: str,
    value_col: str,
    group_col: str,
    lo: float,
    hi: float,
    checkpoint: str,
    n_bins: int = 10,
) -> None:
    """Continuously-maintained drift histograms: each micro-batch's
    fixed-width (group, bin) counts land in the batch's own
    ``__batch_id`` partition (exactly-once-by-layout, the
    stream_rollup_into contract); :func:`read_psi` sums the stored log
    and computes the SAME PSI statistic as the batch operator.
    Histograms over fixed bins are trivially mergeable, so per-batch
    state is O(groups × bins) and the raw stream is never rescanned —
    the monitoring twin of the batch psi_drift."""
    from lion_parcel_etl_spark.operators.checks import psi_histogram

    def _batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        warehouse.append_batch(
            psi_histogram(batch, value_col, group_col, lo, hi, n_bins),
            table,
            batch_id,
        )

    _run_foreach_batch(df, checkpoint, _batch)


def read_psi(
    spark: SparkSession,
    warehouse,
    table: str,
    group_col: str,
    n_bins: int = 10,
    smooth: float = 0.5,
) -> DataFrame:
    """PSI per group from the stored histogram log — merge (sum
    matching counters) then the identical psi_from_histogram math.
    ``n_bins``/``smooth`` must match the writer's; a stored bin id
    beyond n_bins+1 proves the histogram was written with MORE bins
    than the reader assumes (its counts would inflate the totals while
    silently missing the dense grid, biasing PSI low), so the read
    fails loudly instead."""
    from lion_parcel_etl_spark.operators.checks import psi_from_histogram

    log = warehouse.read(spark, table)
    merged = log.groupBy("g", "bin").agg(F.sum("cnt").alias("cnt"))
    guard = F.assert_true(
        F.col("bin") <= F.lit(n_bins + 1),
        F.lit(
            "stored PSI histogram has bin ids beyond n_bins+1 — it was "
            "written with a different n_bins than read_psi was given"
        ),
    )
    merged = merged.filter(guard.isNull())
    return psi_from_histogram(merged, group_col, n_bins, smooth)


def stream_token_counts(
    df: DataFrame,
    warehouse,
    table: str,
    checkpoint: str,
    source_col: str = "source",
    text_col: str = "text",
) -> None:
    """Continuously-maintained text-drift counts: each micro-batch's
    (source, token) unigram counts land in the batch's own
    ``__batch_id`` partition (exactly-once-by-layout, the
    stream_rollup_into contract). Counts are a sum-monoid, so
    :func:`read_vocab_kl` merges the stored log by addition and
    computes the IDENTICAL vocab-KL statistic as the batch operator —
    the text-level monitoring twin of stream_psi_histograms (which
    watches numeric drift; this watches what the corpus is saying).
    Per-batch state is O(batch vocabulary); the raw stream is never
    rescanned."""
    from lion_parcel_etl_spark.operators.text import source_token_counts

    def _batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        warehouse.append_batch(
            source_token_counts(batch, source_col, text_col),
            table,
            batch_id,
        )

    _run_foreach_batch(df, checkpoint, _batch)


def read_vocab_kl(spark: SparkSession, warehouse, table: str) -> DataFrame:
    """Per-source KL(source ‖ corpus) from the stored count log —
    merge (sum matching counters), then the identical
    vocab_kl_from_counts math the batch query runs. Merged integer
    counts equal the full-corpus counts exactly, so batch equality is
    a theorem, not a tolerance (asserted in tests)."""
    from lion_parcel_etl_spark.operators.text import vocab_kl_from_counts

    log = warehouse.read(spark, table)
    merged = log.groupBy("source", "token").agg(F.sum("c_st").alias("c_st"))
    return vocab_kl_from_counts(merged)


def stream_daily_counts(
    df: DataFrame,
    warehouse,
    table: str,
    ts_col: str,
    group_col: str,
    checkpoint: str,
) -> None:
    """Continuously-maintained per-(group, day) event-volume counts:
    each micro-batch's partial counts land in the batch's own
    ``__batch_id`` partition (exactly-once-by-layout); counts are
    trivially mergeable by summing, so per-batch state is
    O(groups × days touched) and :func:`read_cusum` (or any other
    consumer of the volume series) never rescans the raw stream.
    Null-``ts_col`` rows are dropped — they have no day to count
    toward — so the batch twin of the statistic must apply the same
    filter (a raw groupBy over null-bearing events would grow an
    extra day=NULL row that shifts the self-baselined μ/σ)."""

    def _batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        part = (
            batch.filter(F.col(ts_col).isNotNull())
            .groupBy(
                F.col(group_col).alias("g"),
                F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        warehouse.append_batch(part, table, batch_id)

    _run_foreach_batch(df, checkpoint, _batch)


def read_cusum(
    spark: SparkSession,
    warehouse,
    table: str,
    group_col: str = "event_type",
    k_sigmas: float = 0.5,
    h_sigmas: float = 4.0,
) -> DataFrame:
    """CUSUM changepoint statistics over the stored daily-volume log —
    merge (sum matching counters), then the identical batch operator
    (operators/checks.cusum_changepoints) on the merged series. The
    retrospective self-baselined form recomputes μ/σ over the whole
    merged series at read time, so the statistic equals the batch
    answer over the full stream by construction (tested)."""
    from lion_parcel_etl_spark.operators.checks import cusum_changepoints

    log = warehouse.read(spark, table)
    merged = (
        log.groupBy("g", "day")
        .agg(F.sum("cnt").cast("double").alias("x"))
    )
    out = cusum_changepoints(merged, "x", "day", "g", k_sigmas, h_sigmas)
    return out.withColumnsRenamed({"g": group_col, "x": "n_events"})


def stream_score_histograms(
    df: DataFrame,
    warehouse,
    table: str,
    score_col: str,
    label_col: str,
    checkpoint: str,
) -> None:
    """Continuously-maintained classifier-AUC state: each micro-batch
    collapses to per-DISTINCT-SCORE (s, np_, nn_) label counts and
    appends them to the batch's own ``__batch_id`` partition
    (exactly-once-by-layout, the stream_rollup_into contract);
    :func:`read_auc` merges the stored log and computes the EXACT
    batch ROC-AUC of the full stream — score counts are trivially
    mergeable, and because scores are already 1e-6-rounded, the
    per-score table IS the lossless sufficient statistic for the
    Mann-Whitney rank sum (no binning approximation at all). State is
    O(distinct scores) ≤ 1e6+1 rows regardless of stream volume — the
    monitoring twin of the batch classifier_auc, for watching a
    deployed filter's discrimination drift without rescanning
    admitted history."""

    def _batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        part = (
            batch.filter(
                F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
            )
            .groupBy(F.col(score_col).alias("s"))
            .agg(
                F.sum(F.col(label_col).cast("long")).alias("np_"),
                F.sum(F.lit(1) - F.col(label_col).cast("long")).alias("nn_"),
            )
        )
        warehouse.append_batch(part, table, batch_id)

    _run_foreach_batch(df, checkpoint, _batch)


def read_auc(spark: SparkSession, warehouse, table: str) -> DataFrame:
    """(n_pos, n_neg, auc) from the stored per-batch score-count log —
    merge (sum matching score rows), then the identical rank-sum core
    the batch operator uses (operators/evaluation.py
    auc_from_score_counts), so the streamed statistic equals the batch
    answer over the full stream by construction (tested)."""
    from lion_parcel_etl_spark.operators.evaluation import (
        auc_from_score_counts,
    )

    log = warehouse.read(spark, table)
    merged = log.groupBy("s").agg(
        F.sum("np_").alias("np_"), F.sum("nn_").alias("nn_")
    )
    return auc_from_score_counts(merged)


def read_pr_auc(spark: SparkSession, warehouse, table: str) -> DataFrame:
    """(n_pos, n_neg, ap) average precision from the stored per-batch
    score-count log — the PR-curve twin of :func:`read_auc`, zero new
    streaming state: per-score counts are the sufficient statistic
    for the whole PR curve too (merge the log, then the identical
    step-interpolation core the batch operator uses —
    operators/evaluation.py ap_from_score_counts — so the streamed
    statistic equals the batch answer over the full stream, tested)."""
    from lion_parcel_etl_spark.operators.evaluation import (
        ap_from_score_counts,
    )

    log = warehouse.read(spark, table)
    merged = log.groupBy("s").agg(
        F.sum("np_").alias("np_"), F.sum("nn_").alias("nn_")
    )
    return ap_from_score_counts(merged)


def read_calibration(
    spark: SparkSession, warehouse, table: str, n_bins: int = 10
) -> DataFrame:
    """(bin, n, mean_p, frac_pos, gap) reliability-diagram rows from
    the SAME per-batch score-count log :func:`stream_score_histograms`
    maintains for AUC — zero new streaming state: the per-score
    (s, np_, nn_) table is a lossless sufficient statistic for
    calibration too, since every row of a score bin contributes its
    (already 1e-6-rounded) score and its 0/1 label, both of which the
    count log preserves exactly. Merge the log, then per bin:
    n = Σ(np_+nn_), mean_p = Σ s·(np_+nn_) / n (the exact row-mean —
    scores are constant within a count group), frac_pos = Σ np_ / n,
    gap = |mean_p − frac_pos| — the statistics batch calibration_bins
    (operators/evaluation.py) computes over raw rows. n and frac_pos
    are integer-exact; mean_p/gap involve real float sums whose
    summation ORDER differs between the row stream and the count
    table, so when the true value sits exactly on a 1e-6 rounding
    boundary the last digit can differ by one — agreement within one
    unit in the last rounded place is the contract
    (tests/test_streaming.py), unlike read_auc whose
    integers-and-halves arithmetic is bit-exact."""
    log = warehouse.read(spark, table)
    merged = log.groupBy("s").agg(
        F.sum("np_").alias("np_"), F.sum("nn_").alias("nn_")
    )
    b = F.least(
        F.floor(F.col("s") * n_bins).cast("long"), F.lit(n_bins - 1)
    )
    cnt = (F.col("np_") + F.col("nn_")).cast("double")
    return (
        merged.groupBy(b.alias("bin"))
        .agg(
            F.sum(F.col("np_") + F.col("nn_")).alias("n"),
            F.round(F.sum(F.col("s") * cnt) / F.sum(cnt), 6).alias("mean_p"),
            F.round(F.sum("np_") / F.sum(cnt), 6).alias("frac_pos"),
            F.round(
                F.abs(
                    F.sum(F.col("s") * cnt) / F.sum(cnt)
                    - F.sum("np_") / F.sum(cnt)
                ),
                6,
            ).alias("gap"),
        )
    )


def stream_market_basket(
    df: DataFrame,
    warehouse,
    table: str,
    checkpoint: str,
    order_col: str = "l_orderkey",
    part_col: str = "l_partkey",
) -> None:
    """Continuously-maintained market-basket state: each micro-batch
    lands its DISTINCT (o, p) basket fragment in its own
    ``__batch_id`` partition (the exactly-once-by-layout contract
    shared with stream_rollup_into); :func:`read_market_basket` runs
    the shared rule pipeline over the distinct-merged log.

    Why basket fragments and not additive pair-count states: pair
    counts are a commutative monoid ONLY if every order's lines arrive
    inside one micro-batch — a split order would silently lose its
    cross-batch pairs and over-count n_orders forever. The distinct
    (o, p) projection is lossless under ANY batch split (set union
    commutes, and the read-side distinct dedups both the same-batch
    and the cross-batch repeats), is already the rule pipeline's input
    shape, and is tiny next to the raw lines (two ids, deduped).
    Per-batch cost O(|batch|); the raw stream is never rescanned.
    Compact old partitions during quiet hours by distinct-merging them
    into one, exactly like rollup compaction — rule-mining cost then
    stays O(|basket table|), independent of batch count.
    Batch-agreement under an adversarial order-splitting ingest and
    crash-replay idempotence are pinned in tests/test_streaming.py."""

    def _batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        frag = batch.select(
            F.col(order_col).alias("o"), F.col(part_col).alias("p")
        ).distinct()
        warehouse.append_batch(frag, table, batch_id)

    _run_foreach_batch(df, checkpoint, _batch)


def read_market_basket(
    spark: SparkSession,
    warehouse,
    table: str,
    min_pairs: int,
    top: int,
) -> DataFrame:
    """Current association rules from the streamed basket log: the
    EXACT batch pipeline (operators/basket.basket_rules — shared code,
    so streaming and batch provably cannot drift) over the
    distinct-merged fragments. Equals q_market_basket run over all
    data ingested so far, whatever the batch boundaries were."""
    from lion_parcel_etl_spark.operators.basket import basket_rules

    # r09 optimization round: dedup + order-key partitioning + pin
    # moved inside basket_rules (shared with the batch query)
    b = warehouse.read(spark, table).select("o", "p")
    return basket_rules(b, min_pairs=min_pairs, top=top)


def read_holt_winters(
    spark: SparkSession,
    warehouse,
    table: str,
    group_col: str = "event_type",
) -> DataFrame:
    """Holt-Winters backtest over the streamed daily-volume log
    (stream_daily_counts): merge the per-batch counters by summing —
    daily counts are a commutative monoid, so the merged series equals
    the batch _daily_volumes over everything ingested so far, whatever
    the batch boundaries were — then run the IDENTICAL batch operator
    (operators/temporal.holt_winters_backtest, shared code). Extends
    the lossless-sufficient-statistic twin family (cusum, vocab_kl,
    market_basket) to forecasting: read cost is O(groups × days),
    never a raw-stream rescan, and the result provably equals
    q_holt_winters_eval over the same events (tested). The merged
    series is zero-filled over each group's day span by the SAME
    densify_daily the batch _daily_volumes uses (r08): a day with no
    ingested events is a real y=0 observation, and without the shared
    spine the twin would silently diverge from batch exactly when the
    stream goes quiet."""
    from lion_parcel_etl_spark.operators.temporal import (
        densify_daily,
        holt_winters_backtest,
    )

    log = warehouse.read(spark, table)
    merged = log.groupBy("g", "day").agg(F.sum("cnt").alias("y")).select(
        F.col("g").alias(group_col),
        F.unix_date(F.to_date("day")).alias("x"),
        "y",
    )
    return holt_winters_backtest(
        densify_daily(merged, series_col=group_col), series_col=group_col
    )


def stream_value_counts(
    df: DataFrame,
    warehouse,
    table: str,
    group_col: str,
    value_col: str,
    checkpoint: str,
) -> None:
    """Continuously-maintained per-(group, value) counts — the ECDF's
    sufficient statistic, and an additive monoid, so the merged log is
    lossless under ANY batch split (the stream_daily_counts shape with
    a value key instead of a day key). Per-batch state is
    O(groups × distinct values in the batch); exactly-once by
    ``__batch_id`` layout; compact by sum-merging old partitions.
    Consumers: :func:`read_ks_drift` (exact two-sample KS — equals the
    batch q_ks_drift over everything ingested, tested), and any other
    distribution statistic computable from counts."""

    def _batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        part = (
            batch.filter(
                F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
            )
            .groupBy(
                F.col(group_col).alias("g"), F.col(value_col).alias("v")
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        warehouse.append_batch(part, table, batch_id)

    _run_foreach_batch(df, checkpoint, _batch)


def read_ks_drift(spark: SparkSession, warehouse, table: str) -> DataFrame:
    """Exact two-sample KS drift from the streamed count log: sum-merge
    the per-batch (g, v) counters, then the IDENTICAL batch pipeline
    (operators/checks.ks_from_group_value_counts — shared code).
    Equals q_ks_drift over all ingested events, whatever the batch
    boundaries were; read cost is O(groups × distinct values), never a
    raw-stream rescan."""
    from lion_parcel_etl_spark.operators.checks import (
        ks_from_group_value_counts,
    )

    log = warehouse.read(spark, table)
    merged = log.groupBy("g", "v").agg(F.sum("c").alias("c"))
    return ks_from_group_value_counts(merged)


def read_ks_drift_binned(
    spark: SparkSession, warehouse, counts_table: str, sampled_table: str
) -> DataFrame:
    """Binned (production-scale) KS drift from TWO streamed count
    logs: the full per-(g, v) counts and the per-(g, v) counts of the
    md5-SAMPLED substream (both written by stream_value_counts — the
    sampled log is just the same job over a hash-filtered stream, so
    no new writer exists to drift). Both are additive monoids, and the
    quantile boundaries come from a frequency-weighted percentile over
    the merged sampled counts — counts are sufficient statistics for a
    percentile, so the boundaries equal the batch job's percentile
    over sampled ROWS exactly, whatever the batch boundaries were.
    Statistic pipeline SHARED with q_ks_drift_binned
    (operators/checks.ks_binned_from_counts); equals the batch query
    over everything ingested, tested."""
    from lion_parcel_etl_spark.operators.checks import (
        KS_BINS,
        ks_binned_from_counts,
    )

    merged = (
        warehouse.read(spark, counts_table)
        .groupBy("g", "v")
        .agg(F.sum("c").alias("c"))
    )
    sampled = (
        warehouse.read(spark, sampled_table)
        .groupBy("v")
        .agg(F.sum("c").alias("c"))
    )
    return ks_binned_from_counts(merged, sampled, KS_BINS)


def read_ks_agreement(
    spark: SparkSession, warehouse, counts_table: str, sampled_table: str
) -> DataFrame:
    """Exact-vs-binned KS agreement from the streamed logs (round 9,
    twin 29): both inputs already exist — the full (g, v) count log
    feeds the exact reader and, together with the md5-sampled log, the
    binned reader — so the agreement readout is ONE broadcast join of
    the two readers over |event types|-sized results. Readout SHARED
    with q_ks_agreement (operators/checks.ks_agreement_from); both
    constituent readers are lossless over their logs, so this equals
    the batch agreement query over everything ingested, whatever the
    batch boundaries were (tested)."""
    from lion_parcel_etl_spark.operators.checks import ks_agreement_from

    return ks_agreement_from(
        read_ks_drift(spark, warehouse, counts_table),
        read_ks_drift_binned(spark, warehouse, counts_table, sampled_table),
    )


def stream_digit_counts(
    df: DataFrame,
    warehouse,
    table: str,
    amount_col: str,
    checkpoint: str,
) -> None:
    """Continuously-maintained Benford first-digit counts: per batch,
    one 9-group aggregate over the exact-cents leading digit (the
    q_benford_audit extraction, shared spelling) lands in the batch's
    ``__batch_id`` partition. Digit counts are an additive monoid, so
    the merged log is lossless under any batch split; per-batch state
    is at most 9 rows."""

    def _batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        from lion_parcel_etl_spark.functions.columns import cents

        c = cents(F.col(amount_col))
        part = (
            batch.filter(c >= 1)
            .select(F.substring(c.cast("string"), 1, 1).cast("int").alias("digit"))
            .groupBy("digit")
            .agg(F.count(F.lit(1)).alias("n_obs"))
        )
        warehouse.append_batch(part, table, batch_id)

    _run_foreach_batch(df, checkpoint, _batch)


def read_benford_audit(spark: SparkSession, warehouse, table: str) -> DataFrame:
    """Benford conformance from the streamed digit-count log: sum-merge
    the (at most 9 × batches) counters, then the identical observed vs
    expected/chi-square readout as q_benford_audit — SHARED code
    (operators/checks.benford_from_digit_counts), so the two can't
    drift. Equals the batch audit over all ingested rows."""
    from lion_parcel_etl_spark.operators.checks import (
        benford_from_digit_counts,
    )

    log = warehouse.read(spark, table)
    obs = log.groupBy("digit").agg(F.sum("n_obs").alias("n_obs"))
    return benford_from_digit_counts(obs)


def stream_media_frames(
    df: DataFrame, warehouse, table: str, checkpoint: str
) -> None:
    """Streaming MEDIA ingest (round 9, twin 30 — the first multimodal
    twin): per micro-batch of (media_id, payload) rows, decode every
    GIF payload's frames in one Arrow pass and append the per-frame
    stat rows (media_id, frame_idx, n_vals, v_sum) to the log. The
    decode stage is operators/multimodal.gif_frame_stats — SHARED with
    the batch query q_gif_frames, so batch and stream cannot drift.
    Decode is deterministic and row-local (each output row depends on
    exactly one input payload), so the merged log is lossless under
    ANY batch split of the media table; exactly-once by ``__batch_id``
    layout — a crash replay overwrites its own partition instead of
    appending twice."""
    from lion_parcel_etl_spark.operators.multimodal import gif_frame_stats

    def _batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        warehouse.append_batch(gif_frame_stats(batch), table, batch_id)

    _run_foreach_batch(df, checkpoint, _batch)


def read_gif_frames(spark: SparkSession, warehouse, table: str) -> DataFrame:
    """Per-frame media stats from the streamed frame-stat log: the
    rows ARE the batch readout already (decode happened at ingest),
    so the read is a projection + the same rounded v_mean as
    q_gif_frames — no rescan of payload bytes, which at 100 TB is the
    entire point of decode-at-ingest. Equals the batch query over
    everything ingested, whatever the batch boundaries were."""
    log = warehouse.read(spark, table)
    return log.select(
        "media_id",
        "frame_idx",
        "n_vals",
        "v_sum",
        F.round(F.col("v_sum") / F.col("n_vals"), 6).alias("v_mean"),
    ).orderBy("media_id", "frame_idx")
