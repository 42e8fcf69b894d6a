"""SCD Type 2 materializer (reference's retail_transactions_scd model).

Re-expresses (not ports) the dbt SCD2 model at reference
``dbt/models/marts/retail_transactions_scd.sql``:

- change detection: snapshot ⟕ previous-current on key, any tracked
  column differing under null-safe inequality (``IS DISTINCT FROM``,
  :65-68) → UPDATE; missing in previous → INSERT (J2/F4);
- expiry: previous-current ⨝ UPDATE-changes → ``valid_to`` = the new
  version's snapshot time, ``is_current`` = false (J3, :81-101);
- carry: unchanged current rows AND rows absent from the snapshot are
  retained as-is (anti-join, J4, :125-142);
- history: non-current rows pass through untouched (:146-164);
- new versions: INSERT+UPDATE changes become current rows with
  ``valid_from`` = snapshot time, ``valid_to`` = the 9999-12-31
  sentinel (F16), first-seen ``dw_inserted_at`` carried forward
  (:104-121);
- result: 4-way ``unionByName`` (U1, :123-201);
- first run: full-refresh branch (:203-219).

Scale design (100 TB target): the snapshot of an incremental run is
small next to the accumulated history, so the snapshot side of every
join is broadcast — the target is never shuffled. The caller stores the
full result with one ``Warehouse.overwrite`` partitioned by
``is_current`` (``pipelines/dags.py`` ``mart_scd``, the streaming twin
``stream_scd2``): each run rewrites the whole table, history included.
An append-only history layout was measured on the retail DAG and was
slower at its history depth (SCALE.md §Incremental materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lion_parcel_etl_spark.schemas import SCD_SENTINEL

SCD_META_COLS = ["valid_from", "valid_to", "is_current", "dw_inserted_at", "dw_updated_at"]


def scd2_apply(
    target: DataFrame | None,
    snapshot: DataFrame,
    key: list[str],
    tracked: list[str],
    snapshot_ts_col: str,
    run_ts: str,
    sentinel: str = SCD_SENTINEL,
    broadcast_snapshot: bool = True,
) -> DataFrame:
    """Apply one SCD2 run; returns the full new state of the dimension.

    ``snapshot`` carries the key, all attribute columns (including the
    ``tracked`` change-detection set) and ``snapshot_ts_col``.
    ``run_ts`` is the injected deterministic run timestamp replacing the
    reference's ``current_timestamp`` (SURVEY.md §7 hard part 6).

    A NULL business-key value is treated as a real key (all key joins
    are null-safe), so a null-key snapshot row updates/expires its
    predecessor like any other instead of accumulating a new INSERT
    every run. Snapshot columns may not collide with the SCD meta
    columns — validated up front rather than failing later with an
    ambiguous-reference or duplicate-parquet-column error.
    """
    clash = [c for c in snapshot.columns if c in SCD_META_COLS]
    if clash:
        raise ValueError(
            f"snapshot columns {clash!r} collide with SCD2 meta columns "
            f"{SCD_META_COLS}; rename them before applying"
        )
    attrs = list(snapshot.columns)
    run_ts_c = F.to_timestamp(F.lit(run_ts))
    sentinel_c = F.to_timestamp(F.lit(sentinel))

    def as_version(df: DataFrame, dw_inserted) -> DataFrame:
        return df.select(
            *attrs,
            F.col(snapshot_ts_col).alias("valid_from"),
            sentinel_c.alias("valid_to"),
            F.lit(True).alias("is_current"),
            dw_inserted.alias("dw_inserted_at"),
            run_ts_c.alias("dw_updated_at"),
        )

    if target is None:
        # Full refresh (reference :203-219): every snapshot row is the
        # open current version.
        return as_version(snapshot, run_ts_c)

    prev = target.filter(F.col("is_current"))
    hist = target.filter(~F.col("is_current"))

    def key_cond(la: str, ra: str):
        # null-safe: a NULL key value matches its stored predecessor
        cond = None
        for k in key:
            eq = F.col(f"{la}.{k}").eqNullSafe(F.col(f"{ra}.{k}"))
            cond = eq if cond is None else cond & eq
        return cond

    s = snapshot.alias("s")
    if broadcast_snapshot:
        # Spark cannot broadcast the PRESERVED (left) side of a left-outer
        # join — a hint there is silently dropped and the planner falls
        # back to shuffling BOTH sides (at 100 TB: the full current
        # dimension). Instead: semi-prune prev down to the snapshot's keys
        # (broadcast the tiny key set → prev streams, never shuffles),
        # then broadcast the pruned side as the BUILD of the left join.
        # |pruned prev| ≤ |snapshot|, so it is broadcastable whenever the
        # snapshot itself is. No distinct() on the key set: left-semi
        # semantics ignore build-side duplicates, and the distinct's
        # hash-aggregate would be the only shuffle in the whole plan.
        key_set = F.broadcast(snapshot.select(*key).alias("k"))
        pruned = prev.alias("pv").join(key_set, key_cond("pv", "k"), "left_semi")
        p = F.broadcast(pruned.withColumn("__in_prev", F.lit(True))).alias("p")
    else:
        p = prev.withColumn("__in_prev", F.lit(True)).alias("p")

    changed = None
    for c in tracked:
        neq = ~F.col(f"s.{c}").eqNullSafe(F.col(f"p.{c}"))
        changed = neq if changed is None else (changed | neq)

    # presence via the literal marker, NOT `p.key IS NULL`: with
    # null-safe matching a NULL key is a real, matchable key value
    chg = s.join(p, key_cond("s", "p"), "left").select(
        *[F.col(f"s.{c}").alias(c) for c in attrs],
        F.col("p.dw_inserted_at").alias("__prev_inserted"),
        F.when(F.col("p.__in_prev").isNull(), F.lit("INSERT"))
        .when(changed, F.lit("UPDATE"))
        .otherwise(F.lit("NOCHANGE"))
        .alias("change_type"),
    )

    upd = chg.filter(F.col("change_type") == "UPDATE").select(
        *key, F.col(snapshot_ts_col).alias("__new_ts")
    )
    upd_b = F.broadcast(upd) if broadcast_snapshot else upd

    expired = (
        prev.alias("pv")
        .join(upd_b.alias("u"), key_cond("pv", "u"), "inner")
        .select(
            *[F.col(f"pv.{c}").alias(c) for c in attrs],
            F.col("pv.valid_from").alias("valid_from"),
            F.col("u.__new_ts").alias("valid_to"),
            F.lit(False).alias("is_current"),
            F.col("pv.dw_inserted_at").alias("dw_inserted_at"),
            run_ts_c.alias("dw_updated_at"),
        )
    )
    unchanged = prev.alias("pv").join(
        upd_b.select(*key).alias("u"), key_cond("pv", "u"), "left_anti"
    )
    new_rows = as_version(
        chg.filter(F.col("change_type").isin("INSERT", "UPDATE")),
        F.coalesce(F.col("__prev_inserted"), run_ts_c),
    )
    return (
        unchanged.unionByName(hist)
        .unionByName(expired.select(*unchanged.columns))
        .unionByName(new_rows.select(*unchanged.columns))
    )

