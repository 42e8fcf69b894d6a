"""SCD Type 2 materializer (reference's retail_transactions_scd model).

Re-expresses (not ports) the dbt SCD2 model at reference
``dbt/models/marts/retail_transactions_scd.sql``. Its three joins and
four-way union become one left join of the stored table against the
snapshot plus one anti-join for the inserts:

- probe: stored rows ⟕ snapshot on key AND stored row current; a
  tracked column differing under null-safe inequality (``IS DISTINCT
  FROM``, :65-68) is a change (J2/F4);
- carry: history rows (:146-164), unchanged current rows and rows
  absent from the snapshot (J4, :125-142) yield themselves as-is;
- a changed row yields its expired copy (``valid_to`` = the new
  snapshot time, ``is_current`` = false; J3, :81-101) and the new
  version (``valid_to`` = the 9999-12-31 sentinel, F16; first-seen
  ``dw_inserted_at`` carried forward, :104-121) from one projection;
- inserts: snapshot keys with no current row (J2) become new versions;
- result: carried ∪ inserts (U1, :123-201);
- first run: full-refresh branch (:203-219).

The run clock is a snapshot column, not a literal: Catalyst folds a
literal into the generated code, so each new clock would compile new
classes.

Scale design (100 TB target): the snapshot of an incremental run is
small next to the accumulated history, so it is broadcast: the stored
table streams, is scanned twice (probe, current keys), never shuffled.
The caller stores the full result with one ``Warehouse.overwrite``
partitioned by ``is_current`` (``pipelines/dags.py`` ``mart_scd``, the
streaming twin ``stream_scd2``): each run rewrites the whole table,
history included. An append-only history layout was measured on the
retail DAG and was slower at its history depth (SCALE.md §Incremental
materialization).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from lion_parcel_etl_spark.schemas import SCD_SENTINEL

SCD_META_COLS = ["valid_from", "valid_to", "is_current", "dw_inserted_at", "dw_updated_at"]


def scd2_apply(
    target: DataFrame | None,
    snapshot: DataFrame,
    key: list[str],
    tracked: list[str],
    snapshot_ts_col: str,
    run_ts_col: str,
) -> DataFrame:
    """Apply one SCD2 run; returns the full new state of the dimension.

    ``snapshot`` carries the key, all attribute columns (including the
    ``tracked`` change-detection set), ``snapshot_ts_col`` and the run
    clock ``run_ts_col``: a timestamp column, the reference's
    ``current_timestamp`` (SURVEY.md §7 hard part 6), that stamps
    ``dw_inserted_at``/``dw_updated_at`` and is not stored itself.

    A NULL business-key value is treated as a real key (all key joins
    are null-safe), so a null-key snapshot row updates/expires its
    predecessor like any other instead of accumulating a new INSERT
    every run. Snapshot columns may not collide with the SCD meta
    columns, and the clock must be a column of its own: both checked
    on the plan's schema up front (no Spark job) rather than failing
    later with an ambiguous-reference or duplicate-parquet-column error.
    """
    clash = [c for c in snapshot.columns if c in SCD_META_COLS]
    if clash:
        raise ValueError(
            f"snapshot columns {clash!r} collide with SCD2 meta columns "
            f"{SCD_META_COLS}; rename them before applying"
        )
    clock = next((f.dataType for f in snapshot.schema if f.name == run_ts_col), None)
    if not isinstance(clock, TimestampType) or run_ts_col in [*key, *tracked, snapshot_ts_col]:
        raise ValueError(
            f"run_ts_col {run_ts_col!r} must be a timestamp column of the snapshot "
            f"(found {clock}) and not a key, tracked or snapshot-time column"
        )
    attrs = [c for c in snapshot.columns if c != run_ts_col]
    sentinel_c = F.to_timestamp(F.lit(SCD_SENTINEL))

    def as_version(df: DataFrame) -> DataFrame:
        return df.select(
            *attrs,
            F.col(snapshot_ts_col).alias("valid_from"),
            sentinel_c.alias("valid_to"),
            F.lit(True).alias("is_current"),
            F.col(run_ts_col).alias("dw_inserted_at"),
            F.col(run_ts_col).alias("dw_updated_at"),
        )

    if target is None:
        # Full refresh (reference :203-219): every snapshot row is the
        # open current version.
        return as_version(snapshot)

    def key_cond(la: str, ra: str):
        # null-safe: a NULL key value matches its stored predecessor
        cond = None
        for k in key:
            eq = F.col(f"{la}.{k}").eqNullSafe(F.col(f"{ra}.{k}"))
            cond = eq if cond is None else cond & eq
        return cond

    # Every stored row streams past the broadcast snapshot; only current
    # rows match. Presence via the marker, NOT `s.key IS NULL`: with
    # null-safe matching a NULL key is a real, matchable key value.
    s = F.broadcast(snapshot.withColumn("__in_snap", F.lit(True))).alias("s")
    probe = target.alias("t").join(s, key_cond("t", "s") & F.col("t.is_current"), "left")
    changed = F.col("s.__in_snap").isNotNull() & reduce(
        lambda a, b: a | b,
        [~F.col(f"s.{c}").eqNullSafe(F.col(f"t.{c}")) for c in tracked],
    )
    new_ts = F.col(f"s.{snapshot_ts_col}")
    run = F.col(f"s.{run_ts_col}")
    # one ordered column list builds both structs, so their field order
    # is the target's whatever order the snapshot carries its columns in
    cols = target.columns
    expire = {"valid_to": new_ts, "is_current": F.lit(False), "dw_updated_at": run}
    version = {
        "valid_from": new_ts,
        "valid_to": sentinel_c,
        "is_current": F.lit(True),
        "dw_inserted_at": F.coalesce(F.col("t.dw_inserted_at"), run),
        "dw_updated_at": run,
    }

    def kept(c: str):
        if c not in expire:
            return F.col(f"t.{c}")
        return F.when(changed, expire[c]).otherwise(F.col(f"t.{c}"))

    old = F.struct(*[kept(c).alias(c) for c in cols])
    new = F.when(changed, F.struct(*[version.get(c, F.col(f"s.{c}")).alias(c) for c in cols]))
    # a stored row yields itself, or its expired copy plus the new version
    carried = probe.select(F.inline(F.filter(F.array(old, new), lambda x: x.isNotNull())))

    # Inserts: semi-prune the current keys to the snapshot's (broadcast
    # key set, the target streams), then anti-join the snapshot against
    # them. No distinct(): semi/anti joins ignore build-side duplicates,
    # and its hash aggregate would be a shuffle.
    key_set = F.broadcast(snapshot.select(*key).alias("k"))
    cur_keys = (
        target.filter(F.col("is_current")).select(*key).alias("pv")
        .join(key_set, key_cond("pv", "k"), "left_semi")
    )
    cur = F.broadcast(cur_keys).alias("c")
    inserts = as_version(snapshot.alias("s").join(cur, key_cond("s", "c"), "left_anti"))
    return carried.unionByName(inserts.select(*cols))
