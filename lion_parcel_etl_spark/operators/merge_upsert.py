"""Incremental merge-upsert materializer (reference K6-K8).

Re-expresses dbt ``materialized='incremental'`` with a ``unique_key``
(reference ``dbt/models/marts/retail_transactions.sql:1-7``,
``retail_transactions_scd.sql:1-6``, ``lion_parcell_bonus_test.sql:1-5``)
as a pure DataFrame transformation:

    result = updates ∪ (target ⟕anti updates on keys)

i.e. update rows win, unmatched target rows are retained — the
delete+insert equivalence of Postgres MERGE on a unique key.

Scale design (100 TB target):
- The updates side of an incremental run is normally tiny relative to
  the target; its keys are the broadcast build side of the anti-join,
  so the plan is a BroadcastHashJoin — the target is scanned once,
  never shuffled, and no sort is required. The keys are not
  deduplicated first: an anti-join ignores build-side duplicates, and
  a ``distinct()`` would add the plan's only shuffle.
- The caller installs the merged result with one ``Warehouse.overwrite``
  (a full rewrite); Catalyst still prunes the partitions of any
  partitioned table on read.
- ``on_schema_change='sync_all_columns'`` (reference K9) is a pure
  StructType diff, applied before the union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sync_columns(df: DataFrame, template: DataFrame) -> DataFrame:
    """Make ``df`` match ``template``'s columns: add missing as typed
    nulls, drop extras, align order (dbt ``sync_all_columns``)."""
    tcols = {f.name: f.dataType for f in template.schema.fields}
    out = []
    have = {c.lower(): c for c in df.columns}
    for name, dtype in tcols.items():
        if name.lower() in have:
            out.append(F.col(have[name.lower()]).cast(dtype).alias(name))
        else:
            out.append(F.lit(None).cast(dtype).alias(name))
    return df.select(*out)


def merge_upsert(
    target: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    dedupe_updates: bool = False,
    order_col: str | None = None,
) -> DataFrame:
    """Upsert ``updates`` into ``target`` by ``keys``; returns the merged
    DataFrame (caller materializes, e.g. Warehouse.overwrite).

    target=None → first run → updates as-is (dbt full-refresh branch).
    ``dedupe_updates`` keeps the last row per key ordered by
    ``order_col`` when the updates batch itself has duplicates —
    ``order_col`` is REQUIRED with it: the old fallback of ordering by
    the key itself is constant within the window partition, so "last"
    silently meant "whichever row the shuffle delivered first".

    A NULL key value is treated as a real key (null-safe anti-join):
    an update for the null key replaces the null-key target row rather
    than accumulating next to it.
    """
    if dedupe_updates:
        if order_col is None:
            raise ValueError(
                "dedupe_updates requires order_col: without an ordering "
                "column, 'keep the last row per key' is nondeterministic"
            )
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc_nulls_last())
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    if target is None:
        return updates
    updates = sync_columns(updates, target)
    # no distinct() on the key set: an anti-join ignores build-side
    # duplicates, and the distinct's hash aggregate would be a shuffle
    uk = F.broadcast(updates.select(*keys)).alias("__u")
    cond = None
    for k in keys:
        eq = target[k].eqNullSafe(F.col(f"__u.{k}"))
        cond = eq if cond is None else cond & eq
    retained = target.join(uk, cond, "left_anti")
    return retained.unionByName(updates)


# numeric widening lattice for union_evolve: the smallest common type
# two drifted column types can both LOSSLESSLY cast to. Integer types
# carry their bit width; float types the bit width of their mantissa —
# an integer may widen into a float type only when every value fits the
# mantissa exactly (int ∪ double ok: 32 ≤ 53; bigint ∪ double NOT ok:
# 64 > 53 silently collapses distinct ids above 2^53).
_INT_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}
_FLOAT_MANTISSA = {"float": 24, "double": 53}
_INT_ORDER = ["tinyint", "smallint", "int", "bigint"]


def _widen(a, b):
    from pyspark.sql import types as T

    if a == b:
        return a
    an, bn = a.simpleString(), b.simpleString()
    names = {
        "tinyint": "ByteType", "smallint": "ShortType", "int": "IntegerType",
        "bigint": "LongType", "float": "FloatType", "double": "DoubleType",
    }
    if an in _INT_BITS and bn in _INT_BITS:
        name = _INT_ORDER[max(_INT_ORDER.index(an), _INT_ORDER.index(bn))]
        return getattr(T, names[name])()
    if an in _FLOAT_MANTISSA and bn in _FLOAT_MANTISSA:
        return T.DoubleType()
    if {an, bn} <= set(names):  # one int, one float
        i = an if an in _INT_BITS else bn
        f = bn if an in _INT_BITS else an
        target = "double" if f == "double" or _INT_BITS[i] > 24 else "float"
        if _INT_BITS[i] > _FLOAT_MANTISSA[target]:
            raise TypeError(
                f"union_evolve: widening {i} into {target} is lossy above "
                f"2^{_FLOAT_MANTISSA[target]} — refusing to silently corrupt"
            )
        return getattr(T, names[target])()
    raise TypeError(f"union_evolve: cannot reconcile {an} and {bn}")


def merge_upsert_evolve(
    target: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    mode: str = "sync_all_columns",
    **merge_kwargs,
) -> DataFrame:
    """Incremental merge whose TARGET schema evolves with the batch —
    dbt ``on_schema_change='sync_all_columns'`` (reference K9,
    ``retail_transactions.sql:6``) as a composition: reconcile the two
    schemas, conform BOTH sides, then the ordinary key merge.

    ``mode='sync_all_columns'`` (dbt-faithful): the mart's column set
    follows the updates batch — gained columns appear (existing rows
    null), departed columns are REMOVED. Shared columns widen through
    the same lossless lattice as :func:`union_evolve` (int ∪ bigint →
    bigint; lossy or incompatible drift raises — stricter than dbt,
    which hands the problem to the warehouse). Every merge key must
    survive the evolution, checked up front.

    ``mode='union'`` (retentive): the column set is the UNION —
    departed columns stay, nulled for rows the batch rewrites. Use
    when a staging regression must not destroy mart history.
    """
    if mode not in ("sync_all_columns", "union"):
        raise ValueError(f"merge_upsert_evolve: unknown mode {mode!r}")
    if target is None:
        return updates
    if mode == "union":
        template = union_evolve([target.limit(0), updates.limit(0)])
    else:
        ttypes = {f.name.lower(): f.dataType for f in target.schema.fields}
        cols = []
        for f in updates.schema.fields:
            t = (
                _widen(ttypes[f.name.lower()], f.dataType)
                if f.name.lower() in ttypes
                else f.dataType
            )
            cols.append(F.col(f.name).cast(t).alias(f.name))
        template = updates.limit(0).select(*cols)
    tcols = {c.lower() for c in template.columns}
    missing = [k for k in keys if k.lower() not in tcols]
    if missing:
        raise ValueError(
            f"merge_upsert_evolve: merge key(s) {missing!r} absent from the "
            "evolved schema — a batch may not drop its own merge key"
        )
    return merge_upsert(
        sync_columns(target, template),
        sync_columns(updates, template),
        keys,
        **merge_kwargs,
    )


def union_evolve(dfs: list[DataFrame]) -> DataFrame:
    """Union DataFrames whose schemas DRIFTED across batches: the
    united schema is the union of all column names (first-seen order,
    case-insensitive match like sync_columns), missing columns fill
    with typed nulls, and same-name numeric columns widen to their
    smallest common type (int ∪ bigint → bigint, int ∪ double →
    double). Incompatible drift (string vs int) raises instead of
    silently corrupting — the read-side counterpart of the writer's
    ``sync_all_columns`` evolution (reference K9,
    retail_transactions.sql:6). Pure projections + unionByName: no
    shuffle, preserves partitioning of each input."""
    if not dfs:
        raise ValueError("union_evolve: no inputs")
    merged: dict[str, object] = {}
    canon: dict[str, str] = {}
    for df in dfs:
        for f in df.schema.fields:
            key = f.name.lower()
            if key not in merged:
                merged[key] = f.dataType
                canon[key] = f.name
            else:
                merged[key] = _widen(merged[key], f.dataType)
    out = None
    for df in dfs:
        have = {c.lower(): c for c in df.columns}
        cols = [
            (F.col(have[k]).cast(t) if k in have else F.lit(None).cast(t)).alias(canon[k])
            for k, t in merged.items()
        ]
        part = df.select(*cols)
        out = part if out is None else out.unionByName(part)
    return out
