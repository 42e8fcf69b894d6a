"""Incrementally-maintained aggregate rollups (mergeable partial states).

The reference maintains derived tables *incrementally* — dbt
``materialized='incremental'`` models merge each batch into the target
instead of recomputing it (reference retail_transactions.sql:1-7,
lion_parcell_bonus_test.sql:1-5). This module applies the same idea to
AGGREGATE tables: keep per-key mergeable partial states (sum / count /
min / max — the classic commutative-monoid aggregates), fold each new
batch into the stored state, and derive finals (avg = sum/count) only
at read time.

Why this is the 100 TB shape: a full recompute of a daily-revenue
rollup over an append-only fact table re-reads ALL history every run;
the incremental maintenance below reads ONLY the new batch, partially
aggregates it map-side (shuffle carries ≤ |keys| rows, not batch
rows), and merges with the stored state — work proportional to the
increment, never to history. The states are associative and
commutative, so batch boundaries, ordering, and re-partitioning can
never change the answer (asserted by the property tests).

State column convention: ``<metric>__sum`` (long, cents trick),
``<metric>__cnt``, ``<metric>__min``, ``<metric>__max``. The state
table is itself a plain DataFrame/parquet table — persist it with the
catalog/merge machinery like any other mart.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lion_parcel_etl_spark.functions import cents

STATE_SUFFIXES = ("__sum", "__cnt", "__min", "__max")


def rollup_state(
    batch: DataFrame, keys: list[str], metrics: dict[str, Column]
) -> DataFrame:
    """Partial-aggregate one batch into mergeable per-key states.

    ``metrics`` maps a metric name to the raw (double) column to
    aggregate; sums go through :func:`cents` so merging is exact
    integer arithmetic — order- and partitioning-free.
    """
    aggs = []
    for name, col in metrics.items():
        aggs += [
            F.sum(cents(col)).alias(f"{name}__sum"),
            F.count(col).alias(f"{name}__cnt"),
            F.min(col).alias(f"{name}__min"),
            F.max(col).alias(f"{name}__max"),
        ]
    return batch.groupBy(*keys).agg(*aggs)


def state_aggs(cols: list[str]) -> list[Column]:
    """The merge aggregate for each state column, dispatched on the
    STATE_SUFFIXES convention, used by rollup_merge."""
    aggs = []
    for c in cols:
        if c.endswith("__sum") or c.endswith("__cnt"):
            aggs.append(F.sum(c).alias(c))
        elif c.endswith("__min"):
            aggs.append(F.min(c).alias(c))
        elif c.endswith("__max"):
            aggs.append(F.max(c).alias(c))
        else:
            raise ValueError(f"not a mergeable state column: {c}")
    return aggs


def rollup_merge(state: DataFrame, delta: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two state tables (either may have keys the other lacks).

    union + re-aggregate: sums/counts add, mins/maxs fold — one
    co-partitioned shuffle over ≤ |state|+|delta| rows. At scale,
    pre-bucket the stored state on ``keys`` and this merge never
    shuffles the big side.
    """
    cols = [c for c in state.columns if c not in keys]
    if set(cols) != {c for c in delta.columns if c not in keys}:
        raise ValueError("state and delta column sets differ")
    both = state.unionByName(delta)
    return both.groupBy(*keys).agg(*state_aggs(cols))


def rollup_finalize(state: DataFrame, keys: list[str]) -> DataFrame:
    """Derive final metrics from states: sum (de-cented), count, avg,
    min, max per metric — a pure projection, no shuffle."""
    metrics = sorted({c[: -len("__sum")] for c in state.columns if c.endswith("__sum")})
    out: list[Column] = [F.col(k) for k in keys]
    for m in metrics:
        s, c = F.col(f"{m}__sum"), F.col(f"{m}__cnt")
        out += [
            (s / 100.0).alias(f"{m}_sum"),
            c.alias(f"{m}_cnt"),
            F.when(c > 0, F.round(s / 100.0 / c, 6)).alias(f"{m}_avg"),
            F.col(f"{m}__min").alias(f"{m}_min"),
            F.col(f"{m}__max").alias(f"{m}_max"),
        ]
    return state.select(*out)
