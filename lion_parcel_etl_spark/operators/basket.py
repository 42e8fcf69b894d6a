"""Market-basket association rules over a deduped (order, part) basket
table — the rule pipeline behind plans/queries.q_market_basket.

Reference analog: the retail-mart analytics the reference's domain
implies (``etl/`` staging models feed exactly this kind of readout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def basket_rules(b: DataFrame, min_pairs: int, top: int) -> DataFrame:
    """Association rules from an (o, p) basket table — duplicate rows
    tolerated (per-order dedup happens inside, so callers no longer
    pre-distinct): for part pairs co-purchased in ≥ ``min_pairs``
    orders, support / directional confidence / lift, top ``top`` by
    lift. All ratios derive from exact integer counts (pair count,
    per-item order counts, total orders), so everything replays
    bit-for-bit in SQL.

    Scale shape (the q_market_basket ledger row): the pair stage is a
    self-join on the ORDER key over the deduped basket table — per-key
    fanout is the basket size, so join output is Σ basket² ≈
    corpus-linear, never |parts|²; item counts join back
    vocabulary-sized (AQE broadcasts); the order total is a broadcast
    1-row scalar; top-k is a rounded total order (lift, pa, pb) so the
    LIMIT is deterministic. The deduped table is pinned HERE with an
    explicit hash partitioning on the order key, so BOTH self-join
    sides read the cached layout with no re-exchange — it feeds four
    consumers. (r09 optimization round note: an array-combinations
    formulation — per-order collect_set + higher-order-function pair
    explode — was tried and REVERTED: identical output and one fewer
    exchange, but the nested transform/flatten pair generator is
    CodegenFallback, and the interpreted per-element cost lost to the
    codegen'd hash self-join at the 10× replica, 10.2 s vs 8.7 s.)"""
    from lion_parcel_etl_spark.operators.dedup import pin

    bp = pin(b.distinct().repartition("o"))
    item = bp.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))
    no = bp.agg(F.count_distinct("o").alias("n_orders"))
    a, c = bp.alias("a"), bp.alias("c")
    pairs = (
        a.join(c, (F.col("a.o") == F.col("c.o")) & (F.col("a.p") < F.col("c.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("c.p").alias("pb"))
        .agg(F.count(F.lit(1)).alias("pc"))
        .filter(F.col("pc") >= min_pairs)
    )
    j = (
        pairs.join(
            item.select(F.col("p").alias("pa"), F.col("cnt").alias("cnt_a")),
            "pa",
        )
        .join(
            item.select(F.col("p").alias("pb"), F.col("cnt").alias("cnt_b")),
            "pb",
        )
        .crossJoin(F.broadcast(no))
    )
    return (
        j.select(
            "pa",
            "pb",
            "pc",
            "cnt_a",
            "cnt_b",
            F.round(F.col("pc").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("pc").cast("double") / F.col("cnt_a"), 6).alias(
                "conf_ab"
            ),
            F.round(F.col("pc").cast("double") / F.col("cnt_b"), 6).alias(
                "conf_ba"
            ),
            F.round(
                (F.col("pc").cast("double") * F.col("n_orders"))
                / (F.col("cnt_a").cast("double") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("pa").asc(), F.col("pb").asc())
        .limit(top)
    )
