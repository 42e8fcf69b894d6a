"""Bonus metrics pipeline: JSON corpus → per-file detail → per-id final.

Re-expresses (Spark-first, not a port) the flatten/aggregate at
reference ``public/lion_parcell_bonus_test_stg.py:175-247``:

- per metric entry: lexicographic max of Timestamps (kept as STRING),
  sum/count of valid (non-null, non-NaN) Values, per-file
  ``load_time = sum/cnt/60000`` (null when cnt=0);
- per id across files: timestamp-parsed max, *weighted* average
  ``sum(sum_ms)/sum(cnt)/60000`` (NOT mean of per-file means), and a
  sorted-distinct '; '-join of non-empty messages.

The whole thing is ONE lazy DataFrame plan over ONE corpus scan: scan
→ from_json → explode → array ops → detail sort → groupBy. Catalyst
fuses the projections. There are two exchanges:

- the detail sort: ``repartition(1).sortWithinPartitions(source_file,
  pos)``, one task. A global ``orderBy`` would range-sample its input
  first, and that sampling job re-runs the corpus scan and everything
  above it. The ``Messages`` normalizer (a Python UDF, see
  sources/metrics_json.py) runs after this exchange, in the sort task,
  so Python is paid once per row and never in the scan stage.
- the final ``groupBy(id)``.

Scale limit: the detail sort is one task, so the whole detail table
passes through one core. A larger corpus would range-partition by
``source_file`` with bounds taken from the file listing (the file names
are known before the scan), which keeps the order without a sampling
job.

Floating-point folds are done with ``F.aggregate`` in deterministic
(file-name-sorted) order so results are bit-identical to the
reference's sequential Python sums — this costs nothing at scale
because the fold happens inside a single row's collected array after
the shuffle's map-side combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lion_parcel_etl_spark.sources.metrics_json import normalize_messages, read_metrics_docs


def _kahan_sum(pairs):
    """Kahan-compensated fold over ``array<struct<source_file,sum_ms>>``.

    pandas' Cython group_sum is Kahan-compensated, so a naive sequential
    fold diverges from the reference goldens in the last ulp. The same
    compensated fold (in file-name order) is bit-identical — and it's
    simply the better algorithm for long reductions at scale.
    """

    def step(acc, x):
        y = x["sum_ms"] - acc["c"]
        t = acc["s"] + y
        return F.struct(t.alias("s"), ((t - acc["s"]) - y).alias("c"))

    return F.aggregate(
        pairs,
        F.struct(F.lit(0.0).alias("s"), F.lit(0.0).alias("c")),
        step,
        lambda acc: acc["s"],
    )


def detail_from_docs(docs: DataFrame) -> DataFrame:
    """Per-(file, metric entry) detail plan over a docs DataFrame from
    ``read_metrics_docs`` — shared by the batch pipeline and the
    streaming ingest (streaming/jobs.py), which can't sort. Rows carry
    the document's ``raw_messages`` text and ``pos``; :func:`with_message`
    turns them into the output columns."""
    docs = docs.filter(~F.col("corrupt"))
    entries = docs.select(
        "source_file",
        "raw_messages",
        F.posexplode("metrics").alias("pos", "m"),
    )
    valid = F.filter(
        F.coalesce(F.col("m.Values"), F.array().cast("array<double>")),
        lambda x: x.isNotNull() & ~F.isnan(x),
    )
    detail = entries.select(
        F.col("m.Id").alias("id"),
        F.array_max("m.Timestamps").alias("runtime_date"),  # string max (ISO sorts)
        F.aggregate(valid, F.lit(0.0), lambda acc, x: acc + x).alias("sum_ms"),
        F.size(valid).cast("long").alias("cnt"),
        "raw_messages",
        "source_file",
        "pos",
    ).select(
        "id",
        "runtime_date",
        "sum_ms",
        "cnt",
        F.when(F.col("cnt") > 0, F.col("sum_ms") / F.col("cnt") / F.lit(60000.0)).alias(
            "load_time"
        ),
        "raw_messages",
        "source_file",
        "pos",
    )
    return detail.filter(F.col("id").isNotNull())


def with_message(detail: DataFrame) -> DataFrame:
    """Output columns of a ``detail_from_docs`` plan: ``raw_messages``
    normalized into ``Message``, ``pos`` dropped. Apply it last, so the
    Python UDF runs in as few tasks and jobs as the plan allows."""
    return detail.select(
        "id",
        "runtime_date",
        "sum_ms",
        "cnt",
        "load_time",
        normalize_messages(F.col("raw_messages")).alias("Message"),
        "source_file",
    )


def metrics_detail(spark: SparkSession, path: str) -> DataFrame:
    """One row per (file, metric entry). Golden: combined_detail_per_file.csv.

    Sorted in one task after a single-partition exchange, and
    ``Message`` is normalized there: the plan scans the corpus once and
    runs the Python UDF once per row (module docstring)."""
    detail = detail_from_docs(read_metrics_docs(spark, path))
    return with_message(detail.repartition(1).sortWithinPartitions("source_file", "pos"))


def metrics_final(detail: DataFrame) -> DataFrame:
    """One row per id. Golden: combined_table.csv.

    ``load_time`` is the weighted mean: total ms over total count
    (reference :234-237). The double fold runs in file-name order so the
    result matches a sequential sum exactly.
    """
    g = detail.groupBy("id").agg(
        F.max(F.to_timestamp("runtime_date")).alias("_rd"),
        F.array_sort(F.collect_list(F.struct("source_file", "sum_ms"))).alias("_pairs"),
        F.sum("cnt").alias("_cnt"),
        F.collect_list("Message").alias("_msgs"),
    )
    return g.select(
        "id",
        F.date_format("_rd", "yyyy-MM-dd'T'HH:mm:ssxxx").alias("runtime_date"),
        F.when(
            F.col("_cnt") > 0,
            _kahan_sum(F.col("_pairs")) / F.col("_cnt") / F.lit(60000.0),
        ).alias("load_time"),
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.filter("_msgs", lambda m: m.isNotNull() & (F.trim(m) != ""))
                )
            ),
            "; ",
        ).alias("Message"),
    ).orderBy("id")
