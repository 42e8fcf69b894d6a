"""SparkSession factory with engine-wide defaults.

Design decisions (see SURVEY.md §4 "Physical-execution notes"):

- Session time zone UTC: every timestamp in the reference is
  ``timestamp with time zone`` in UTC (reference
  ``dbt/models/marts/retail_transactions_scd.sql:16-17``,
  ``public/lion_parcell_bonus_test_stg.py:220,266``).
- ANSI mode OFF: the reference relies on null-on-error casts
  (``pd.to_datetime(errors='coerce')``) — Spark's legacy cast matches.
- AQE ON (+ skew join): at 100 TB the runtime re-planning (dynamic
  coalesce of shuffle partitions, skew-join splitting, dynamic
  broadcast-join demotion/promotion) is the difference between a plan
  that survives and one that doesn't.
- Arrow ON: every Pandas-UDF escape hatch ships columns as Arrow
  batches, not pickled rows.
- Codegen class cache of 4096 entries: Janino compiles each generated
  class once per session, as in the reference's hourly loop that
  re-runs the same plans in one engine. Spark's default of 100 is
  smaller than the working set: perfbench's ``query_mix`` needs ~180
  classes and the whole registry ~2,740 at sf0.001, so at 100 each pass
  recompiles most of them. Class names leave out the whole-stage
  codegen stage id: one plan's stage ids are not stable from run to
  run (``scd2_events`` gave its filter stage id 7, then 9), and the
  same code under a new class name is a cache miss. Without the ids
  the working sets shrink to ~160 and 2,347 classes. The cost is
  +19 MiB of metaspace after two registry passes (192 → 211 MiB).
  ``codegen_compiles`` counts the compiles. Both confs are static, so
  sessions built outside ``get_spark`` keep Spark's defaults: the
  session an outside caller passes to ``__spark_entry__`` and the one
  ``tools/check_oracles.py --driver-sim`` builds. Those recompile more,
  but their results are the same.

Shuffle partitions default to the local core count for tests; on a real
cluster you'd set ``spark.sql.shuffle.partitions`` (or rely on AQE
coalescing from a high initial number) via ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # At 100 TB, 128 MiB splits keep scan tasks memory-bounded; AQE
    # coalesces the small ones back together after the first shuffle.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.codegen.cache.maxEntries": "4096",
    "spark.sql.codegen.useIdInClassName": "false",
}


def get_spark(
    app_name: str = "lion-parcel-etl-spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER",
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]",
    )
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far: the exact count of
    Spark's codegen compile-time histogram (its times are a decaying
    sample, so only the count is read). A cache hit does not count."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
