"""Entry-point contract for the PySpark engine.

``entry(spark)`` smoke-runs the flagship query; ``queries()`` exposes
every registry query (the operators from SURVEY.md §2 plus the
training-data, statistics, evaluation and retrieval layers);
``oracle_sql()`` gives the DuckDB-equivalent SQL for each. The one
entry without an oracle is ``compression_ratio`` (zlib is not
expressible in SQL; pinned on known inputs in tests/test_text.py).
The approximate operators (LSH, PQ, IVF, KMV and Misra-Gries sketches,
the logistic-regression classifier) are deterministic, so their
oracles replay them exactly.

Every query builder is wrapped so it runs correctly on ANY
SparkSession the caller provides, not just the repo's own
``session.get_spark()``: the wrapper pins the two runtime-settable
SQL confs the plans depend on (ANSI off for legacy null-on-error
semantics, UTC session time zone for timestamp formatting). Source
tables are read with declared schemas, so no parquet read conf matters.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from lion_parcel_etl_spark.plans.queries import QUERIES

_REQUIRED_CONFS = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def _harden(spark: SparkSession) -> None:
    """Pin the runtime SQL confs the query plans assume.

    Both are runtime-settable; a conf a particular build refuses to
    set at runtime is skipped.
    """
    for k, v in _REQUIRED_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def _wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _harden(spark)
        return fn(spark, sf_dir)

    run.__name__ = getattr(fn, "__name__", "query")
    run.__doc__ = fn.__doc__
    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _harden(spark)
    fn = QUERIES["pricing_summary"].build
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _wrap(q.build) for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query (same column names/types)."""
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
