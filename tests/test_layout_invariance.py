"""Partition-layout invariance gate: every registered query must
return IDENTICAL values regardless of `spark.sql.shuffle.partitions`.

This is the failure class the round-2 `frequent_tokens` entry had (a
raw Misra-Gries sketch whose counter contents depended on partition
boundaries) caught proactively for the whole registry: the driver's
oracle compare runs under ONE layout, so a partition-dependent query
can pass it and still return different answers on a differently-sized
cluster. Here each query runs under the suite's 4-partition layout and
again under 13 partitions (coprime, odd, different from every input's
file count), both canonicalized by sorting — any drift fails the
specific query's test.

`approx_stats` is excluded with cause: percentile_approx merges
per-partition GK summaries, whose ranks are accuracy-bounded but not
bit-stable across merge shapes — its tolerance is tested in
tests/test_sketches.py instead.
"""

from __future__ import annotations

import os
import sys

import pytest

from lion_parcel_etl_spark.plans.queries import QUERIES

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from check_oracles import canon  # noqa: E402  (the oracle gate's canonicalizer)

EXCLUDED = {
    "approx_stats": "GK percentile summaries are accuracy-bounded, not "
    "bit-stable, across different partition merge shapes",
}


def _canon(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(canon(r[c]) for c in cols) for r in df.collect()
    )


@pytest.mark.parametrize("name", [q for q in QUERIES if q not in EXCLUDED])
def test_result_is_partition_layout_invariant(spark, sf_dir, name):
    fn = QUERIES[name].build
    base = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # run A uses the session's existing layout (base) as-is
        a = _canon(fn(spark, sf_dir))
        # Drop every cached table between the runs: queries that pin an
        # intermediate (the incremental dedup stores) would otherwise
        # serve run B from run A's cache by analyzed-plan equality, and
        # the pinned subtree would never re-execute under the alternate
        # layout. Nothing else relies on cross-test caching (each query
        # call re-pins its own intermediates).
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        b = _canon(fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base)
        spark.catalog.clearCache()
    assert a == b, f"{name}: result depends on shuffle partition count"
