"""bench.measure, the one timing protocol behind bench.py and
tools/bench_isolated.py, the machine record both write, the
floor-exceeder selection, the bench lists derived from the query
registry, the session-store table, the engine names perfbench's
tracer patches, and the codegen class cache that keeps a repeated
pass from recompiling."""

from __future__ import annotations

import os
import time
from collections import Counter

import pytest

import bench
import lion_parcel_etl_spark.plans.queries as Q
from lion_parcel_etl_spark.session import codegen_compiles

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def test_registry_ownership_and_bench_lists():
    owners = {n: q for n, q in Q.QUERIES.items() if q.owns}
    assert all(q.headline for q in owners.values())
    counts = Counter(s for q in owners.values() for s in q.owns)
    assert [s for s, c in counts.items() if c > 1] == []
    assert set(bench.ANCHOR) <= set(bench.HEADLINE)


# Stores no query owns, so no warm bench row times their build. A new
# store must either get an owner (Query.owns) or be added here on purpose.
UNOWNED_STORES = [
    "coarse_asg",
    "cooc_edges",
    "emb_lsh_index",
    "emb_pairs",
    "kmv_hashes",
    "minhash_sigs",
    "ngram_pairs",
    "qc_model",
    "rfm_base",
    "simhash_sigs",
    "trade_ed",
    "trade_nodes",
]


def test_registry_stores_are_owned_or_listed_and_named_once():
    owned = {s for q in Q.QUERIES.values() for s in q.owns}
    assert sorted(owned - set(Q.STORES)) == []
    assert sorted(set(Q.STORES) - owned) == UNOWNED_STORES
    before = dict(Q.STORES)
    with pytest.raises(ValueError, match="ks_exact"):

        @Q._store("ks_exact")
        def _second_ks_exact(spark, sf_dir):
            return None

    assert Q.STORES == before


def test_evict_owned_rejects_name_outside_registry():
    with pytest.raises(KeyError, match="minhash_near_dupp"):
        bench._evict_owned(None, "/nowhere", "minhash_near_dupp")


def test_registry_evict_rejects_unknown_store():
    # the name is checked before the session is touched
    with pytest.raises(KeyError, match="ks_exactt"):
        Q._evict_session_store(None, "/nowhere", "ks_exactt")


def test_measure_rebuilds_owned_store_before_every_run(spark, sf_dir, monkeypatch):
    builds = []
    real = Q.STORES["ks_exact"]

    def counting(spark, sf_dir):
        builds.append(sf_dir)
        return real(spark, sf_dir)

    monkeypatch.setitem(Q.STORES, "ks_exact", counting)
    times, shuffle, compiles = bench.measure(spark, sf_dir, "ks_drift", 3)
    assert len(times) == len(shuffle) == len(compiles) == 3
    assert all(c >= 0 for c in compiles)
    assert all(t > 0 for t in times)
    assert builds == [sf_dir] * 3


def test_eviction_is_outside_the_timed_region(spark, sf_dir, monkeypatch):
    plain = min(bench.measure(spark, sf_dir, "ks_drift", 2)[0])
    real = bench._evict_owned

    def slow(*args):
        time.sleep(2)
        real(*args)

    monkeypatch.setattr(bench, "_evict_owned", slow)
    slowed = min(bench.measure(spark, sf_dir, "ks_drift", 2)[0])
    assert abs(slowed - plain) < 1.0


def test_exceeders_select_by_ratio_and_slack():
    ratio, slack = bench.FLOOR_RERUN_RATIO, bench.FLOOR_RERUN_SLACK
    floors = {
        "ratio_at": 10.0,
        "ratio_above": 10.0,
        "slack_at": 0.5,
        "slack_above": 0.5,
        "at_floor": 2.0,
    }
    timings = {
        "ratio_at": 10.0 * ratio,
        "ratio_above": 10.0 * ratio + 0.01,
        "slack_at": 0.5 + slack,
        "slack_above": 0.5 + slack + 0.01,
        "at_floor": 2.0,
        "no_floor": 100.0,
    }
    assert bench.exceeders(timings, floors) == ["ratio_above", "slack_above"]


def test_machine_state_records_core_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cpus = bench._machine_state()["cpus"]
    assert isinstance(cpus, int) and cpus > 0
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert bench._machine_state()["cpus"] == 3


def test_perfbench_patch_targets_resolve():
    """Every (owner, attr) perfbench/spans.PATCHES wraps still exists,
    so an engine rename cannot silently drop a traced layer."""
    from perfbench.spans import PATCHES, _resolve

    missing = [
        (path, attr)
        for path, attr, _span in PATCHES
        if not callable(getattr(_resolve(path), attr, None))
    ]
    assert missing == []


def test_overwrite_swaps_and_records_once(spark, tmp_path, monkeypatch):
    """One Warehouse.overwrite goes through catalog.swap_dir and
    RunMetrics.record_write exactly once each, the module attributes
    perfbench's catalog.swap and metrics.record_write spans wrap."""
    import lion_parcel_etl_spark.catalog as cat
    from lion_parcel_etl_spark.metrics import RunMetrics

    calls = Counter()

    def counting(owner, attr):
        real = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            calls[attr] += 1
            return real(*args, **kwargs)

        monkeypatch.setattr(owner, attr, wrapper)

    counting(cat, "swap_dir")
    counting(RunMetrics, "record_write")
    rm = RunMetrics()
    cat.Warehouse(str(tmp_path / "wh"), metrics=rm).overwrite(spark.range(3), "t")
    assert calls == {"swap_dir": 1, "record_write": 1}
    assert [w.rows for w in rm.writes] == [3]


def test_second_query_mix_pass_compiles_nothing(spark, sf_dir, monkeypatch):
    """perfbench's query_mix queries, run twice as perfbench runs them
    (own stores evicted and the cache cleared before each, noop sink):
    the second pass finds every generated class in Spark's codegen
    cache. With a cache of Spark's default 100 entries it recompiles
    ~180, and it would again if the registry's working set outgrew the
    cache."""
    monkeypatch.syspath_prepend(PERFBENCH)
    from workloads import QUERY_SET

    def pass_compiles() -> int:
        before = codegen_compiles(spark)
        for name in QUERY_SET:
            bench._evict_owned(spark, sf_dir, name)
            spark.catalog.clearCache()
            Q.QUERIES[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return codegen_compiles(spark) - before

    pass_compiles()
    assert pass_compiles() == 0
    # the control: a literal no plan has carried is inlined into new code
    fresh = spark.range(3).selectExpr(f"id + {time.time_ns()} AS x")
    before = codegen_compiles(spark)
    fresh.write.format("noop").mode("overwrite").save()
    assert codegen_compiles(spark) > before
