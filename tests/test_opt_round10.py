"""Round-10 optimization-round pins: store-accounting eviction, the
bucketed-table root keying, and the bench's builder-ownership map.

The r09 verdict's top item: ~12 HEADLINE rows timed a scan of their own
memoized session-store output. bench.py now evicts each store before
every run of its designated BUILDER query, so exactly one timed row
carries the build. These tests pin the eviction semantics that
accounting depends on.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F


def _success_mtime(spark, sf_dir, name):
    import lion_parcel_etl_spark.plans.queries as Q

    marker = os.path.join(Q._store_path(spark, sf_dir, name), "_SUCCESS")
    return os.path.getmtime(marker) if os.path.exists(marker) else None


def test_evict_removes_store_path_and_next_call_rebuilds(spark, monkeypatch):
    """_evict_session_store removes the on-disk parquet, so the next
    call rebuilds from the builder instead of depending on an
    overwrite of the same path; a call on a built store reads it."""
    import shutil

    import lion_parcel_etl_spark.plans.queries as Q

    builds = []

    def build(spark, sf_dir):
        builds.append(sf_dir)
        return spark.range(3).toDF("n")

    name = "evict_test_store"
    monkeypatch.setitem(Q.STORES, name, build)
    path = Q._store_path(spark, "/x", name)
    try:
        assert Q._session_store(spark, "/x", name).count() == 3
        assert Q._session_store(spark, "/x", name).count() == 3
        assert len(builds) == 1
        Q._evict_session_store(spark, "/x", name)
        assert not os.path.exists(path)
        assert Q._session_store(spark, "/x", name).count() == 3
        assert len(builds) == 2
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_failed_store_build_leaves_no_table_and_next_call_rebuilds(spark, monkeypatch):
    """A store whose write fails mid-job installs nothing: no table is
    readable at its path, the next call builds it from a healthy
    builder, and the failed write's debris lies under the session root,
    which is removed at exit."""
    import lion_parcel_etl_spark.plans.queries as Q

    name = "failed_write_test_store"
    wh = Q._session_warehouse(spark)
    table = Q._store_table("/x", name)
    path = wh.table_path(table)
    db = os.path.dirname(path)
    before = set(os.listdir(db)) if os.path.isdir(db) else set()
    monkeypatch.setitem(
        Q.STORES,
        name,
        lambda spark, sf_dir: spark.range(3).select(
            F.when(F.col("id") < 2, F.col("id"))
            .otherwise(F.raise_error(F.lit("store build failed")))
            .alias("n")
        ),
    )
    try:
        with pytest.raises(Exception, match="store build failed"):
            Q._session_store(spark, "/x", name)
        assert not os.path.exists(path)
        assert not wh.exists(table)
        # debris, if any, is the staged write's sibling under the
        # session root; nothing of the store sits directly in the temp dir
        debris = set(os.listdir(db)) - before
        assert all(d.startswith(f"{table}.__tmp__") for d in debris), debris
        assert os.path.dirname(wh.root) == tempfile.gettempdir()
        assert not [d for d in os.listdir(tempfile.gettempdir()) if name in d]

        monkeypatch.setitem(
            Q.STORES, name, lambda spark, sf_dir: spark.range(3).toDF("n")
        )
        rows = Q._session_store(spark, "/x", name).collect()
        assert sorted(r["n"] for r in rows) == [0, 1, 2]
    finally:
        Q._evict_session_store(spark, "/x", name)


def test_bench_store_owners_map_to_real_stores(spark, sf_dir):
    """Every (owner query, store) pair in bench.STORE_OWNERS is real:
    the owner is a registered HEADLINE query, and running it
    materializes exactly the store names the bench will evict — a typo
    in either direction would silently turn the r10 accounting into a
    no-op (eviction of a nonexistent name) or leave a build untimed."""
    import bench
    import lion_parcel_etl_spark.plans.queries as Q

    for owner, stores in bench.STORE_OWNERS.items():
        assert owner in bench.HEADLINE, owner
        assert owner in Q.QUERIES, owner
        bench._evict_owned(spark, sf_dir, owner)
        fn = Q.QUERIES[owner].build
        fn(spark, sf_dir)  # building the stores is a call-time effect
        for store in stores:
            assert _success_mtime(spark, sf_dir, store), (owner, store)


def test_evict_owned_forces_rebuild(spark, sf_dir):
    """bench._evict_owned makes the owner's next call rebuild its
    store from scratch (fresh on-disk parquet) — the property that
    puts the build inside the bench's timed region."""
    import bench
    import lion_parcel_etl_spark.plans.queries as Q

    fn = Q.QUERIES["ks_drift"].build
    fn(spark, sf_dir)
    mtime_before = _success_mtime(spark, sf_dir, "ks_exact")
    assert mtime_before is not None
    bench._evict_owned(spark, sf_dir, "ks_drift")
    assert not os.path.exists(Q._store_path(spark, sf_dir, "ks_exact"))
    fn(spark, sf_dir)
    assert _success_mtime(spark, sf_dir, "ks_exact") >= mtime_before


def test_bucketed_root_distinguishes_full_sf_dir(spark, sf_dir, tmp_path, monkeypatch):
    """r09 ADVICE (medium): the bucketed-table root must key on the
    FULL sf_dir — two paths sharing a basename are different datasets,
    so a call with an aliased path (same basename, different parent)
    writes under its own root, not the other dataset's."""
    import lion_parcel_etl_spark.operators.bucketing as B
    import lion_parcel_etl_spark.plans.queries as Q

    calls = []
    real = B.write_bucketed

    def counting(df, table, keys, n, path):
        calls.append((table, path))
        return real(df, table, keys, n, path)

    monkeypatch.setattr(B, "write_bucketed", counting)
    key = spark.sparkContext.applicationId
    # an alias directory with the SAME basename pointing at the same
    # parquet data — under the old basename-derived root both calls
    # shared one root
    alias_parent = tmp_path / "alias"
    alias_parent.mkdir()
    alias = alias_parent / os.path.basename(os.path.normpath(str(sf_dir)))
    alias.symlink_to(str(sf_dir))

    Q.q_bucketed_join(spark, sf_dir)
    Q.q_bucketed_join(spark, str(alias))
    assert len(calls) == 4  # orders + lineitem, per call
    # roots lie under the session root, which embeds the applicationId
    # (concurrent sessions cannot clobber each other), and differ
    # across the two sf_dirs
    roots = {os.path.dirname(p) for _, p in calls}
    assert len(roots) == 2
    session_root = Q._session_warehouse(spark).root
    assert key in os.path.basename(session_root)
    for r in roots:
        assert os.path.dirname(os.path.dirname(r)) == session_root


def test_bench_guards_are_not_bare_asserts():
    """r09 ADVICE (low): import-time guards in bench.py and the
    registry module, and the kmax guard, must survive python -O — i.e.
    be explicit raises, not asserts."""
    import ast
    import inspect

    import bench
    import lion_parcel_etl_spark.plans.queries as Q

    for module in (bench, Q):
        tree = ast.parse(inspect.getsource(module))
        module_level_asserts = [
            n.lineno for n in tree.body if isinstance(n, ast.Assert)
        ]
        assert module_level_asserts == [], module.__name__
    kpr_src = inspect.getsource(Q.q_dedup_pr_eval)
    assert "assert kmax" not in kpr_src


def test_qc_model_store_scores_identical_to_inline_fit(spark, sf_dir):
    """r10: the fitted-weights store (qc_model) must reproduce the
    inline fit+score byte-for-byte — weights are raw doubles that
    parquet round-trips bit-exactly, and logreg_score consumes the
    dict sorted by bucket on both paths."""
    import lion_parcel_etl_spark.plans.queries as Q
    from lion_parcel_etl_spark.operators.classifier import (
        doc_features,
        logreg_fit,
        logreg_score,
    )
    from lion_parcel_etl_spark.operators.dedup import pin

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = pin(doc_features(docs, Q.QC_RULE_SPARK()))
    w = logreg_fit(feats, steps=Q.QC_STEPS, lr=Q.QC_LR)
    inline = logreg_score(feats, w)
    for name in ("qc_scored", "qc_model"):
        Q._evict_session_store(spark, sf_dir, name)
    stored = Q._session_store(spark, sf_dir, "qc_scored")
    assert inline.count() == stored.count()
    assert inline.exceptAll(stored).count() == 0
    assert stored.exceptAll(inline).count() == 0


def test_bucketed_join_rewrites_fresh_root_each_call(spark, sf_dir, tmp_path, monkeypatch):
    """Every q_bucketed_join call replaces the per-(session, sf_dir)
    root with a fresh one, and rebuilding it (or any store) any number
    of times registers the session root's atexit removal only once."""
    import atexit

    import bench
    import lion_parcel_etl_spark.plans.queries as Q

    registered = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: registered.append(a))
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    root = Q._store_path(spark, sf_dir, "bucketed")
    for _ in range(2):
        Q.q_bucketed_join(spark, sf_dir)
        assert not os.path.exists(os.path.join(root, "stale"))
        for table in Q._BUCKETED_TABLES:
            assert spark.catalog.tableExists(table)
        open(os.path.join(root, "stale"), "w").close()

    fn = Q.QUERIES["ks_drift"].build
    for _ in range(2):
        bench._evict_owned(spark, sf_dir, "ks_drift")
        fn(spark, sf_dir)
    assert registered == [(Q._session_warehouse(spark).root,)]
