"""Declared source schemas and schema-carrying session stores.

Registry source tables are read with ``schemas.SOURCE_TABLES`` and
session stores with their ``_schema.json``, so building a query runs no
schema-inference job. These tests pin the declared schemas against
inference, the 0-job build and readout, and the footer check that turns
an off-contract source file into a clear error.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import TESTDATA
from lion_parcel_etl_spark.catalog import SCHEMA_FILE
from lion_parcel_etl_spark.plans import queries as Q
from lion_parcel_etl_spark.schemas import SOURCE_TABLES

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def _jobs(sc, group: str, fn) -> int:
    """Spark jobs ``fn()`` runs, counted by job group."""
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_source_schemas_match_inference(spark, sf):
    sf_dir = os.path.join(TESTDATA, sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"test data absent: {sf_dir} does not exist")
    for name, schema in SOURCE_TABLES.items():
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert schema == inferred, name
        assert Q._t(spark, sf_dir, name).schema == inferred, name


def test_declared_source_schemas_match_perfbench_query_data(spark, tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import workloads

    workloads.query_data(str(tmp_path))
    for name, schema in SOURCE_TABLES.items():
        assert schema == spark.read.parquet(f"{tmp_path}/{name}.parquet").schema, name


def test_building_source_queries_runs_no_spark_job(spark, sf_dir):
    """A builder that only reads source tables runs no job at build
    time: no schema inference, one read per table it touches."""
    sc = spark.sparkContext
    for name in ("pricing_summary", "star_join_revenue"):
        build = Q.QUERIES[name].build
        assert _jobs(sc, f"build-{name}", lambda: build(spark, sf_dir)) == 0, name
    # the control: inferring one source schema runs a job
    assert _jobs(sc, "infer-lineitem", lambda: spark.read.parquet(f"{sf_dir}/lineitem.parquet")) >= 1


@pytest.fixture
def probe_store(spark, sf_dir, monkeypatch):
    """A throwaway session store over ``orders``, evicted after the test."""
    name = "test_schemas_probe"

    def build(spark, sf_dir):
        return Q._t(spark, sf_dir, "orders").selectExpr(
            "o_orderkey", "o_orderdate", "array(o_totalprice) AS prices"
        )

    monkeypatch.setitem(Q.STORES, name, build)
    yield name
    Q._evict_session_store(spark, sf_dir, name)


def test_warm_store_readout_runs_no_job_and_matches_inference(spark, sf_dir, probe_store):
    Q._session_store(spark, sf_dir, probe_store)  # cold: builds and writes the store
    path = Q._store_path(spark, sf_dir, probe_store)
    assert os.path.exists(os.path.join(path, SCHEMA_FILE))
    sc = spark.sparkContext
    out = {}
    assert _jobs(sc, "store-readout", lambda: out.update(df=Q._session_store(spark, sf_dir, probe_store))) == 0
    inferred = spark.read.parquet(path)
    assert out["df"].schema == inferred.schema
    assert _rows(out["df"]) == _rows(inferred)

    os.remove(os.path.join(path, SCHEMA_FILE))
    again = Q._session_store(spark, sf_dir, probe_store)
    assert again.schema == inferred.schema
    assert _rows(again) == _rows(inferred)


def test_source_missing_declared_column_raises_at_build(spark, tmp_path):
    pd.DataFrame(
        {"doc_id": [0, 1], "text": ["a b", "c"], "lang": ["en", "en"], "source": ["s", "s"]}
    ).to_parquet(tmp_path / "documents.parquet")
    with pytest.raises(ValueError, match=r"'documents'.*documents\.parquet.*n_chars"):
        Q.QUERIES["reservoir_sample"].build(spark, str(tmp_path))


def test_source_nanos_timestamp_raises_at_build(spark, tmp_path):
    events = pa.table(
        {
            "event_id": pa.array([0, 1], pa.int64()),
            "ts": pa.array([0, 1_000_000_000], pa.timestamp("ns")),
            "user_id": pa.array([1, 2], pa.int64()),
            "event_type": ["a", "b"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }
    )
    pq.write_table(events, tmp_path / "events.parquet")
    with pytest.raises(ValueError, match=r"'events'.*events\.parquet.*'ts'.*NANOS"):
        Q.QUERIES["sessionize"].build(spark, str(tmp_path))
