"""Round-9 additions: ADVICE guard fixes (empty KS sample, empty
Benford input, drive temp-staged landing), apply_changelog registry
graduation, sub-8-bit PNG, and the ks_agreement streaming twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_ks_binned_empty_sample_is_loud(spark):
    """r08 ADVICE (medium): an empty sampled count table must fail
    fast — percentile over zero rows yields a NULL boundary array and
    every row would collapse into a NULL bucket the grid join silently
    drops, emitting garbage KS stats. Reachable in batch (tiny corpus
    where the md5 sample selects zero events) and in the streaming
    reader before any sampled row lands."""
    from lion_parcel_etl_spark.operators.checks import ks_binned_from_counts

    cnt = spark.createDataFrame(
        [("a", 1.0, 3), ("b", 2.0, 4)], "g string, v double, c long"
    )
    empty = spark.createDataFrame([], "v double, c long")
    with pytest.raises(Exception, match="empty"):
        ks_binned_from_counts(cnt, empty).collect()

    # ... and a NON-empty sample still works (guard rides the same
    # one-row bounds aggregate; no behavior change on the happy path).
    samp = spark.createDataFrame(
        [(1.0, 5), (2.0, 5)], "v double, c long"
    )
    assert ks_binned_from_counts(cnt, samp).count() == 2


def test_benford_empty_input_takes_clean_path(spark):
    """r08 ADVICE (low): sum() over an EMPTY count table is NULL; an
    un-coalesced n_bad made the guard's otherwise-branch fire with a
    NULL concat message (opaque error). Empty input must flow through
    the n_bad == 0 path and yield the 9 spine rows with NULL stats —
    the pre-guard contract."""
    from lion_parcel_etl_spark.operators.checks import (
        benford_from_digit_counts,
    )

    empty = spark.createDataFrame([], "digit int, n_obs long")
    rows = benford_from_digit_counts(empty).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert all(r["n_obs"] == 0 for r in rows)
    assert all(r["p_obs"] is None for r in rows)  # 0/0 — no fake zeros


def test_apply_changelog_registry_reconstructs_new_snapshot(spark, sf_dir):
    """r08 VERDICT #1: the registry's apply_changelog row runs the
    full diff→replay machinery and must equal the directly-computed
    new snapshot on real data — the same identity the driver's DuckDB
    oracle hashes, pinned here so a regression breaks pytest before
    the next official sample."""
    import lion_parcel_etl_spark.plans.queries as Q

    replayed = Q.q_apply_changelog(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    direct = (
        ev.filter(F.col("ts") < F.lit(Q.DIFF_CUT_NEW).cast("timestamp"))
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.date_trunc("day", F.col("ts"))).alias("n_days"),
        )
    )
    assert replayed.exceptAll(direct).count() == 0
    assert direct.exceptAll(replayed).count() == 0
    assert replayed.count() > 0


def test_simhash_pairs_store_equals_inline_after_incremental(spark, sf_dir):
    """The regression one builder per store name exists for, pinned
    end to end: run simhash_incremental FIRST (it builds the
    historical "simhash_sigs" store), then q_simhash_pairs — the
    full-corpus pair set must equal the inline operator over all
    documents, not the incremental twin's subset."""
    import lion_parcel_etl_spark.operators.dedup as DD
    import lion_parcel_etl_spark.plans.queries as Q

    Q.q_simhash_incremental(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inline = DD.simhash_near_dup(
        docs, "doc_id", "text", max_hamming=Q.SIMHASH_MAX_HAMMING
    )
    via_store = Q.q_simhash_pairs(spark, sf_dir)
    # sorted-rows equality, not exceptAll: Spark 4.1's exceptAll over
    # this dropDuplicates+join shape trips an INTERNAL_ERROR_ATTRIBUTE_
    # NOT_FOUND planner bug (hamming#N lost in the replace-ops rewrite)
    got = sorted(map(tuple, via_store.collect()))
    want = sorted(map(tuple, inline.collect()))
    assert got == want and len(got) > 0


def test_session_stores_byte_identical_to_inline_builds(spark, sf_dir):
    """Every r09 family store must serve EXACTLY the rows its inline
    build produces — the property that makes store-backed plans safe
    on the oracle hash path. Compares sorted row sets (store scan vs a
    fresh inline build) for each new store at fixture scale."""
    import lion_parcel_etl_spark.operators.dedup as DD
    import lion_parcel_etl_spark.operators.similarity as SIM
    import lion_parcel_etl_spark.plans.queries as Q
    from lion_parcel_etl_spark.operators.sampling import id_hash
    from lion_parcel_etl_spark.operators.text import bpe_merges
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    inline_builds = {
        "fused_multi": Q.STORES["fused_multi"](spark, sf_dir),
        "minhash_pairs": DD.minhash_near_dup(
            docs, "doc_id", "text", threshold=Q.JACCARD_THRESHOLD
        ),
        "ngram_pairs": DD.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=Q.JACCARD_THRESHOLD
        ),
        "emb_pairs": SIM.embedding_near_dup(emb, threshold=0.35, n_blocks=8),
        "kmv_hashes": Q._kmv_shingle_keys(spark, sf_dir)
        .select("source", id_hash(F.col("s"), salt="kmv").alias("h"))
        .distinct(),
        "bpe_merges": bpe_merges(docs, "text", k_merges=Q.BPE_K_MERGES),
        "rfm_base": Q.STORES["rfm_base"](spark, sf_dir),
    }
    for name, inline in inline_builds.items():
        stored = Q._session_store(spark, sf_dir, name)
        got = sorted(map(tuple, stored.collect()))
        want = sorted(map(tuple, inline.collect()))
        assert got == want, f"store {name} diverges from inline build"
        assert len(got) > 0, f"store {name} is empty at fixture scale"
