"""hash_split / stratified_sample: determinism, stability under
repartition, exact per-stratum counts."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from lion_parcel_etl_spark.operators.sampling import hash_split, stratified_sample


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def test_hash_split_is_total_and_disjoint(docs):
    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert out.filter(F.col("split").isNull()).count() == 0
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = docs.count()
    assert sum(counts.values()) == n
    # proportions within loose tolerance at fixture scale
    assert abs(counts.get("train", 0) / n - 0.8) < 0.1


def test_hash_split_stable_under_repartition(docs):
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {(r["doc_id"], r["split"]) for r in hash_split(docs, "doc_id", w).collect()}
    b = {
        (r["doc_id"], r["split"])
        for r in hash_split(docs.repartition(7), "doc_id", w).collect()
    }
    assert a == b  # unlike randomSplit, layout never changes assignment


def test_stratified_sample_exact_counts(docs):
    frac = 0.2
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    out = stratified_sample(docs, ["lang"], frac, "doc_id")
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {k: math.ceil(v * frac) for k, v in sizes.items()}
    assert set(got) == set(sizes)  # every stratum represented


def test_stratified_sample_deterministic(docs):
    a = {r["doc_id"] for r in stratified_sample(docs, ["lang"], 0.3, "doc_id").collect()}
    b = {r["doc_id"] for r in stratified_sample(docs, ["lang"], 0.3, "doc_id").collect()}
    assert a == b
    c = {r["doc_id"] for r in stratified_sample(docs, ["lang"], 0.3, "doc_id", salt="s2").collect()}
    assert a != c  # a different salt draws a different sample


def test_rate_sample_by_group_deterministic_and_monotone(spark):
    """The md5 coin: re-runs identical; raising a group's rate only
    ADDS rows (yesterday's sample survives tomorrow's rate bump);
    unseen groups fall back to default_rate."""
    from lion_parcel_etl_spark.operators.sampling import rate_sample_by_group

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], "id long, src string"
    )
    a1 = {r.id for r in rate_sample_by_group(df, "src", {"s0": 0.5}, "id").collect()}
    a2 = {r.id for r in rate_sample_by_group(df, "src", {"s0": 0.5}, "id").collect()}
    assert a1 == a2
    bigger = {r.id for r in rate_sample_by_group(df, "src", {"s0": 0.9}, "id").collect()}
    assert a1 <= bigger
    # default_rate=0: unseen groups fully dropped
    assert all(i % 3 == 0 for i in a1)
    # default keeps unknown groups at the fallback rate
    with_default = rate_sample_by_group(df, "src", {"s0": 0.5}, "id", default_rate=1.0)
    assert with_default.filter("src != 's0'").count() == 200


def test_cap_per_group_bounds_and_is_layout_independent(spark):
    from lion_parcel_etl_spark.operators.sampling import cap_per_group

    df = spark.range(200).selectExpr(
        "id AS doc_id", "CAST(id % 3 AS STRING) AS grp"
    )
    capped = cap_per_group(df, "grp", "doc_id", 10)
    sizes = {r.grp: r.n for r in capped.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert all(n == 10 for n in sizes.values())
    # identical survivors under a different partition layout
    a = sorted(r.doc_id for r in capped.collect())
    b = sorted(
        r.doc_id for r in cap_per_group(df.repartition(13), "grp", "doc_id", 10).collect()
    )
    assert a == b
    # groups smaller than the cap pass through whole
    small = spark.range(4).selectExpr("id AS doc_id", "'g' AS grp")
    assert cap_per_group(small, "grp", "doc_id", 10).count() == 4


def test_pack_sequences_bins_respect_streaming_budget(spark):
    from lion_parcel_etl_spark.operators.sampling import pack_sequences

    docs = spark.range(300).selectExpr(
        "id AS doc_id", "CAST(20 + id % 50 AS LONG) AS n"
    )
    packed = pack_sequences(docs, "doc_id", "n", budget=100, shards=4)
    rows = packed.collect()
    # bins are contiguous in id order within a shard, and a bin's total
    # excluding its last (overflow) doc stays under budget
    by_bin = {}
    for r in rows:
        by_bin.setdefault((r.shard, r.bin), []).append((r.doc_id, r.n_tokens))
    for (shard, b), docs_in in by_bin.items():
        docs_in.sort()
        total_wo_last = sum(n for _, n in docs_in[:-1])
        assert total_wo_last < 100, (shard, b, docs_in)
    # deterministic under repartition
    again = pack_sequences(
        docs.repartition(7), "doc_id", "n", budget=100, shards=4
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_hash_split_null_ids_distribute_not_contaminate(spark):
    """NULL ids hash via a sentinel: they get a deterministic split
    like any id instead of all landing in the last (smallest) split."""
    from lion_parcel_etl_spark.operators.sampling import hash_split, id_hash

    df = spark.createDataFrame([(None,), (1,), (2,)], "doc_id long")
    out = {
        (r.doc_id, r.split)
        for r in hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()
    }
    null_split = next(s for d, s in out if d is None)
    # the sentinel hash is deterministic, not the fallback branch
    h = df.filter("doc_id IS NULL").select(id_hash(F.col("doc_id")).alias("h")).collect()
    assert h[0].h is not None
    u = h[0].h / float(1 << 60)
    want = "train" if u < 0.8 else ("val" if u < 0.9 else "test")
    assert null_split == want


def test_stratified_sample_exact_ceil_no_float_ulp(spark):
    """100 rows at fraction 0.07 must yield exactly ceil(7)=7, not 8
    (100*0.07 is one ulp above 7.0 in IEEE doubles)."""
    from lion_parcel_etl_spark.operators.sampling import stratified_sample

    df = spark.range(100).selectExpr("id AS doc_id", "'g' AS grp")
    assert stratified_sample(df, ["grp"], 0.07, "doc_id").count() == 7


def test_epoch_shuffle_is_dense_permutation(docs):
    from lion_parcel_etl_spark.operators.sampling import epoch_shuffle

    n = docs.count()
    out = epoch_shuffle(docs, "doc_id", epoch=0, buckets=16)
    stats = out.agg(
        F.count("*").alias("n"),
        F.count_distinct("pos").alias("d"),
        F.min("pos").alias("lo"),
        F.max("pos").alias("hi"),
    ).collect()[0]
    # dense permutation 0..n-1: n rows, n distinct positions, exact bounds
    assert (stats["n"], stats["d"], stats["lo"], stats["hi"]) == (n, n, 0, n - 1)


def test_epoch_shuffle_deterministic_and_epoch_independent(docs):
    from lion_parcel_etl_spark.operators.sampling import epoch_shuffle

    a = {(r["doc_id"], r["pos"]) for r in epoch_shuffle(docs, "doc_id", epoch=0).collect()}
    b = {
        (r["doc_id"], r["pos"])
        for r in epoch_shuffle(docs.repartition(7), "doc_id", epoch=0).collect()
    }
    assert a == b  # layout never changes the order
    c = {(r["doc_id"], r["pos"]) for r in epoch_shuffle(docs, "doc_id", epoch=1).collect()}
    assert a != c  # each epoch draws an independent permutation
    # bucket count is a parallelism knob, not a semantics knob
    d = {
        (r["doc_id"], r["pos"])
        for r in epoch_shuffle(docs, "doc_id", epoch=0, buckets=8).collect()
    }
    assert a == d


def test_epoch_shuffle_rejects_non_power_of_two_buckets(docs):
    from lion_parcel_etl_spark.operators.sampling import epoch_shuffle

    with pytest.raises(ValueError, match="power of two"):
        epoch_shuffle(docs, "doc_id", buckets=48)


def test_interleave_by_weight_schedule_frequencies(docs):
    """In any vtime prefix, each group's row count tracks its weight:
    group g has consumed floor/ceil of (t * w_g) rows by virtual time
    t (stride scheduling's lag bound), and within a group rows play
    in their epoch-shuffled rank order."""
    from lion_parcel_etl_spark.operators.sampling import interleave_by_weight

    weights = {"src0": 4.0, "src1": 2.0, "src2": 1.0}
    out = interleave_by_weight(
        docs, "doc_id", "source", weights, default_weight=0.5, epoch=0
    )
    rows = sorted(out.collect(), key=lambda r: (r["vtime"], r["doc_id"]))
    sizes = {r["source"]: r["n"] for r in
             docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # take a prefix well inside every group's schedule
    t = min(n / weights.get(s, 0.5) for s, n in sizes.items()) / 2.0
    prefix = [r for r in rows if r["vtime"] <= t]
    from collections import Counter

    got = Counter(r["source"] for r in prefix)
    for s in sizes:
        w = weights.get(s, 0.5)
        # rank r plays at (r - 0.5)/w <= t  =>  r <= t*w + 0.5
        assert got[s] == int(t * w + 0.5), (s, got[s], t * w)


def test_interleave_by_weight_deterministic_and_layout_free(docs):
    from lion_parcel_etl_spark.operators.sampling import interleave_by_weight

    weights = {"src0": 2.0}
    a = {(r["doc_id"], r["vtime"]) for r in
         interleave_by_weight(docs, "doc_id", "source", weights).collect()}
    b = {(r["doc_id"], r["vtime"]) for r in
         interleave_by_weight(docs.repartition(9), "doc_id", "source", weights).collect()}
    assert a == b


def test_reservoir_sample_exact_k_and_layout_independent(docs):
    from lion_parcel_etl_spark.operators.sampling import reservoir_sample

    a = {r["doc_id"] for r in reservoir_sample(docs, "doc_id", 50).collect()}
    b = {r["doc_id"] for r in reservoir_sample(docs.repartition(7), "doc_id", 50).collect()}
    assert len(a) == 50 and a == b
    c = {r["doc_id"] for r in reservoir_sample(docs, "doc_id", 50, salt="s2").collect()}
    assert a != c  # a different salt draws an independent sample


def test_reservoir_sample_append_stable(docs):
    """Appending rows only evicts boundary rows: the new sample is a
    subset of old-sample ∪ new-rows — no unrelated resampling, the
    property randomSplit/takeSample lack."""
    from lion_parcel_etl_spark.operators.sampling import reservoir_sample

    old = docs.filter(F.col("n_chars") % 2 == 0)
    before = {r["doc_id"] for r in reservoir_sample(old, "doc_id", 50).collect()}
    after = {r["doc_id"] for r in reservoir_sample(docs, "doc_id", 50).collect()}
    appended = {r["doc_id"] for r in docs.filter(F.col("n_chars") % 2 != 0).select("doc_id").collect()}
    assert after <= before | appended


def test_reservoir_sample_matches_brute_force_min_k(docs):
    from lion_parcel_etl_spark.operators.sampling import id_hash, reservoir_sample

    hashes = docs.select("doc_id", id_hash(F.col("doc_id")).alias("h")).collect()
    want = {r["doc_id"] for r in sorted(hashes, key=lambda r: (r["h"], r["doc_id"]))[:25]}
    got = {r["doc_id"] for r in reservoir_sample(docs, "doc_id", 25).collect()}
    assert got == want


def test_weighted_sample_matches_reference_priorities(docs):
    """The k selected rows are exactly the k smallest u/weight
    priorities recomputed row-by-row in Python."""
    from lion_parcel_etl_spark.operators.sampling import (
        HASH_MOD,
        id_hash,
        weighted_sample,
    )

    rows = docs.select("doc_id", "n_chars", id_hash(F.col("doc_id")).alias("h")).collect()
    pri = sorted(
        ((float(r["h"] + 1) / float(HASH_MOD)) / float(r["n_chars"]), r["doc_id"])
        for r in rows
        if r["n_chars"] > 0
    )
    want = {d for _, d in pri[:40]}
    got = {r["doc_id"] for r in weighted_sample(docs, "doc_id", "n_chars", 40).collect()}
    assert got == want


def test_weighted_sample_prefers_heavy_rows(spark):
    """A row with 100x the weight of its peers should be sampled in
    nearly every independent draw (inclusion ~ proportional to
    weight); a featherweight row almost never."""
    from lion_parcel_etl_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [("heavy", 10000.0)] + [(f"d{i}", 100.0) for i in range(100)] + [("light", 1.0)],
        ["id", "w"],
    )
    heavy_hits = light_hits = 0
    for s in range(12):
        picked = {r["id"] for r in weighted_sample(df, "id", "w", 20, salt=f"t{s}").collect()}
        heavy_hits += "heavy" in picked
        light_hits += "light" in picked
    assert heavy_hits >= 11
    assert light_hits <= 2


def test_weighted_sample_excludes_nonpositive_and_null_weights(spark):
    from lion_parcel_etl_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [("a", 5.0), ("b", 0.0), ("c", -1.0), ("d", None), ("e", 2.0)],
        ["id", "w"],
    )
    picked = {r["id"] for r in weighted_sample(df, "id", "w", 10).collect()}
    assert picked == {"a", "e"}


def test_bucketed_prefix_sum_equals_global_window(spark):
    """The bucket-parallel running sum must equal the true per-group
    global window cumsum in (hash, id) order, for every bucket count."""
    import hashlib

    from lion_parcel_etl_spark.operators.sampling import _bucketed_prefix_sum

    rows = [(f"id{i:03d}", f"g{i % 3}", (i * 7) % 11 + 1) for i in range(120)]
    df = spark.createDataFrame(rows, ["id", "g", "v"])

    def h(i):
        return int(hashlib.md5(f"{i}s".encode()).hexdigest()[:15], 16)

    expected = {}
    for g in {r[1] for r in rows}:
        run = 0
        for rid, _, v in sorted(
            (r for r in rows if r[1] == g), key=lambda r: (h(r[0]), r[0])
        ):
            run += v
            expected[rid] = run
    for buckets in (1, 4, 64):
        got = {
            r["id"]: r["__cum"]
            for r in _bucketed_prefix_sum(
                df, "id", ["g"], "v", "s", buckets
            ).collect()
        }
        assert got == expected, f"buckets={buckets}"


def test_bucketed_prefix_sum_handles_negative_values(spark):
    """Bucket offsets must equal true prefix sums even when values go
    negative (a cumsum can peak mid-bucket, so a max-of-cumsum total
    would shift every later bucket)."""
    import hashlib

    from lion_parcel_etl_spark.operators.sampling import _bucketed_prefix_sum

    rows = [(f"n{i:03d}", (-13) ** (i % 3) + i % 7 - 3) for i in range(90)]
    df = spark.createDataFrame(rows, "id string, v long")

    def h(i):
        return int(hashlib.md5(f"{i}x".encode()).hexdigest()[:15], 16)

    run, expected = 0, {}
    for rid, v in sorted(rows, key=lambda r: (h(r[0]), r[0])):
        run += v
        expected[rid] = run
    got = {
        r["id"]: r["__cum"]
        for r in _bucketed_prefix_sum(df, "id", [], "v", "x", 8).collect()
    }
    assert got == expected


def test_token_budget_select_greedy_prefix(spark):
    """Kept set per group is exactly the greedy hash-order prefix whose
    inclusive total stays within that group's budget; the
    boundary-crossing doc is dropped, not truncated."""
    from lion_parcel_etl_spark.operators.sampling import token_budget_select

    rows = [(f"d{i:02d}", "a" if i < 20 else "b", 10 + i % 5) for i in range(40)]
    df = spark.createDataFrame(rows, ["id", "src", "n"])
    out = token_budget_select(
        df, "id", "src", "n", budgets={"a": 60}, default_budget=45, buckets=8
    ).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["src"], []).append(r)
    for src, budget in (("a", 60), ("b", 45)):
        kept = sorted(by_group.get(src, []), key=lambda r: r["cum_tokens"])
        assert kept, src
        # inclusive totals never exceed budget and are the running sum
        run = 0
        for r in kept:
            run += r["n"]
            assert r["cum_tokens"] == run
            assert run <= budget
        # greedy: no further doc in the group could still have fit is
        # guaranteed by the prefix property checked above plus the
        # equality with the bucketed cumsum tested separately
        total = sum(n for _, s, n in rows if s == src)
        assert run > budget - 15 or run == total


class TestTemperatureMix:
    def test_alpha_one_is_natural_proportions(self, spark):
        from lion_parcel_etl_spark.operators.sampling import temperature_mix

        df = spark.createDataFrame(
            [(i, "big" if i < 90 else "small") for i in range(100)],
            "id long, src string",
        )
        out = {
            r.src: r
            for r in temperature_mix(
                df, "src", alpha=1.0, total_budget=1000
            ).collect()
        }
        assert out["big"].target_rows == 900
        assert out["small"].target_rows == 100
        assert out["small"].epochs == 10.0

    def test_alpha_zero_is_uniform(self, spark):
        from lion_parcel_etl_spark.operators.sampling import temperature_mix

        df = spark.createDataFrame(
            [(i, "a" if i < 99 else "b") for i in range(100)],
            "id long, src string",
        )
        out = {
            r.src: r.target_rows
            for r in temperature_mix(
                df, "src", alpha=0.0, total_budget=1000
            ).collect()
        }
        assert out == {"a": 500, "b": 500}

    def test_smoothing_upweights_small_sources(self, spark):
        from lion_parcel_etl_spark.operators.sampling import temperature_mix

        df = spark.createDataFrame(
            [(i, "big" if i < 96 else "small") for i in range(100)],
            "id long, src string",
        )
        out = {
            r.src: r
            for r in temperature_mix(
                df, "src", alpha=0.5, total_budget=1000
            ).collect()
        }
        # sqrt smoothing: 96/4 natural ratio becomes sqrt ratio ~ 9.8/2
        assert out["small"].p_sample > 4 / 100
        assert abs(out["big"].p_sample / out["small"].p_sample - (96 / 4) ** 0.5) < 0.01


def test_cluster_split_never_leaks_pairs(spark):
    from lion_parcel_etl_spark.operators.sampling import cluster_split

    # clusters {1,2,3} and {10,11}; 20,21 singletons
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = cluster_split(
        docs, pairs, "doc_id", {"train": 0.5, "val": 0.25, "test": 0.25}
    ).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    cid = {r["doc_id"]: r["cluster_id"] for r in out}
    # whole cluster shares one split → no pair straddles
    assert split_of[1] == split_of[2] == split_of[3]
    assert split_of[10] == split_of[11]
    # canonical min-id labels
    assert cid[1] == cid[2] == cid[3] == 1
    assert cid[10] == cid[11] == 10
    assert cid[20] == 20 and cid[21] == 21


def test_cluster_split_append_inherits_cluster_split(spark):
    from lion_parcel_etl_spark.operators.sampling import cluster_split

    docs1 = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs1 = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    w = {"train": 0.5, "test": 0.5}
    first = {
        r["doc_id"]: r["split"]
        for r in cluster_split(docs1, pairs1, "doc_id", w).collect()
    }
    # new doc 3 joins the existing cluster (min id 1 unchanged)
    docs2 = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    pairs2 = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    second = {
        r["doc_id"]: r["split"]
        for r in cluster_split(docs2, pairs2, "doc_id", w).collect()
    }
    assert second[1] == first[1] and second[2] == first[2]
    assert second[3] == second[1]
