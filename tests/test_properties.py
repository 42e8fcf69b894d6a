"""Property-based invariants for the materializers (hypothesis).

The reference documents merge/SCD behavior only through a worked example
(retail_transactions_scd.sql:222-258); these properties pin the
semantics for ANY input: key preservation, update-wins, idempotence,
single-current-per-key, and interval contiguity.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lion_parcel_etl_spark.operators.merge_upsert import merge_upsert
from lion_parcel_etl_spark.operators.scd2 import scd2_apply

KEYS = st.integers(min_value=0, max_value=9)
VALS = st.sampled_from(["a", "b", "c", None])

ROWS = st.lists(st.tuples(KEYS, VALS), max_size=12).map(
    lambda rows: list({k: (k, v) for k, v in rows}.values())  # unique keys
)

SLOW_OK = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _df(spark, rows):
    return spark.createDataFrame(rows or [(None, None)], "id int, val string").filter(
        F.col("id").isNotNull()
    )


@given(target=ROWS, updates=ROWS)
@SLOW_OK
def test_merge_upsert_key_semantics(spark, target, updates):
    t, u = _df(spark, target), _df(spark, updates)
    out = {r["id"]: r["val"] for r in merge_upsert(t, u, keys=["id"]).collect()}
    tk = dict(target)
    uk = dict(updates)
    assert set(out) == set(tk) | set(uk)
    for k, v in uk.items():
        assert out[k] == v  # update wins
    for k, v in tk.items():
        if k not in uk:
            assert out[k] == v  # unmatched target retained


@given(target=ROWS, updates=ROWS)
@SLOW_OK
def test_merge_upsert_idempotent(spark, target, updates):
    t, u = _df(spark, target), _df(spark, updates)
    once = merge_upsert(t, u, keys=["id"])
    twice = merge_upsert(once, u, keys=["id"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


SNAPS = st.lists(
    st.lists(st.tuples(KEYS, st.sampled_from(["a", "b", "c"])), max_size=8).map(
        lambda rows: list({k: (k, v) for k, v in rows}.values())
    ),
    min_size=1,
    max_size=3,
)


def _snap_df(spark, rows, ts):
    """Snapshot of ``rows`` at ``ts``, which is also its ``run_at`` clock."""
    data = [(k, v, ts) for k, v in rows] or [(None, None, None)]
    df = spark.createDataFrame(data, "id int, val string, snap_ts string")
    return df.filter(F.col("id").isNotNull()).withColumn(
        "snap_ts", F.to_timestamp("snap_ts")
    ).withColumn("run_at", F.col("snap_ts"))


@given(snaps=SNAPS)
@SLOW_OK
def test_scd2_invariants_across_runs(spark, snaps):
    state = None
    run_days = [f"2024-01-{d + 1:02d} 00:00:00" for d in range(len(snaps))]
    for rows, run_ts in zip(snaps, run_days):
        snap = _snap_df(spark, rows, run_ts)
        state = scd2_apply(state, snap, ["id"], ["val"], "snap_ts", "run_at")
    out = state.collect()

    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r["id"], []).append(r)
    seen_keys = {k for rows in snaps for k, _ in rows}
    assert set(by_key) == seen_keys

    for k, versions in by_key.items():
        currents = [r for r in versions if r["is_current"]]
        assert len(currents) == 1  # exactly one open version per key
        assert str(currents[0]["valid_to"]).startswith("9999-12-31")
        # closed versions chain: each valid_to equals a later valid_from
        closed = sorted(
            (r for r in versions if not r["is_current"]), key=lambda r: r["valid_from"]
        )
        froms = sorted(r["valid_from"] for r in versions)
        for c in closed:
            assert c["valid_to"] in froms
            assert c["valid_from"] <= c["valid_to"]

    # and the state is exactly that of a pure-Python SCD2 over the runs
    meta = ["valid_from", "valid_to", "is_current", "dw_inserted_at", "dw_updated_at"]
    got = state.select("id", "val", *[F.col(c).cast("string") for c in meta])
    got = sorted(tuple(r) for r in got.collect())
    assert got == sorted(_scd2_model(snaps, run_days))


def _scd2_model(snaps, run_days):
    """SCD2 over ``snaps`` (one per run, snapshot ts = run ts) as rows of
    (id, val, valid_from, valid_to, is_current, dw_inserted_at,
    dw_updated_at), timestamps as strings."""
    end = "9999-12-31 23:59:59"
    state: list[tuple] = []
    for rows, ts in zip(snaps, run_days):
        cur = {r[0]: r for r in state if r[4] == "true"}
        for k, v in rows:
            prev = cur.get(k)
            if prev is None:
                state.append((k, v, ts, end, "true", ts, ts))
            elif prev[1] != v:
                state.remove(prev)
                state.append(prev[:3] + (ts, "false", prev[5], ts))
                state.append((k, v, ts, end, "true", prev[5], ts))
    return state


@given(rows=ROWS.filter(lambda r: len(r) > 0))
@SLOW_OK
def test_scd2_unchanged_snapshot_is_noop(spark, rows):
    rows = [(k, v or "x") for k, v in rows]
    s1 = _snap_df(spark, rows, "2024-01-01 00:00:00")
    state1 = scd2_apply(None, s1, ["id"], ["val"], "snap_ts", "run_at")
    s2 = _snap_df(spark, rows, "2024-01-02 00:00:00")
    state2 = scd2_apply(state1, s2, ["id"], ["val"], "snap_ts", "run_at")
    c1 = sorted(map(tuple, state1.select("id", "val", "is_current").collect()))
    c2 = sorted(map(tuple, state2.select("id", "val", "is_current").collect()))
    assert c1 == c2


# --- as-of join vs brute force ------------------------------------------

TS = st.integers(min_value=0, max_value=50)
ASOF_LEFT = st.lists(st.tuples(KEYS, TS), min_size=1, max_size=10, unique=True)
ASOF_RIGHT = st.lists(st.tuples(KEYS, TS), max_size=10).map(
    lambda rows: list({(k, t): (k, t, k * 100 + t) for k, t in rows}.values())
)  # unique (key, ts), deterministic payload


@given(left=ASOF_LEFT, right=ASOF_RIGHT, direction=st.sampled_from(["backward", "forward"]))
@SLOW_OK
def test_asof_join_matches_bruteforce(spark, left, right, direction):
    """asof_join == per-row argmin/argmax over the inequality, for ANY
    input: inclusive ties, no-match nulls, both directions."""
    from lion_parcel_etl_spark.operators.temporal import asof_join

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid int, k int, ts int"
    )
    rdf = spark.createDataFrame(right or [(None, None, None)], "k int, ts int, pay int").filter(
        F.col("k").isNotNull()
    )
    out = {
        r["lid"]: (r["pay_r"], r["ts_r"])
        for r in asof_join(ldf, rdf, ["k"], left_ts="ts", direction=direction).collect()
    }

    def brute(k, t):
        if direction == "backward":
            cands = [(rt, pay) for (rk, rt, pay) in (right or []) if rk == k and rt <= t]
            if not cands:
                return (None, None)
            rt, pay = max(cands)
            return (pay, rt)
        cands = [(rt, pay) for (rk, rt, pay) in (right or []) if rk == k and rt >= t]
        if not cands:
            return (None, None)
        rt, pay = min(cands)
        return (pay, rt)

    for i, (k, t) in enumerate(left):
        assert out[i] == brute(k, t), (direction, k, t, out[i], brute(k, t))


# --- range join vs brute force ------------------------------------------

POINTS = st.lists(st.tuples(KEYS, TS), min_size=1, max_size=8, unique=True)
INTERVALS = st.lists(
    st.tuples(KEYS, TS, st.integers(min_value=0, max_value=20)),
    max_size=6,
    unique=True,
).map(lambda rows: [(k, s, s + d) for k, s, d in rows])


@given(points=POINTS, intervals=INTERVALS, bin_s=st.sampled_from([1, 3, 7]))
@SLOW_OK
def test_range_join_matches_bruteforce(spark, points, intervals, bin_s):
    """Bin-discretized range join == brute-force containment for ANY
    input and ANY bin width — including intervals straddling bin edges
    and points exactly on interval endpoints (inclusive both ends)."""
    import datetime as dt

    from lion_parcel_etl_spark.operators.temporal import range_join

    epoch = dt.datetime(2024, 1, 1)

    def ts(s):
        return epoch + dt.timedelta(seconds=s)

    pdf = spark.createDataFrame(
        [(i, k, ts(t)) for i, (k, t) in enumerate(points)],
        "pid int, k int, pts timestamp",
    )
    idf = spark.createDataFrame(
        [(j, k, ts(s), ts(e)) for j, (k, s, e) in enumerate(intervals)]
        or [(None, None, None, None)],
        "iid int, k int, s timestamp, e timestamp",
    ).filter(F.col("iid").isNotNull())

    got = {
        (r["pid"], r["iid"])
        for r in range_join(
            pdf, idf, point_ts="pts", start_col="s", end_col="e", by=["k"], bin_seconds=bin_s
        ).collect()
    }
    want = {
        (i, j)
        for i, (pk, pt) in enumerate(points)
        for j, (ik, s, e) in enumerate(intervals)
        if pk == ik and s <= pt <= e
    }
    assert got == want


# --- stratified sample invariants ----------------------------------------

STRATA_ROWS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=99), st.sampled_from(["a", "b", "c"])),
    min_size=1,
    max_size=20,
).map(lambda rows: list({i: (i, g) for i, g in rows}.values()))


@given(rows=STRATA_ROWS, frac=st.sampled_from([0.1, 0.3, 0.5, 0.9]))
@SLOW_OK
def test_stratified_sample_properties(spark, rows, frac):
    """For ANY strata layout and fraction: per-stratum counts are
    exactly ceil(n*frac), every non-empty stratum is represented, and
    the sample is a subset chosen independently of row order."""
    import math

    from lion_parcel_etl_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(rows, "id int, g string")
    out = stratified_sample(df, ["g"], frac, "id").collect()
    got = {}
    for r in out:
        got.setdefault(r["g"], set()).add(r["id"])
    want_counts = {}
    for _, g in rows:
        want_counts[g] = want_counts.get(g, 0) + 1
    for g, n in want_counts.items():
        assert len(got.get(g, ())) == math.ceil(n * frac)
    # order independence: same sample from a shuffled input
    out2 = stratified_sample(df.orderBy(F.rand(seed=7)), ["g"], frac, "id").collect()
    got2 = {}
    for r in out2:
        got2.setdefault(r["g"], set()).add(r["id"])
    assert got == got2


# --- simhash pigeonhole completeness -------------------------------------

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
DOCS = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=3, max_size=8).map(" ".join),
    min_size=2,
    max_size=8,
    unique=True,
)


@given(texts=DOCS)
@SLOW_OK
def test_simhash_near_dup_finds_every_pair_within_bound(spark, texts):
    """The 16-bit-quarter pigeonhole guarantees NO false negatives at
    Hamming <= 3: the operator's output must equal brute-force all-pairs
    Hamming filtering exactly (verified pairs only, each once)."""
    from lion_parcel_etl_spark.operators.dedup import simhash, simhash_near_dup

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sigs = {r["doc_id"]: r["s"] for r in docs.select("doc_id", simhash(F.col("text")).alias("s")).collect()}
    brute = {
        (a, b): bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
        for a in sigs
        for b in sigs
        if a < b and bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup(docs, "doc_id", "text", max_hamming=3).collect()
    }
    assert got == brute


# --- connected components vs union-find ----------------------------------

EDGES = st.lists(
    st.tuples(st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)),
    min_size=1,
    max_size=25,
).map(lambda es: [(a, b) for a, b in es if a != b] or [(0, 1)])


@given(edges=EDGES)
@SLOW_OK
def test_connected_components_matches_union_find(spark, edges):
    """Any multigraph: labels equal plain union-find components with
    min-node representatives (pointer doubling must change nothing but
    the round count)."""
    from lion_parcel_etl_spark.operators.dedup import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min = {}
    for n in parent:
        comp_min.setdefault(find(n), set()).add(n)
    want = {n: min(m) for _, m in comp_min.items() for n in m}

    df = spark.createDataFrame(edges, "src int, dst int")
    # threshold 0 keeps this property exercising the DISTRIBUTED
    # pointer-doubling rounds (the default gate would route every
    # hypothesis-sized graph through the driver-side fast path, which
    # is itself union-find — a vacuous comparison)
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, small_graph_threshold=0).collect()
    }
    assert got == want


@settings(deadline=None, max_examples=15, suppress_health_check=list(HealthCheck))
@given(
    drops=st.lists(st.sampled_from(["a", "b", "c"]), min_size=3, max_size=3),
    splits=st.lists(st.integers(0, 2), min_size=6, max_size=6),
)
def test_union_evolve_row_and_column_closure(spark, drops, splits):
    """union_evolve over ANY batch split with ANY per-batch column
    drop: total rows are preserved, the united schema is the union of
    surviving columns, and dropped cells come back as nulls."""
    from lion_parcel_etl_spark.operators.merge_upsert import union_evolve

    rows = [(i, i * 10, float(i), f"s{i}") for i in range(6)]
    batches = [[], [], []]
    for r, b in zip(rows, splits):
        batches[b].append(r)
    dfs = []
    for bi, batch in enumerate(batches):
        if not batch:
            continue
        df = spark.createDataFrame(batch, "id long, a long, b double, c string")
        df = df.drop(drops[bi])  # schema drift: this batch lost a column
        dfs.append(df)
    if not dfs:
        return
    out = union_evolve(dfs)
    assert out.count() == sum(len(b) for b in batches if b)
    survivors = {"id"} | {c for bi, b in enumerate(batches) if b
                          for c in ("a", "b", "c") if c != drops[bi]}
    assert set(out.columns) == survivors
    # every value that survived its batch's drop is intact
    col_idx = {"id": 0, "a": 1, "b": 2, "c": 3}
    got = {r["id"]: r.asDict() for r in out.collect()}
    for bi, batch in enumerate(batches):
        for row in batch:
            for c in survivors - {"id"}:
                want = None if c == drops[bi] else row[col_idx[c]]
                assert got[row[0]].get(c) == want


@given(
    stream=st.lists(st.sampled_from("abcdef"), max_size=60),
    cap=st.integers(min_value=1, max_value=5),
)
@SLOW_OK
def test_misra_gries_undercount_bound(spark, stream, cap):
    """Textbook MG guarantees on a single partition, for ANY stream:
    estimates never exceed true counts, undercount is at most
    floor(N/(cap+1)) (one per decrement event), and every item whose
    true count clears that band survives — the exact property
    frequent_items_exact's candidate-superset argument relies on
    (a batched subtract-the-min decrement violates all three)."""
    from collections import Counter

    from lion_parcel_etl_spark.operators.sketches import _mg_partials

    df = spark.createDataFrame([(s,) for s in stream], "v string").coalesce(1)
    partials = {r.v: r.est for r in _mg_partials(df, "v", cap).collect()}
    true = Counter(stream)
    n = len(stream)
    band = n // (cap + 1)
    for v, est in partials.items():
        assert 0 < est <= true[v]
        assert true[v] - est <= band
    for v, c in true.items():
        if c > band:
            assert v in partials, (v, c, band, partials)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(
    batches=st.lists(
        st.tuples(
            st.lists(st.tuples(KEYS, st.integers(0, 99)), min_size=1, max_size=6).map(
                lambda rows: list({k: (k, v) for k, v in rows}.values())
            ),
            st.booleans(),  # gains 'extra'?
            st.booleans(),  # widens 'amount' to bigint?
        ),
        min_size=1,
        max_size=4,
    )
)
def test_merge_upsert_evolve_replay_invariants(spark, batches):
    """merge_upsert_evolve over ANY drift sequence (each batch may gain
    a column and/or widen a column): last-writer-wins per key, no key
    ever lost, the mart schema always equals the latest batch's
    evolved shape, and surviving values are intact."""
    from lion_parcel_etl_spark.operators.merge_upsert import merge_upsert_evolve

    target = None
    want: dict[int, dict] = {}
    last_cols: list[str] = []
    for rows, gains, widens in batches:
        cols = ["id", "amount"] + (["extra"] if gains else [])
        typ = "bigint" if widens else "int"
        data = [
            (k, v * (2**34 if widens else 1)) + ((f"x{k}",) if gains else ())
            for k, v in rows
        ]
        batch = spark.createDataFrame(
            data, f"id int, amount {typ}" + (", extra string" if gains else "")
        )
        target = merge_upsert_evolve(target, batch, ["id"])
        for row, (k, _v) in zip(data, rows):
            want[k] = dict(zip(cols, row))
        # sync_all_columns: departed columns vanish for EVERYONE
        for k in want:
            want[k] = {c: want[k].get(c) for c in cols}
        last_cols = cols
    got = {r["id"]: r.asDict() for r in target.collect()}
    assert set(got) == set(want)
    assert set(target.columns) == set(last_cols)
    for k, row in want.items():
        assert got[k] == row, (k, got[k], row)


IDS = st.lists(
    st.text(alphabet="abcdef0123456789_", min_size=0, max_size=12),
    max_size=40,
    unique=True,
)
BUCKET_POW = st.sampled_from([1, 2, 8, 64])


@given(ids=IDS, buckets=BUCKET_POW, epoch=st.integers(min_value=0, max_value=3))
@SLOW_OK
def test_bucketed_rank_equals_global_sort_rank(spark, ids, buckets, epoch):
    """The bucket-parallel dense rank must equal the naive single-task
    global rank for ANY id set, bucket count, and epoch: contiguous
    hash-range buckets + per-bucket row_number + prefix-sum offsets
    is exactly ORDER BY (hash, id)."""
    from lion_parcel_etl_spark.operators.sampling import epoch_shuffle, id_hash

    df = spark.createDataFrame(
        [(i,) for i in ids] or [(None,)], "id string"
    ).filter(F.col("id").isNotNull())
    got = {
        r["id"]: r["pos"]
        for r in epoch_shuffle(df, "id", epoch=epoch, buckets=buckets).collect()
    }
    hashes = {
        r["id"]: r["h"]
        for r in df.select(
            "id", id_hash(F.col("id"), salt=f"|epoch={epoch}").alias("h")
        ).collect()
    }
    want = {
        i: pos
        for pos, i in enumerate(sorted(ids, key=lambda i: (hashes[i], i)))
    }
    assert got == want


VECS = st.lists(
    st.lists(
        st.floats(
            min_value=-10.0, max_value=10.0, allow_nan=False, width=32
        ),
        max_size=6,
    ),
    max_size=10,
)


@given(vecs=VECS)
@SLOW_OK
def test_quantize_matches_numpy_reference(spark, vecs):
    """For ANY float32 vectors: scale equals numpy's max|x| exactly,
    codes equal round-half-away-from-zero of x/scale*127 computed in
    float64, and degenerate vectors (empty/all-zero) yield NULL codes
    with scale 0."""
    import numpy as np

    from lion_parcel_etl_spark.operators.similarity import quantize_embeddings

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows or [(0, None)], "vec_id long, embedding array<float>"
    ).filter(F.col("vec_id") < len(rows))
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    for i, v in rows:
        v32 = np.array(v, dtype=np.float32).astype(np.float64)
        scale = float(np.max(np.abs(v32))) if len(v32) else 0.0
        assert got[i]["scale"] == scale
        if scale == 0.0:
            assert got[i]["qvec"] is None
        else:
            x = v32 / scale * 127.0
            want = [int(np.floor(abs(t) + 0.5) * np.sign(t)) for t in x]
            assert got[i]["qvec"] == want, (v, got[i]["qvec"], want)


WORDS = st.lists(
    st.text(alphabet="abcx", min_size=1, max_size=6), min_size=1, max_size=20
)


@given(words=WORDS)
@SLOW_OK
def test_bpe_merge_step_equals_python_fold(spark, words):
    """_bpe_merge_step == the sequential greedy left-to-right merge on
    arbitrary symbol strings, including self-pairs and overlap runs."""
    from lion_parcel_etl_spark.operators.text import _bpe_merge_step

    pairs = [("a", "b"), ("a", "a"), ("x", "a")]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    for a, b in pairs:
        got = {
            r["w"]: r["m"]
            for r in df.select("w", _bpe_merge_step(F.split("w", ""), a, b).alias("m")).collect()
        }
        for w in set(words):
            out: list[str] = []
            for s in list(w):
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            assert got[w] == out, (w, a, b)


WEIGHTED_ROWS = st.lists(
    st.tuples(st.integers(0, 50), st.floats(0.1, 100.0, allow_nan=False)),
    min_size=1,
    max_size=30,
).map(lambda rows: list({k: (k, w) for k, w in rows}.values()))


@given(rows=WEIGHTED_ROWS, k=st.sampled_from([1, 3, 7]))
@SLOW_OK
def test_weighted_sample_is_bottom_k_by_priority(spark, rows, k):
    """The selected set always equals the k smallest u/weight
    priorities recomputed independently — for any weights and k."""
    import hashlib

    from lion_parcel_etl_spark.operators.sampling import HASH_MOD, weighted_sample

    df = spark.createDataFrame(rows, "id int, w double")
    got = {r["id"] for r in weighted_sample(df, "id", "w", k).collect()}

    def h(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    pri = sorted(((h(i) + 1) / float(HASH_MOD) / w, i) for i, w in rows if w > 0)
    want = {i for _, i in pri[:k]}
    assert got == want


WORDS = st.lists(
    st.text(alphabet="abcx", min_size=1, max_size=6), min_size=1, max_size=12
)
MERGES = st.lists(
    st.tuples(
        st.text(alphabet="abcx", min_size=1, max_size=2),
        st.text(alphabet="abcx", min_size=1, max_size=2),
    ),
    min_size=0,
    max_size=4,
)


@given(words=WORDS, merges=MERGES)
@SLOW_OK
def test_bpe_encode_roundtrip_and_python_reference(spark, words, merges):
    """For ANY text and merge list: (1) concatenating the emitted
    pieces reproduces the tokenized text exactly (merging never
    loses or reorders characters), and (2) the piece sequence equals
    an independent Python reference of greedy left-to-right
    non-overlapping merge application in rank order."""
    from lion_parcel_etl_spark.operators.text import bpe_encode

    text = " ".join(words)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    r = bpe_encode(df, merges).collect()[0]

    def apply_merge(syms, left, right):
        out = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
            else:
                out.append(s)
        return out

    want = []
    for w in text.lower().split():
        syms = list(w)
        for left, right in merges:
            syms = apply_merge(syms, left, right)
        want.extend(syms)
    got = r["pieces"].split(" ") if r["pieces"] else []
    assert got == want
    assert r["pieces"].replace(" ", "") == "".join(want)
    assert r["n_pieces"] == len(want)


WORDS = st.sampled_from(["red", "blue", "green", "fast", "slow", "big"])
DOCS = st.lists(
    st.lists(WORDS, min_size=0, max_size=40).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts=DOCS)
@SLOW_OK
def test_span_rewrite_idempotent_and_conserving(spark, texts):
    """remove_duplicate_spans invariants for ANY corpus: (1) chunk
    conservation — n_chunks splits into kept + removed, and the
    rebuilt text is exactly the kept chunks in order; (2) corpus-wide
    idempotence — after one rewrite no duplicated chunk survives, so
    a second pass removes nothing."""
    from lion_parcel_etl_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    once = remove_duplicate_spans(df, "doc_id", "text", window=4)
    rows = once.collect()
    for r in rows:
        kept_tokens = [t for t in r.clean_text.split(" ") if t]
        orig = texts[r.doc_id].split(" ") if texts[r.doc_id] else []
        orig = [t for t in orig if t]
        # kept text is a subsequence of the original token stream
        it = iter(orig)
        assert all(any(t == o for o in it) for t in kept_tokens)
        assert r.n_removed <= r.n_chunks
    again = remove_duplicate_spans(
        once.select("doc_id", F.col("clean_text").alias("text")),
        "doc_id",
        "text",
        window=4,
    ).collect()
    assert all(r.n_removed == 0 for r in again)


@given(texts=DOCS)
@SLOW_OK
def test_mlm_mask_rate_edges_and_shape(spark, texts):
    """mlm_mask at rate 0 masks nothing and reproduces the tokenized
    text; at rate 100 it masks everything; at any rate the masked
    token count equals the label count and the masked stream keeps
    the original length."""
    from lion_parcel_etl_spark.operators.text import mlm_mask

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    zero = {r.doc_id: r for r in mlm_mask(df, rate_pct=0).collect()}
    full = {r.doc_id: r for r in mlm_mask(df, rate_pct=100).collect()}
    mid = {r.doc_id: r for r in mlm_mask(df, rate_pct=30).collect()}
    for i, text in enumerate(texts):
        toks = [t for t in text.lower().split(" ") if t]
        assert zero[i].n_masked == 0
        assert zero[i].masked_text == " ".join(toks)
        assert full[i].n_masked == len(toks)
        r = mid[i]
        stream = r.masked_text.split(" ") if r.masked_text else []
        assert len([s for s in stream if s]) == r.n_tokens
        assert stream.count("[MASK]") >= r.n_masked - sum(
            1 for t in toks if t == "[mask]"
        )
        assert r.n_masked == (
            len([x for x in r.labels.split("; ") if x]) if r.labels else 0
        )


@given(texts=DOCS)
@SLOW_OK
def test_ngram_novelty_bounds(spark, texts):
    """ngram_novelty invariants: fractions in [0,1], 1 ≤ mean_df ≤
    max_df ≤ number of documents, and a doc duplicated verbatim can
    never be fully novel."""
    from lion_parcel_etl_spark.operators.text import ngram_novelty

    rows = list(enumerate(texts)) + [(len(texts), texts[0])]  # dup doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in ngram_novelty(df, n=3).collect()}
    for r in out.values():
        assert 0.0 <= r.novel_frac <= 1.0
        assert 1.0 <= r.mean_df <= r.max_df <= len(rows)
    if 0 in out:  # doc 0 long enough to have 3-grams → its dup shares all
        assert out[0].novel_frac == 0.0


WORDS = st.sampled_from(["alpha", "beta", "gamma", "delta", "spam", "ham"])
DSIR_DOCS = st.lists(
    st.lists(WORDS, min_size=1, max_size=8).map(" ".join),
    min_size=2,
    max_size=10,
)


@given(texts=DSIR_DOCS, parts=st.sampled_from([1, 3, 7]))
@SLOW_OK
def test_dsir_weights_partition_invariant_and_monotone(spark, texts, parts):
    """DSIR weights are pure functions of (corpus multiset, target
    predicate): invariant under repartitioning/row order, and a doc
    whose features all lie in target-heavier buckets never scores
    below one whose features all lie in raw-only buckets of equal
    count (checked via the concrete per-bucket lr signs)."""
    from lion_parcel_etl_spark.operators.selection import (
        dsir_fit,
        dsir_weights,
    )

    from lion_parcel_etl_spark.operators.selection import feature_buckets

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lr = dsir_fit(docs, F.col("doc_id") == 0)  # doc 0 is the target slice
    base = {r["doc_id"]: (r["n_feats"], round(r["logw"], 9))
            for r in dsir_weights(docs, lr).collect()}
    shuffled = {r["doc_id"]: (r["n_feats"], round(r["logw"], 9))
                for r in dsir_weights(docs.repartition(parts), lr).collect()}
    assert base == shuffled
    # monotonicity of the log-ratio itself AT MATCHED COUNTS (a
    # doc-level "target doc beats no-overlap docs" claim is NOT a
    # theorem: a target token that is also raw-frequent can score
    # below a rare raw-only token — the raw penalty is part of the
    # design). For buckets with equal raw count, more target count ⇒
    # strictly higher lr; for equal target count, more raw ⇒ lower.
    fb = feature_buckets(docs.withColumn("__t", F.col("doc_id") == 0),
                         extra_cols=("__t",))
    counts = {
        r["bucket"]: (r["t"], r["r"])
        for r in fb.groupBy("bucket")
        .agg(
            F.sum(F.col("__t").cast("int")).alias("t"),
            F.count(F.lit(1)).alias("r"),
        )
        .collect()
    }
    lrs = {r["bucket"]: r["lr"] for r in lr.collect()}
    items = list(counts.items())
    for b1, (t1, r1) in items:
        for b2, (t2, r2) in items:
            if r1 == r2 and t1 > t2:
                assert lrs[b1] > lrs[b2]
            if t1 == t2 and r1 > r2:
                assert lrs[b1] < lrs[b2]


# --- KMV sketches ----------------------------------------------------------

KMV_SETS = st.lists(
    st.integers(min_value=0, max_value=500), min_size=1, max_size=80
)


@SLOW_OK
@given(a=KMV_SETS, b=KMV_SETS, k=st.sampled_from([4, 16]))
def test_kmv_merge_equals_union_sketch(spark, a, b, k):
    """Mergeability: bottom-k of two sketches' union == sketch of the
    unioned key sets, for ANY inputs and k."""
    from lion_parcel_etl_spark.operators.sketches import kmv_merge, kmv_sketch

    rows = [("a", str(v)) for v in a] + [("b", str(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v string")
    sk = {r["g"]: r["kmv"] for r in kmv_sketch(df, "v", ["g"], k=k).collect()}
    merged_df = spark.createDataFrame(
        [(sk["a"], sk["b"])], "ka array<bigint>, kb array<bigint>"
    ).select(kmv_merge(F.col("ka"), F.col("kb"), k).alias("m"))
    merged = merged_df.collect()[0]["m"]
    union_sk = kmv_sketch(
        spark.createDataFrame(
            [("u", str(v)) for v in set(a) | set(b)], "g string, v string"
        ),
        "v",
        ["g"],
        k=k,
    ).collect()[0]["kmv"]
    assert merged == union_sk


# --- CUSUM closed form -----------------------------------------------------

SERIES = st.lists(
    st.floats(
        min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
    ),
    min_size=2,
    max_size=25,
)


@SLOW_OK
@given(xs=SERIES)
def test_cusum_closed_form_equals_recurrence_any_series(spark, xs):
    import math

    from lion_parcel_etl_spark.operators.checks import cusum_changepoints

    df = spark.createDataFrame(
        [("g", i, float(x)) for i, x in enumerate(xs)],
        "g string, o long, x double",
    )
    got = [
        (r["cusum_up"], r["cusum_down"])
        for r in cusum_changepoints(df, "x", "o", "g").orderBy("o").collect()
    ]
    mu = sum(xs) / len(xs)
    sig = math.sqrt(sum((x - mu) ** 2 for x in xs) / len(xs))
    su = sd = 0.0
    for (gu, gd), x in zip(got, xs):
        su = max(0.0, su + (x - mu - 0.5 * sig))
        sd = max(0.0, sd + (mu - x - 0.5 * sig))
        assert abs(gu - su) < 1e-5 and abs(gd - sd) < 1e-5


# --- Bootstrap determinism -------------------------------------------------

BOOT_VALS = st.lists(
    st.floats(min_value=0, max_value=1000, allow_nan=False, allow_infinity=False),
    min_size=3,
    max_size=40,
)


@SLOW_OK
@given(vals=BOOT_VALS)
def test_bootstrap_ci_invariant_under_row_order(spark, vals):
    """The interval depends only on (id, value) pairs — never on row
    order or partitioning (the id-hash discipline)."""
    from lion_parcel_etl_spark.operators.checks import bootstrap_ci

    rows = [(i, float(v)) for i, v in enumerate(vals)]
    df1 = spark.createDataFrame(rows, "id long, v double")
    df2 = spark.createDataFrame(rows[::-1], "id long, v double").repartition(5)
    r1 = bootstrap_ci(df1, "v", "id", b=50).collect()[0]
    r2 = bootstrap_ci(df2, "v", "id", b=50).collect()[0]
    assert (r1["ci_lo"], r1["ci_hi"], r1["mean"]) == (
        r2["ci_lo"],
        r2["ci_hi"],
        r2["mean"],
    )


SCORE_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),  # score grid → ties likely
        st.integers(min_value=0, max_value=1),
    ),
    min_size=2,
    max_size=30,
)


@SLOW_OK
@given(rows=SCORE_ROWS)
def test_rank_metrics_invariant_under_monotone_score_transform(spark, rows):
    """ROC-AUC and average precision are RANK statistics: any strictly
    increasing transform of the scores (here exp(s/10)) must leave
    both unchanged, as must row order/partitioning."""
    from lion_parcel_etl_spark.operators.evaluation import pr_auc, roc_auc

    import math

    base = [(s / 40.0, y) for s, y in rows]
    warped = [(round(math.exp(s * 2.5), 9), y) for s, y in base]
    d1 = spark.createDataFrame(base, "p double, y int")
    d2 = spark.createDataFrame(warped[::-1], "p double, y int").repartition(5)
    a1 = roc_auc(d1, pred_col=None).collect()[0]
    a2 = roc_auc(d2, pred_col=None).collect()[0]
    assert (a1["auc"], a1["n_pos"], a1["n_neg"]) == (
        a2["auc"], a2["n_pos"], a2["n_neg"],
    )
    p1 = pr_auc(d1).collect()[0]
    p2 = pr_auc(d2).collect()[0]
    assert (p1["ap"], p1["n_pos"], p1["n_neg"]) == (
        p2["ap"], p2["n_pos"], p2["n_neg"],
    )
    if p1["ap"] is not None:
        # AP is bounded by [prevalence-floor, 1]; loose sanity bound
        assert 0.0 <= p1["ap"] <= 1.0


@SLOW_OK
@given(rows=st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 1)), min_size=1, max_size=30
))
def test_agreement_kappa_symmetric_and_bounded(spark, rows):
    """κ(a, b) = κ(b, a) (the statistic is symmetric in its two
    raters) and κ ≤ 1 with po/pe in [0, 1]."""
    from lion_parcel_etl_spark.operators.evaluation import agreement_kappa

    df = spark.createDataFrame(rows, "a int, b int")
    r1 = agreement_kappa(df, "a", "b").collect()[0]
    r2 = agreement_kappa(df, "b", "a").collect()[0]
    assert (r1["po"], r1["pe"], r1["kappa"]) == (r2["po"], r2["pe"], r2["kappa"])
    assert 0.0 <= r1["po"] <= 1.0 and 0.0 <= r1["pe"] <= 1.0
    if r1["kappa"] is not None:
        assert r1["kappa"] <= 1.0
