"""Similarity search over embedding columns (array<float>).

Two paths (BASELINE.json north_star):

- **cosine_topk** — exact brute-force top-k: broadcast the (small)
  query set, score every corpus vector with a JVM-side fold (zip_with +
  aggregate — no Python, no UDF), window top-k per query. At 100 TB
  this is one broadcast-join scan: linear, shuffle only for the final
  per-query top-k (tiny after map-side rank pruning).
- **lsh_topk** — approximate scale path: random-hyperplane signs give a
  b-bit bucket; candidates come from an equi-join on the bucket, then
  exact re-rank. Probing cost drops from |corpus| to the bucket size.

Norms/dot products fold left-to-right, matching the sequential order a
SQL oracle's list functions use, so scores are reproducible.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def quantize_embeddings(
    df: "DataFrame",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> "DataFrame":
    """Symmetric per-vector scalar quantization — the storage layer
    for a 100 TB embedding table (int8 is 4× smaller than float32 and
    what serving stacks ingest; the ANN-side compression twin is
    :func:`pq_codes`). Each vector carries its own ``scale`` =
    max(|x|), and ``qvec[i] = round(x[i] / scale * (2^(bits-1)-1))``;
    dequantization is ``qvec * scale / qmax`` with per-element error
    ≤ scale/(2·qmax). Zero-vector and empty inputs get NULL qvec (no
    meaningful scale; NULL never joins, mirroring the NULL-signature
    convention of the dedup family).

    Pure per-row higher-order expressions: zero shuffle,
    embarrassingly parallel, stable under any layout. The maxabs fold
    is projected in a prior select so downstream consumers reference
    ``scale`` as an attribute (never re-evaluate the fold)."""
    qmax = (1 << (bits - 1)) - 1
    vec = F.col(vec_col)
    # coalesce: a NULL vector gets scale 0.0 (hence NULL qvec), the
    # same degenerate-input convention as zero and empty vectors —
    # and what the registry oracle's COALESCE computes
    maxabs = F.coalesce(
        F.aggregate(
            vec, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
        ),
        F.lit(0.0),
    )
    staged = df.select(F.col(id_col), vec, maxabs.alias("scale"))
    qvec = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") / F.col("scale") * F.lit(float(qmax))).cast("int"),
    )
    return staged.select(
        id_col,
        "scale",
        F.when(F.col("scale") > 0, qvec).alias("qvec"),
    )


def cosine_prenormed(a: Column, b: Column, an: Column, bn: Column) -> Column:
    """cosine with CALLER-precomputed norms. The fold expressions here
    are CodegenFallback (no CSE), so inline ``cosine`` re-evaluates
    each side's norm fold once per pair — against a 16-row broadcast
    centroid table that is 16 redundant 64-element folds per corpus
    vector. Precomputing the norm in the projection before the join
    makes it one fold per VECTOR instead of one per PAIR, with
    bit-identical results (same sequential fold, same value, just
    evaluated once) — so SQL oracles that inline the norm still match.
    """
    d = an * bn
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Self-matches (same id) are excluded. Ties broken by neighbor id so
    results are total-ordered and reproducible.
    """
    # norms staged once per side (cosine_prenormed, bit-identical):
    # inline cosine would re-run the corpus vector's norm fold once
    # per QUERY in the broadcast pair join
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("nq"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("nc"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenormed(F.col("qv"), F.col("cv"), F.col("nq"), F.col("nc")),
                round_digits,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("long").alias("rank"))
    )


def plane_matrix(tables: int, planes: int, dims: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplane coefficients in
    [-0.5, 0.5): md5-derived, so every run (and every engine) builds
    the identical matrix — no RNG state to ship."""
    import hashlib

    rows = tables * planes
    out = np.empty((rows, dims), dtype=np.float64)
    for r in range(rows):
        for d0 in range(0, dims, 4):
            h = hashlib.md5(f"r{r}:d{d0}".encode()).digest()
            u = np.frombuffer(h, dtype=">u4").astype(np.float64)
            out[r, d0 : d0 + 4] = u[: min(4, dims - d0)] / 2**32 - 0.5
    return out


def lsh_buckets_udf(dims: int, planes: int, tables: int):
    """Vectorized bucket assignment: one Arrow batch → one numpy matmul.

    The column-expression alternative is a tables×planes×dims-term tree
    (thousands of scalar ops per row) that overwhelms whole-stage
    codegen; sign-of-projection is linear algebra, which is precisely
    the Pandas-UDF escape hatch's job. Returns array<long>, one bucket
    id per hash table.
    """
    M = plane_matrix(tables, planes, dims)  # (tables*planes, dims)
    weights = 1 << np.arange(planes, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # np.vstack raises on an empty Arrow batch
            return pd.Series([], dtype=object)
        X = np.vstack(vecs.to_numpy())[:, :dims].astype(np.float64)
        bits = (X @ M.T > 0).astype(np.int64)  # (n, tables*planes)
        b = bits.reshape(len(X), tables, planes) @ weights  # (n, tables)
        return pd.Series(list(b))

    return buckets


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 1,
) -> np.ndarray:
    """IVF coarse quantizer: deterministic seeds (lowest-id vectors) +
    k-means refinement passes. Assignment is a distributed Arrow-batched
    argmax; the per-centroid means reduce through ``applyInPandas`` —
    only the (n_centroids × dims) centroid table ever reaches the
    driver, never corpus rows."""
    seeds = (
        corpus.orderBy(id_col).limit(n_centroids).select(vec_col).toPandas()[vec_col]
    )
    C = np.vstack(seeds.to_numpy()).astype(np.float64)
    for _ in range(refine_iters):
        assign = _assign_udf(C)

        def mean_vec(pdf: pd.DataFrame) -> pd.DataFrame:
            m = np.vstack(pdf["v"].to_numpy()).astype(np.float64).mean(axis=0)
            return pd.DataFrame({"cid": [int(pdf["cid"].iloc[0])], "mean": [m.tolist()]})

        means = (
            corpus.select(
                assign(F.col(vec_col)).alias("cid"), F.col(vec_col).alias("v")
            )
            .groupBy("cid")
            .applyInPandas(mean_vec, schema="cid int, mean array<double>")
            .collect()
        )
        for r in means:
            C[r["cid"]] = np.array(r["mean"])
    return C


def _assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """array<int>: the ``nprobe`` nearest centroids by cosine (nprobe=1
    → scalar int for corpus-side assignment)."""
    Cn = centroids / (np.linalg.norm(centroids, axis=1, keepdims=True) + 1e-12)

    if nprobe == 1:

        @F.pandas_udf("int")
        def assign1(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:  # np.vstack raises on an empty batch
                return pd.Series([], dtype="int32")
            X = np.vstack(vecs.to_numpy()).astype(np.float64)
            Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
            return pd.Series(np.argmax(Xn @ Cn.T, axis=1).astype("int32"))

        return assign1

    @F.pandas_udf("array<int>")
    def assign_n(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # np.vstack raises on an empty batch
            return pd.Series([], dtype=object)
        X = np.vstack(vecs.to_numpy()).astype(np.float64)
        Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
        order = np.argsort(-(Xn @ Cn.T), axis=1)[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    return assign_n


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus rows live in their nearest-centroid
    inverted list; each query probes its ``nprobe`` closest lists and
    re-ranks exactly. nprobe = n_centroids degrades gracefully to exact
    brute force (tested). Probe cost ≈ nprobe/n_centroids of the corpus
    per query vs. all of it."""
    if centroids is None:
        centroids = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _assign_udf(centroids)(F.col(vec_col)).alias("cid"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(_assign_udf(centroids, nprobe)(F.col(vec_col))).alias("cid"),
    )
    scored = (
        c.join(F.broadcast(q), on="cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("long").alias("rank"))
    )


def _seq_cosine_block(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """All-pairs cosine between row-blocks A (la×d) and B (lb×d), with
    strictly sequential per-dimension accumulation.

    numpy's ``@`` uses pairwise/blocked summation; a SQL engine's
    ``list_sum`` folds left-to-right. Accumulating one dimension at a
    time reproduces the fold order bit-for-bit, so the raw doubles here
    equal what the JVM fold (``cosine``) and a DuckDB oracle compute —
    rounding then agrees everywhere, including at a threshold boundary.
    Cost is the same O(la·lb·d) flops, just d vectorized outer-updates.
    """
    la, lb = len(A), len(B)
    S = np.zeros((la, lb))
    na = np.zeros(la)
    nb = np.zeros(lb)
    for d in range(A.shape[1]):
        S += np.outer(A[:, d], B[:, d])
        na += A[:, d] * A[:, d]
        nb += B[:, d] * B[:, d]
    den = np.outer(np.sqrt(na), np.sqrt(nb))
    return np.where(den > 0, S / np.where(den > 0, den, 1.0), 0.0)


#: Per-task memory cap for the blocked cosine kernels: the left
#: operand is processed in row chunks sized so no (chunk × |right|)
#: float64 similarity matrix exceeds this many elements (8M ≈ 64 MiB).
#: Without the cap, a diagonal block pair of embedding_near_dup at its
#: documented ~10⁶-vector scope would materialize a (n/8)² matrix —
#: ~1.9 TB per task — long before the scope ends (r08 verdict #6).
#: Chunking rows of the left operand changes NO arithmetic: each
#: similarity row is computed independently dimension-by-dimension, so
#: results stay bit-identical (pytest-pinned with a tiny cap).
MAX_BLOCK_ELEMS = 8_000_000


def embedding_near_dup(
    corpus: DataFrame,
    threshold: float = 0.35,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: every unordered pair
    (id_a < id_b) with round(cosine, 6) >= threshold.

    Blocked all-pairs plan: rows hash into ``n_blocks`` blocks by id;
    each of the B(B+1)/2 unordered block pairs is scored by ONE
    Arrow-batched numpy block product inside a cogrouped
    ``applyInPandas``. Each row is shuffled to ~B/2 block pairs —
    O(n·B) rows moved, never O(n²) joined rows — and the quadratic
    flops happen inside vectorized kernels, not the join planner.
    No driver collect anywhere. Inside each task the left operand is
    chunked to cap the scratch similarity matrix at
    :data:`MAX_BLOCK_ELEMS` float64s (~64 MiB), so per-task memory is
    bounded by a constant regardless of ``n_blocks`` vs corpus-size
    mismatch — the worst-case matrix bytes no longer grow with n².

    Exact all-pairs is intrinsically quadratic in corpus size: this is
    the right tool up to ~10⁶ vectors per run. Past that (the 100 TB
    path), use :func:`embedding_near_dup_lsh`, which prunes candidate
    generation to hash-bucket collisions, or shard by a coarse
    quantizer (IVF) first.
    """
    base = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    all_blocks = F.array(*[F.lit(j) for j in range(n_blocks)])
    # left side carries block bi to every pair (bi, bj>=bi); right side
    # carries block bj to every pair (bi<=bj, bj).
    left = (
        base.withColumn("ob", F.explode(all_blocks))
        .filter(F.col("ob") >= F.col("blk"))
        .select(F.col("blk").alias("bi"), F.col("ob").alias("bj"), "id", "v")
    )
    # the right side renames its payload columns: both sides descend
    # from the same scan, and with identical names/attribute-ids the
    # analyzer resolves the right side's (id, v) to the LEFT's
    # attributes and prunes them out of the right-side plan — the
    # worker then receives a right pdf holding only the key columns.
    right = (
        base.withColumn("ob", F.explode(all_blocks))
        .filter(F.col("ob") <= F.col("blk"))
        .select(
            F.col("ob").alias("bi"),
            F.col("blk").alias("bj"),
            F.col("id").alias("rid"),
            F.col("v").alias("rv"),
        )
    )
    # pre-filter slack: round(x, 6) >= t implies x >= t - 5.1e-7, so a
    # 1e-6 margin never drops a pair the exact filter would keep.
    slack = threshold - 1e-6
    cap = MAX_BLOCK_ELEMS  # closure-captured so tests can pin a tiny cap

    def score(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        if len(l) == 0 or len(r) == 0:
            return empty
        A = np.vstack(l["v"].to_numpy()).astype(np.float64)
        B = np.vstack(r["rv"].to_numpy()).astype(np.float64)
        ida = l["id"].to_numpy()
        idb = r["rid"].to_numpy()
        diag = int(l["bi"].iloc[0]) == int(l["bj"].iloc[0])
        # chunk the left rows so the scratch (chunk × |B|) matrix never
        # exceeds `cap` elements; survivors are extracted per chunk, so
        # peak memory is the capped matrix + the (sparse) result
        step = max(1, cap // max(1, len(B)))
        frames = []
        for s in range(0, len(A), step):
            C = _seq_cosine_block(A[s : s + step], B)
            ida_c = ida[s : s + step]
            if diag:
                # diagonal block pair: both sides are the same row set,
                # so each unordered pair appears at (x,y) AND (y,x) —
                # keep the strict upper triangle only.
                keep = ida_c[:, None] < idb[None, :]
            else:
                # off-diagonal blocks are disjoint id sets: each
                # unordered pair appears exactly once; orient (min, max).
                keep = np.ones_like(C, dtype=bool)
            keep &= C >= slack
            ii, jj = np.nonzero(keep)
            lo = np.minimum(ida_c[ii], idb[jj])
            hi = np.maximum(ida_c[ii], idb[jj])
            frames.append(
                pd.DataFrame(
                    {"id_a": lo, "id_b": hi, "cosine_sim": C[ii, jj]}
                )
            )
        return pd.concat(frames, ignore_index=True) if frames else empty

    scored = (
        left.groupby("bi", "bj")
        .cogroup(right.groupby("bi", "bj"))
        .applyInPandas(score, "id_a long, id_b long, cosine_sim double")
    )
    return (
        scored.withColumn("cosine_sim", F.round("cosine_sim", round_digits))
        .filter(F.col("cosine_sim") >= threshold)
    )
    # no trailing orderBy: a global sort range-samples its input, which
    # re-executes the whole candidate+verify upstream a second time;
    # row order is not part of the operator contract (the oracle compare
    # sorts rows itself)


def embedding_near_dup_lsh(
    corpus: DataFrame,
    threshold: float = 0.35,
    dims: int = 64,
    planes: int = 6,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Approximate embedding near-dup: candidate pairs collide in at
    least one hyperplane-LSH bucket (OR over ``tables`` tables), then
    exact cosine verify at ``threshold``. Precision is 1.0 by
    construction (every emitted pair is exactly verified); recall rises
    with similarity — sign-LSH collision probability per plane is
    1 − θ/π, so truly-near pairs (cos → 1) are found with
    near-certainty while the quadratic candidate space is pruned to
    bucket-sized chunks. The scale path for :func:`embedding_near_dup`.

    Plan shape: ONE pass computes signatures, ONE shuffle groups the
    exploded (id, vector, table, bucket) rows by bucket, and the exact
    verify runs as a per-bucket numpy matmul inside ``applyInPandas``
    that emits only pairs already ≥ threshold. No candidate-pair table
    is ever materialized and vectors cross the wire once per table
    (N·tables rows), vs the naive candidate self-join + two vector
    join-backs that ship two vectors per candidate pair — O(Σ bucket²)
    rows. Surviving pairs (a tiny set) dedup across tables at the end.
    At scale, grow ``planes`` with log N to keep buckets bounded.

    No ``spread_input`` here (unlike the text-signature pipelines):
    the bucket UDF is one numpy matmul per Arrow batch, so computing
    it on however few partitions the scan yields is cheaper than a
    pre-shuffle, and the groupBy shuffle right after redistributes
    anyway.
    """
    buckets = lsh_buckets_udf(dims, planes, tables)
    exploded = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bkt"),
    )
    # pre-filter slack: round(x, 6) >= t implies x >= t - 5.1e-7, so a
    # 1e-6 margin never drops a pair the exact filter would keep.
    slack = threshold - 1e-6

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        A = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        ids = pdf["id"].to_numpy()
        C = _seq_cosine_block(A, A)
        keep = (ids[:, None] < ids[None, :]) & (C >= slack)
        ii, jj = np.nonzero(keep)
        return pd.DataFrame(
            {"id_a": ids[ii], "id_b": ids[jj], "cosine_sim": C[ii, jj]}
        )

    scored = exploded.groupBy("tbl", "bkt").applyInPandas(
        verify, "id_a long, id_b long, cosine_sim double"
    )
    return (
        scored.withColumn("cosine_sim", F.round("cosine_sim", round_digits))
        .filter(F.col("cosine_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )
    # cosine for a pair is identical in every table it collides in, so
    # the cross-table dropDuplicates is value-safe. No trailing orderBy:
    # a global sort range-samples its input, re-executing the upstream;
    # row order is not part of the operator contract (the oracle compare
    # sorts rows itself)


def embedding_lsh_index(
    vecs: DataFrame,
    dims: int = 64,
    planes: int = 6,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The exploded (id, v, new=false, tbl, bkt) bucket rows of a
    vector store — the persistable LSH INDEX. An LSH index's entire
    point is that the store's bucket assignments are computed once and
    persisted; pass this (written to a table and read back) as
    ``store_index`` to :func:`embedding_near_dup_lsh_incremental` so
    per-batch runs scan the index instead of re-running the bucket
    matmul over the historical corpus. Parameters must match the
    incremental call's — enforced: the index is stamped with its build
    parameters via the NAME of a constant marker column
    (``_lsh_d{dims}_p{planes}_t{tables}``), so the incremental reader
    validates the contract from the schema alone (no data read, no
    job) and fails fast on mismatch instead of silently bucketing the
    batch under different hyperplanes than the persisted rows."""
    buckets = lsh_buckets_udf(dims, planes, tables)
    return vecs.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.lit(False).alias("new"),
        F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bkt"),
        F.lit(True).alias(_lsh_stamp(dims, planes, tables)),
    )


def _lsh_stamp(dims: int, planes: int, tables: int) -> str:
    """Schema-level parameter stamp for a persisted LSH index: the
    marker column's name carries (dims, planes, tables), surviving any
    parquet round-trip for free (a constant column RLE-compresses to
    nothing, and validation needs only the schema)."""
    return f"_lsh_d{dims}_p{planes}_t{tables}"


def embedding_near_dup_lsh_incremental(
    store: DataFrame,
    batch: DataFrame,
    threshold: float = 0.35,
    dims: int = 64,
    planes: int = 6,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    store_index: DataFrame | None = None,
) -> DataFrame:
    """Embedding near-dup pairs INVOLVING AT LEAST ONE NEW VECTOR —
    the continuous-ingest twin of :func:`embedding_near_dup_lsh`,
    completing the incremental path for all three dedup families
    (MinHash, SimHash, embeddings).

    The batch's (table, bucket) keys — a tiny set — broadcast-semi
    prune the store's exploded rows, so only buckets a new vector
    actually lands in are grouped and verified: the store streams
    through one scan, per-batch verify cost is O(Σ hit-bucket sizes)
    instead of O(Σ all-bucket²), and old×old pairs (known from prior
    runs) are skipped inside the matmul by the new-side flag. Output
    matches the full run restricted to pairs touching a new vector
    exactly (same buckets, same verify — asserted in
    tests/test_similarity.py). Vector ids must be disjoint between
    store and batch.

    Pass ``store_index`` (a persisted :func:`embedding_lsh_index`
    table; ``store`` is then ignored) to skip re-running the bucket
    matmul over the historical corpus — the production shape: the
    index is computed once at ingest and each batch only scans it.
    The index's parameter stamp (see :func:`embedding_lsh_index`) is
    validated against this call's (dims, planes, tables) before any
    join — a mismatch raises ``ValueError`` instead of silently
    producing wrong pairs; an unstamped (pre-stamp) index is accepted
    as-is for back-compat."""
    if store_index is not None:
        found = [c for c in store_index.columns if c.startswith("_lsh_d")]
        want = _lsh_stamp(dims, planes, tables)
        if found and found != [want]:
            raise ValueError(
                f"store_index was built with parameters {found[0]!r} but "
                f"this call uses {want!r} (dims={dims}, planes={planes}, "
                f"tables={tables}); batch vectors would be bucketed under "
                "different hyperplanes than the persisted store rows. "
                "Rebuild the index or match the parameters."
            )
        store_index = store_index.drop(*found)
    buckets = lsh_buckets_udf(dims, planes, tables)

    def exploded(df: DataFrame, new: bool) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.lit(new).alias("new"),
            F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bkt"),
        )

    ex_batch = exploded(batch, True)
    batch_keys = F.broadcast(ex_batch.select("tbl", "bkt").distinct())
    ex_store = store_index if store_index is not None else exploded(store, False)
    pruned_store = ex_store.join(batch_keys, ["tbl", "bkt"], "left_semi")
    rows = pruned_store.unionByName(ex_batch.select(*pruned_store.columns))
    slack = threshold - 1e-6  # same margin rationale as the full run

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        new = pdf["new"].to_numpy()
        if len(pdf) < 2 or not new.any():
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        A = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        ids = pdf["id"].to_numpy()
        C = _seq_cosine_block(A, A)
        keep = (
            (ids[:, None] < ids[None, :])
            & (C >= slack)
            & (new[:, None] | new[None, :])
        )
        ii, jj = np.nonzero(keep)
        return pd.DataFrame(
            {"id_a": ids[ii], "id_b": ids[jj], "cosine_sim": C[ii, jj]}
        )

    scored = rows.groupBy("tbl", "bkt").applyInPandas(
        verify, "id_a long, id_b long, cosine_sim double"
    )
    return (
        scored.withColumn("cosine_sim", F.round("cosine_sim", round_digits))
        .filter(F.col("cosine_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 6,
    tables: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane bucket in ANY of
    ``tables`` independent hash tables (OR-amplification), then exact
    cosine re-rank. More planes → smaller buckets (faster, lower
    recall); more tables → higher recall (more candidates). Probe cost
    per query is ~tables·|corpus|/2^planes instead of |corpus|."""
    buckets = lsh_buckets_udf(dims, planes, tables)

    def bucketed(df, id_alias, vec_alias):
        d = df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bkt"),
        )
        return d.select(id_alias, vec_alias, "tbl", "bkt")

    c = bucketed(corpus, "neighbor_id", "cv")
    q = bucketed(queries, "query_id", "qv")
    scored = (
        c.join(F.broadcast(q), on=["tbl", "bkt"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN via asymmetric
# distance computation (ADC) — Jégou et al., "Product Quantization for
# Nearest Neighbor Search", IEEE TPAMI 2011 (public method).
# ---------------------------------------------------------------------------

def _subspace_sqdist(a: Column, b: Column, j, dsub: int) -> Column:
    """Squared L2 distance between subspace ``j`` of two vectors, as an
    explicit left-associated sum of ``dsub`` terms — the SAME textual
    expression shape the DuckDB oracle uses, so the doubles are
    bit-identical across engines (floating-point addition is not
    reassociated by either optimizer). ``j`` may be an int literal or
    a Column (dynamic subspace index): the arithmetic chain — and so
    the result — is identical either way, but the Column form keeps
    the expression SMALL (one chain instead of m copies), which keeps
    whole-stage codegen effective."""
    jc = F.lit(j) if isinstance(j, int) else j
    out = None
    for d in range(1, dsub + 1):
        idx = (jc * dsub + d).cast("int")
        t = F.element_at(a, idx).cast("double") - F.element_at(b, idx).cast("double")
        term = t * t
        out = term if out is None else out + term
    return out


def _pq_codes_long(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int,
    dsub: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vec_id, j, code) PQ assignment in long form: the corpus ×
    codebook broadcast cross join explodes the subspace index FIRST,
    so the per-row distance is ONE small dynamic-index chain (not m
    inlined copies) and the argmin is a plain (vec, subspace) grouped
    struct-min — both codegen-friendly."""
    c = codebook.select(F.col("code"), F.col("cv"))
    sub = (
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("ev"))
        .join(F.broadcast(c), how="cross")
        .select(
            "vec_id",
            "code",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
            "ev",
            "cv",
        )
        .select(
            "vec_id",
            "j",
            F.struct(
                _subspace_sqdist(F.col("ev"), F.col("cv"), F.col("j"), dsub).alias("d"),
                F.col("code").alias("code"),
            ).alias("dc"),
        )
    )
    return (
        sub.groupBy("vec_id", "j")
        .agg(F.min("dc")["code"].alias("code"))
    )


def pq_codes(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector into ``m`` one-byte codes (one per subspace):
    code_j = argmin over codebook entries of the subspace-j squared L2
    distance, ties broken toward the smaller code.

    ``codebook`` must have columns (code, cv) — one row per centroid.
    The sampled-codebook variant (lowest-id vectors as centroids) is
    fully deterministic and therefore SQL-oracle-checkable, like the
    IVF coarse quantizer's seeding; a k-means-trained codebook can be
    swapped in without touching this encode path.

    Scale shape: one broadcast cross join (|codebook| is ~16-256 rows)
    and a partial-aggregated groupBy on the vector id — codes for a
    100 TB corpus are produced in a single scan, and at 8 bytes/vector
    the code table is ~4000× smaller than 64-dim float32 vectors."""
    long = _pq_codes_long(corpus, codebook, m, dsub, id_col, vec_col)
    return long.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("j") == j, F.col("code"))).alias(f"c{j}")
            for j in range(m)
        ]
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_codes: int = 16,
    m: int = 8,
    dsub: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k by PQ + asymmetric distance computation.

    Build: sampled codebook (the ``n_codes`` lowest-id vectors) →
    per-vector codes, unpivoted to (vec, subspace, code). Query: ONE
    per-(query, subspace, code) distance table (``m·n_codes`` rows per
    query, broadcast); the corpus code table streams through a single
    broadcast hash join on (subspace, code) and the approx distance is
    the per-(query, vec) grouped sum of the m looked-up entries,
    rounded at 1e-6 (the repo's standard fold tolerance — the m=8-term
    sum's accumulation-order noise is ~1e-15 absolute). No shuffle
    touches the corpus until that partial-aggregated group-by; the raw
    vectors are never re-read at query time, which is the whole point
    of PQ."""
    # the n_codes LOWEST-id vectors — orderBy+limit, NOT filter(id <
    # n_codes), which silently empties the codebook (and the whole
    # result) for any id space that is not dense 0-based
    cb = (
        corpus.orderBy(id_col)
        .limit(n_codes)
        .select(F.col(id_col).alias("code"), F.col(vec_col).alias("cv"))
    )
    codes_long = _pq_codes_long(corpus, cb, m, dsub, id_col, vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    qd_long = (
        q.join(F.broadcast(cb), how="cross")
        .select(
            "query_id",
            "code",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
            "qv",
            "cv",
        )
        .select(
            "query_id",
            "code",
            "j",
            _subspace_sqdist(F.col("qv"), F.col("cv"), F.col("j"), dsub).alias("qd"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        codes_long.join(F.broadcast(qd_long), ["j", "code"])
        .groupBy(F.col("query_id"), F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("qd"), round_digits).alias("approx_dist"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
    )


def ivf_refined_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE declarative k-means refinement over the deterministic seeds
    — (code, rv) with rv the per-cluster mean vector, every step a JVM
    column expression so the build is SQL-replayable bit-for-bit:

    - assignment: argmax of ``round(cosine, 6)`` against the broadcast
      seed table with a min-code tie-break (the rounding absorbs any
      engine's accumulation-order noise BEFORE the comparison, so both
      engines pick identical clusters);
    - new centroid: per-dimension ``round(avg, 6)`` (the same
      determinism argument as the oracle-green embedding_centroids
      query — rounding sits ~8 orders above double sum-order noise),
      reassembled into an array ordered by dimension;
    - a seed whose cluster came out empty keeps its own vector.

    Scale shape: the corpus crosses only the n_centroids-row broadcast
    seed table; the per-dimension aggregate is partial-agged to
    ≤ centroids×dims rows before its exchange; nothing ever collects.
    More refinement iterations → :func:`ivf_centroids` (numpy path).
    """
    seeds = corpus.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).alias("code"),
        F.col(vec_col).alias("sv"),
        norm(F.col(vec_col)).alias("svn"),
    )
    c = corpus.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("ev"),
        norm(F.col(vec_col)).alias("evn"),
    )
    sim_cs = F.round(
        cosine_prenormed(F.col("ev"), F.col("sv"), F.col("evn"), F.col("svn")), 6
    )
    asg = (
        c.join(F.broadcast(seeds), how="cross")
        .select(
            "cid",
            "ev",
            F.struct(sim_cs.alias("s"), (-F.col("code")).alias("nc")).alias("sc"),
        )
        .groupBy("cid")
        .agg(F.max("sc").alias("m"), F.first("ev").alias("ev"))
        .select("cid", (-F.col("m.nc")).cast("long").alias("code"), "ev")
    )
    means = (
        asg.select("code", F.posexplode("ev").alias("pos", "x"))
        .groupBy("code", "pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("m"))
    )
    cvec = (
        means.groupBy("code")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("code", F.transform("pm", lambda s: s["m"]).alias("rv"))
    )
    return seeds.join(cvec, "code", "left").select(
        "code",
        F.coalesce(
            F.col("rv"), F.transform("sv", lambda x: x.cast("double"))
        ).alias("rv"),
    ).select("code", "rv", norm(F.col("rv")).alias("rvn"))


def ivf_topk_refined(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with a k-means-REFINED coarse quantizer, fully
    declarative: :func:`ivf_refined_centroids` builds the index (one
    rounded refinement pass over the deterministic seeds), then the
    same probe pipeline as :func:`ivf_topk_seeded` — corpus assignment
    argmax, nprobe probe lists per query, exact re-rank — all JVM
    expressions, so the ENTIRE refined index build + probe replays in
    SQL (plans/queries _duck_ivf_refined). :func:`ivf_topk` remains
    the numpy multi-iteration production variant (recall-tested)."""
    # The centroid table is consumed by both the corpus assignment and
    # the query probes; it recomputes per consumer here (16 rows, two
    # cheap corpus scans — measured FASTER than persist+count, whose
    # extra eager job costs more than the recompute at any tested SF).
    # At real scale you'd write it to storage at index-build time,
    # exactly like a deployed IVF index.
    cent = F.broadcast(ivf_refined_centroids(corpus, n_centroids, id_col, vec_col))
    c = corpus.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("ev"),
        norm(F.col(vec_col)).alias("evn"),
    )
    sim_cr = F.round(
        cosine_prenormed(F.col("ev"), F.col("rv"), F.col("evn"), F.col("rvn")), 6
    )
    asg = (
        c.join(cent, how="cross")
        .select(
            "cid",
            F.struct(sim_cr.alias("s"), (-F.col("code")).alias("nc")).alias("sc"),
        )
        .groupBy("cid")
        .agg(F.max("sc").alias("m"))
        .select("cid", (-F.col("m.nc")).cast("long").alias("code"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qvn"),
    )
    sim_qr = F.round(
        cosine_prenormed(F.col("qv"), F.col("rv"), F.col("qvn"), F.col("rvn")), 6
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("ps").desc(), F.col("code").asc())
    probes = (
        q.join(cent, how="cross")
        .select("query_id", "code", sim_qr.alias("ps"))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select(F.col("query_id").alias("pq"), F.col("code"))
    )
    cand = (
        asg.join(F.broadcast(probes), "code")
        .select(F.col("pq").alias("query_id"), F.col("cid").alias("neighbor_id"))
        .join(c.withColumnRenamed("cid", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenormed(F.col("qv"), F.col("ev"), F.col("qvn"), F.col("evn")),
                6,
            ).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(wk).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_topk_seeded(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Declarative IVF: the same inverted-list probing as
    :func:`ivf_topk`, but with the coarse quantizer FIXED at the
    deterministic seeds (lowest-id vectors) and every step a JVM
    column expression — no k-means refinement, no UDF — so the whole
    index-build + probe + re-rank pipeline is SQL-replayable and
    oracle-checked (plans/queries _duck_ivf_seeded). ivf_topk remains
    the refined/production variant; this one pins down the probing
    semantics exactly.

    Plan shape: assignment is a broadcast cross join against the
    n_centroids-row seed table folded into an argmax (one aggregate,
    corpus never shuffles by vector); probe lists and the query set
    broadcast; only candidates from probed lists are exactly
    re-ranked."""
    # lowest-id seed vectors via orderBy+limit (filter(id < n) would
    # empty the quantizer on non-dense id spaces — see pq_topk).
    # norms staged once per vector/seed (cosine_prenormed): inline
    # cosine would re-run the corpus-side norm fold once per SEED per
    # row in the assignment cross join — n_centroids redundant
    # 64-element CodegenFallback folds per corpus vector
    seeds = corpus.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).alias("code"),
        F.col(vec_col).alias("sv"),
        norm(F.col(vec_col)).alias("ns"),
    )
    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("ev"))
    cn = c.select("cid", "ev", norm(F.col("ev")).alias("nv"))
    sim_cs = F.round(
        cosine_prenormed(F.col("ev"), F.col("sv"), F.col("nv"), F.col("ns")), 6
    )
    # argmax with min-code tie-break: max of (sim, -code), negate back
    asg = (
        cn.join(F.broadcast(seeds), how="cross")
        .select("cid", F.struct(sim_cs.alias("s"), (-F.col("code")).alias("nc")).alias("sc"))
        .groupBy("cid")
        .agg(F.max("sc").alias("m"))
        .select("cid", (-F.col("m.nc")).cast("long").alias("code"))
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    sim_qs = F.round(cosine(F.col("qv"), F.col("sv")), 6)
    wp = Window.partitionBy("query_id").orderBy(
        F.col("ps").desc(), F.col("code").asc()
    )
    probes = (
        q.join(F.broadcast(seeds), how="cross")
        .select("query_id", "code", sim_qs.alias("ps"))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select(F.col("query_id").alias("pq"), F.col("code"))
    )
    cand = (
        asg.join(F.broadcast(probes), "code")
        .select(F.col("pq").alias("query_id"), F.col("cid").alias("neighbor_id"))
        .join(c.withColumnRenamed("cid", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("ev")), 6).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(wk).cast("long"))
        .filter(F.col("rank") <= k)
    )


def seeded_assignment(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, code, ev, nv) — deterministic coarse clustering of an
    embedding corpus: the ``n_centroids`` lowest-id vectors are the
    seeds (the ivf_topk_seeded convention) and every vector joins its
    cosine-nearest seed, argmax tie-broken toward the lower seed id on
    round(cosine, 6) so the assignment replays in SQL. The member's
    own vector and staged norm ride along for downstream pair tests /
    centroid math. Assignment is a broadcast cross join folded into an
    argmax aggregate — the corpus never shuffles by vector. Shared by
    :func:`semantic_dedup` (SemDeDup keep rule) and
    :func:`cluster_quality` (cohesion/separation diagnostics).

    Norms are staged once per VECTOR (cosine_prenormed): the fold
    expressions are CodegenFallback with no CSE, so inline cosine
    would re-run both norm folds per (vector, seed) in assignment and
    per PAIR in any quadratic consumer — 3x the fold count where it
    hurts most (measured 1.7x end-to-end at sf0.1)."""
    seeds = corpus.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).alias("code"),
        F.col(vec_col).alias("sv"),
        norm(F.col(vec_col)).alias("ns"),
    )
    c = corpus.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("ev"),
        norm(F.col(vec_col)).alias("nv"),
    )
    sim_cs = F.round(
        cosine_prenormed(F.col("ev"), F.col("sv"), F.col("nv"), F.col("ns")), 6
    )
    asg = (
        c.join(F.broadcast(seeds), how="cross")
        .select(
            "cid",
            F.struct(sim_cs.alias("s"), (-F.col("code")).alias("nc")).alias("sc"),
        )
        .groupBy("cid")
        .agg(F.max("sc").alias("m"))
        .select("cid", (-F.col("m.nc")).cast("long").alias("code"))
    )
    return asg.join(c, "cid")


def cluster_quality(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignment: DataFrame | None = None,
) -> DataFrame:
    """(cluster_id, n, cohesion, nearest_other_sim) — per-cluster
    quality diagnostics over the :func:`seeded_assignment` clustering:
    ``cohesion`` is the mean cosine of members to their own cluster
    centroid (per-dim mean, components rounded at 1e-6 so both
    engines compare against the identical centroid), and
    ``nearest_other_sim`` is the max cosine between this centroid and
    any OTHER centroid — the simplified silhouette pair: tight
    clusters score high cohesion, well-separated ones low
    nearest-other similarity, and a cluster whose nearest-other
    exceeds its cohesion is a merge candidate.

    Scale shape: centroids come from a posexplode + (code, dim)
    aggregate — map-side partial aggregation collapses each task to
    ≤ clusters×dims rows before the exchange, the distributed-k-means
    update step. The centroid table (clusters×dims values) is the
    only small object; it broadcasts into the cohesion join and
    self-joins for the clusters² separation matrix — both trivial at
    any corpus size because clusters ≪ corpus."""
    from lion_parcel_etl_spark.operators.dedup import pin

    # assignment: callers that MATERIALIZE the seeded assignment (a
    # session store, a real table) pass it in and both consumers scan
    # it directly — no pin needed, a table scan has no recompute race
    # (r09 optimization round; the schema contract is
    # seeded_assignment's (cid, code, ev, nv)).
    if assignment is not None:
        withv = assignment
    else:
        withv = pin(seeded_assignment(corpus, n_centroids, id_col, vec_col))
    cells = withv.select("code", F.posexplode("ev").alias("pos", "v"))
    cent_long = cells.groupBy("code", "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("c")
    )
    cent = cent_long.groupBy("code").agg(
        F.array_sort(F.collect_list(F.struct("pos", "c")))
        .getField("c")
        .alias("cv")
    )
    member_sim = F.round(
        cosine(F.col("ev"), F.col("cv")), 6
    )
    coh = (
        withv.join(F.broadcast(cent), "code")
        .groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(member_sim), 6).alias("cohesion"),
        )
    )
    other = cent.select(
        F.col("code").alias("code_b"), F.col("cv").alias("cv_b")
    )
    sep = (
        cent.join(F.broadcast(other), F.col("code") != F.col("code_b"))
        .groupBy("code")
        .agg(
            F.round(
                F.max(F.round(cosine(F.col("cv"), F.col("cv_b")), 6)), 6
            ).alias("nearest_other_sim")
        )
    )
    return coh.join(F.broadcast(sep), "code", "left").select(
        F.col("code").alias("cluster_id"),
        "n",
        "cohesion",
        "nearest_other_sim",
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignment: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the embedding space, then WITHIN
    each cluster drop every vector whose cosine similarity to a
    lower-id cluster-mate reaches ``threshold`` — the paper's exact
    keep rule (pairwise sim matrix per cluster, remove anything that
    matches an earlier point), which is declarative, order-free, and
    needs no iteration. Returns (vec_id, cluster_id, kept) for the
    whole corpus, so the caller can filter kept or audit removal rates
    per cluster.

    The quantizer is fixed at the deterministic lowest-id seeds (the
    ivf_topk_seeded convention) and every similarity comparison
    happens on round(cosine, 6), so the ENTIRE pipeline — assignment
    argmax, within-cluster pair test — replays in the SQL oracle.

    Scale shape: assignment is a broadcast cross join folded into an
    argmax (corpus never shuffles by vector); the pair test shuffles
    by cluster code and costs sum(|cluster|^2) — the SemDeDup design
    point. n_centroids is the knob: grow it with the corpus so
    per-cluster sizes stay bounded (the paper runs k=11k at 100M
    vectors); a skew-degenerate giant cluster calls for re-seeding or
    a within-cluster LSH pre-filter, the same escalation path as
    embedding_near_dup_lsh."""
    # assignment: see cluster_quality — a materialized assignment
    # table feeds BOTH sides of the within-cluster pair join as plain
    # scans instead of re-running the broadcast-argmax subplan twice
    # (r09 optimization round). spread_input is LOAD-BEARING here: a
    # store-backed assignment is a small parquet scan (often ONE
    # split), and the pair join broadcasts the other side — so without
    # a repartition the entire Σ|cluster|² candidate compute (the
    # query's dominant cost: an interpreted cosine fold per pair) runs
    # in a single task. Measured at the 10× replica: 91.8 s
    # single-split vs 26.4 s for the old 16-partition inline plan;
    # spreading restores full-width parallelism on the stream side.
    from lion_parcel_etl_spark.operators.dedup import spread_input

    if assignment is None:
        withv = seeded_assignment(corpus, n_centroids, id_col, vec_col)
    else:
        withv = spread_input(assignment)
    right = withv.select(
        F.col("cid").alias("cid_b"),
        F.col("code").alias("code_b"),
        F.col("ev").alias("vb"),
        F.col("nv").alias("nb"),
    )
    sim_ab = F.round(
        cosine_prenormed(F.col("ev"), F.col("vb"), F.col("nv"), F.col("nb")), 6
    )
    dups = (
        withv.join(right, F.col("code") == F.col("code_b"))
        .filter((F.col("cid_b") < F.col("cid")) & (sim_ab >= F.lit(threshold)))
        .select("cid")
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return withv.join(dups, "cid", "left").select(
        F.col("cid").alias(id_col),
        F.col("code").alias("cluster_id"),
        F.col("__dup").isNull().alias("kept"),
    )


def jl_signs(out_dim: int, dims: int) -> list[list[float]]:
    """Deterministic Rademacher (±1) Johnson–Lindenstrauss projection
    matrix, scaled by 1/√out_dim — md5-derived like
    :func:`plane_matrix`, so every engine rebuilds the identical
    matrix from the (j, i) coordinates alone (Achlioptas-style
    database-friendly JL: ±1 entries preserve pairwise distances with
    the same guarantee as Gaussian entries)."""
    import hashlib
    import math

    s = 1.0 / math.sqrt(out_dim)
    out = []
    for j in range(out_dim):
        row = []
        for i in range(dims):
            b = hashlib.md5(f"jl:{j}:{i}".encode()).digest()[0]
            row.append(s if b & 1 else -s)
        out.append(row)
    return out


def jl_project(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    dims: int = 64,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection of an embedding column
    to ``out_dim`` dimensions — the cheap-ANN preprocessing step:
    downstream LSH / brute-force passes over the projected vectors
    touch out_dim/dims of the bytes while approximately preserving
    cosine geometry. Values rounded at 1e-6 (the engine-parity noise
    floor for short ordered folds).

    Scale shape: a zero-shuffle per-row projection. The fixed
    out_dim×dims sign matrix is embedded as plan literals and each
    output coordinate is an ordered JVM fold over the input array —
    no Python, no state, embarrassingly parallel. For big matrices
    (out_dim×dims ≳ 10⁴ terms) switch to the Arrow matmul path used
    by :func:`lsh_buckets_udf`; at 16×64 the interpreted
    higher-order-function cost is far below Arrow transfer cost.
    """
    M = jl_signs(out_dim, dims)
    mlit = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in M]
    )
    proj = F.transform(
        F.sequence(F.lit(1), F.lit(out_dim)),
        lambda j: F.round(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col).cast("array<double>"),
                    F.element_at(mlit, j.cast("int")),
                    lambda x, s: x * s,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ),
    )
    return vecs.select(F.col(id_col), proj.alias("proj"))


def sqdist(a: Column, b: Column) -> Column:
    """Squared euclidean distance as an ordered JVM fold (the dot/norm
    discipline: left-to-right accumulation, so a SQL oracle's
    sequential list functions reproduce the value bit-for-bit)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kcenter_select(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
) -> list[tuple[int, int, float]]:
    """Greedy farthest-point (k-center / coreset) selection: pick ``m``
    maximally-diverse vectors — the classic 2-approximation for the
    k-center objective (Gonzalez 1985, public) and the
    diversity-sampling step of coreset-based training-data selection.
    Deterministic: the seed is the minimum id; each step adds the
    vector with the LARGEST distance to its nearest already-selected
    center (squared euclidean rounded at 1e-6, ties by minimum id), so
    the whole trajectory replays in SQL.

    Returns ``[(step, id, radius)]`` where ``radius`` is the selected
    vector's SQUARED euclidean distance-to-selected-set at selection
    time. The Gonzalez 2-approximation certificate holds for the
    metric distance, i.e. ``sqrt(radius)`` at step t is a certified
    upper bound on TWICE the optimal t-center metric covering radius
    (equivalently: ``radius`` <= 4x the optimal squared radius). The
    sequence is non-increasing (the knee says how many diverse
    exemplars the corpus actually has).

    Scale shape: m linear scans. Each step keeps a running
    min-distance column (one fold against the SINGLE newest center,
    folded with ``least`` into the previous step's column — never
    re-scanning all selected centers) and takes a global argmax via a
    1-row TakeOrderedAndProject; the only driver data is the m
    selected (id, vector) rows, the same bounded-model-collect
    contract as the classifier fit. The corpus is never shuffled. At
    a real corpus, persist the running min-distance column between
    steps instead of recomputing the lineage (here m·scan is measured
    fine at bench scale)."""
    first = (
        vecs.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(1)
        .collect()[0]
    )
    selected = [(0, first[0], 0.0)]
    center_vecs = [list(first[1])]
    cur = vecs.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.round(
            sqdist(
                F.col(vec_col),
                F.array(*[F.lit(float(x)) for x in center_vecs[0]]),
            ),
            6,
        ).alias("__md"),
    )
    for step in range(1, m):
        far = (
            cur.orderBy(F.col("__md").desc(), F.col("__id").asc())
            .limit(1)
            .collect()[0]
        )
        selected.append((step, far["__id"], float(far["__md"])))
        center_vecs.append(list(far["__v"]))
        newc = F.array(*[F.lit(float(x)) for x in center_vecs[-1]])
        cur = cur.select(
            "__id",
            "__v",
            F.least(
                F.col("__md"), F.round(sqdist(F.col("__v"), newc), 6)
            ).alias("__md"),
        )
    return selected
