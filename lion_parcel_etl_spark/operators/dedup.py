"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Core training-data-pipeline components (BASELINE.json north_star),
designed for the 100 TB shape:

- **exact_dedup** — hash-groupBy on a digest, one shuffle on a
  uniformly distributed 128-bit key (no skew by construction).
- **minhash** — per-row column expressions only (shingle → 32-bit
  md5-derived hash → k permutation mins); the expensive part, candidate
  generation, is an equi-join on (band_index, band_hash) which LSH keeps
  tiny compared to the quadratic brute-force pair join.
- **simhash** — per-row 64-bit signature; near-dup = small Hamming
  distance, candidates via exact match on 16-bit signature quarters
  (Hamming ≤ 3 ⇒ at least one of 4 quarters equal — pigeonhole).
- **ngram_jaccard_pairs** — the exact (quadratic) verifier; used as the
  ground-truth re-rank after LSH banding, or standalone at small scale.

Everything is a JVM-side expression (md5/conv/array ops — no UDFs), so
signatures whole-stage-codegen. Hash parity with the DuckDB oracle:
Spark ``conv(substr(md5(x),1,8),16,10)`` ≡ DuckDB
``('0x'||substr(md5(x),1,8))::BIGINT`` (verified).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread_input(df: DataFrame) -> DataFrame:
    """Spread a few-partition source (one small parquet file locally)
    across the cluster so downstream per-row signature compute
    parallelizes. Checked on the raw scan — cheap — not on a projected
    plan, where the RDD conversion alone costs ~1.5 s of driver-side
    compilation. At scale the input already has ≥ parallelism
    partitions and this is a no-op."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism // 2:
        df = df.repartition(sc.defaultParallelism)
    return df


def pin(df: DataFrame) -> DataFrame:
    """Persist a signature-style table and force ONE materialization.

    persist() alone is lazy: when the first action is the band/quarter
    self-join, the two join sides race to compute the same partitions
    in parallel stages before the cache is populated, so the expensive
    per-row signature fold runs 2×+ (measured up to 5× wall on the
    simhash pipeline). A cheap count() materializes the cache exactly
    once. The 100 TB version of this function is "write the signature
    table to storage and read it back"."""
    df = df.persist()
    df.count()
    return df


# Deterministic MinHash permutation coefficients: a*h + b mod P over the
# 32-bit base hash. Generated once from a fixed LCG (seed 1); literal so
# the SQL oracle can embed identical values.
MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def _lcg_coeffs(k: int, seed: int = 1) -> list[tuple[int, int]]:
    x = seed
    out = []
    for _ in range(k):
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        a = (x >> 16) % (MINHASH_PRIME - 1) + 1
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        b = (x >> 16) % MINHASH_PRIME
        out.append((a % (1 << 30) + 1, b % (1 << 30)))
    return out


MINHASH_K = 16
MINHASH_COEFFS = _lcg_coeffs(MINHASH_K)

# Real-corpus defaults for near-dup detection at LOW thresholds: more
# bands → higher recall at the same rows-per-band, and k=64 signatures
# sharpen the Jaccard estimate (±1/√k). The k=16/bands=4 shape stays the
# DuckDB-oracle variant (64 embedded coefficient pairs would bloat the
# SQL); both shapes share one prefix-stable LCG coefficient stream, so
# minhash_coeffs(64)[:16] == MINHASH_COEFFS.
MINHASH_K_CORPUS = 64
MINHASH_BANDS_CORPUS = 16


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation coefficients for any k —
    a prefix-stable stream (coeffs(k2)[:k1] == coeffs(k1) for k1<k2)."""
    if k <= MINHASH_K:
        return MINHASH_COEFFS[:k]
    return _lcg_coeffs(k)


def hash32(col: Column) -> Column:
    """First 8 hex chars of md5 as a non-negative bigint in [0, 2^32)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def tokens(text: Column) -> Column:
    return F.regexp_extract_all(F.lower(text), F.lit(r"\S+"), 0)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined) — text.word_ngrams
    over the tokenization, deduped. The zipped-slice construction
    lives in ONE place (operators/text.py) because it carries a subtle
    load-bearing property: a lambda that captured the token-array
    expression would re-evaluate it (and its regexp tokenization) once
    per ELEMENT; the shifted slices keep every sub-expression
    top-level, evaluated once per row."""
    from lion_parcel_etl_spark.operators.text import word_ngrams

    return F.array_distinct(word_ngrams(tokens(text), n))


def minhash_signature(text: Column, n: int = 3, k: int = MINHASH_K) -> Column:
    """array<bigint> length k; empty-shingle docs get MINHASH_PRIME
    sentinels (never collide with real mins).

    Implemented as ONE fold over the shingle hashes carrying all k
    running minima at once (zip_with against the k permuted values per
    element). The naive alternative — k independent
    ``array_min(transform(...))`` expressions — re-expands the whole
    shingle/md5 subtree k times, which blows up codegen and recomputes
    every md5 k-fold; the single fold hashes each shingle exactly once.
    """

    return minhash_from_shingles(word_shingles(text, n), k)


def minhash_from_shingles(shingles: Column, k: int = MINHASH_K) -> Column:
    """The signature fold over an ALREADY-COMPUTED shingle array —
    lets callers that also store the shingles (minhash_signatures)
    shingle each row exactly once: two independent expressions both
    deriving from the text would each re-tokenize/re-shingle, because
    higher-order functions are CodegenFallback and sit outside
    codegen's subexpression elimination."""
    coeffs = minhash_coeffs(k)

    def step(acc: Column, h: Column) -> Column:
        permuted = F.array(
            *[(F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME) for a, b in coeffs]
        )
        return F.zip_with(acc, permuted, lambda x, y: F.least(x, y))

    init = F.array_repeat(F.lit(MINHASH_PRIME).cast("bigint"), k)
    return F.aggregate(F.transform(shingles, hash32), init, step)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical texts: digest, representative (min id),
    duplicate count. One shuffle on the digest."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Brute-force exact near-dup pairs (id_a < id_b, jaccard ≥ t).

    Candidate generation by exploding shingles and equi-joining on the
    shingle hash — quadratic only within identical-shingle groups, with
    a groupBy-count pre-aggregation so each pair is scored once. Use
    minhash_near_dup for the scale path.

    The shingle table is pinned: it feeds BOTH self-join sides, and
    InferFiltersFromGenerate's ``size(shingles) > 0`` guard would
    otherwise push through the live projection and re-run the whole
    shingle pipeline (regex + transform) once more per row inside a
    Filter (the FOLD_IN_FILTER audit class). Materializing once is
    exactly the right trade for this operator's documented
    small-corpus, ground-truth role.
    """
    sh = pin(
        docs.select(
            F.col(id_col).alias("doc"),
            word_shingles(F.col(text_col), n).alias("shingles"),
        ).withColumn("n_sh", F.size("shingles"))
    )
    ex = sh.select("doc", "n_sh", F.explode("shingles").alias("s"))
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return pairs.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def minhash_signatures(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = MINHASH_K
) -> DataFrame:
    """(doc, sig, shingles) — the signature table. Persist this (a
    parquet table via Warehouse) and the incremental path below never
    recomputes the historical corpus. Shingles are stored because the
    exact-Jaccard verification needs them; if storage is tighter than
    recompute, drop the column and verify by re-shingling from the
    corpus text instead."""
    sh = spread_input(docs).select(
        F.col(id_col).alias("doc"),
        word_shingles(F.col(text_col), n).alias("shingles"),
    )
    # shingles referenced twice below (fold + stored column) → the
    # projection above survives CollapseProject and each row is
    # tokenized/shingled exactly once
    return sh.select(
        "doc",
        minhash_from_shingles(F.col("shingles"), k).alias("sig"),
        "shingles",
    )


def _banded(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc, band, bh) band rows: md5 over each band's signature slice."""
    rows = k // bands
    return sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[F.col("sig")[i * rows + j].cast("string") for j in range(rows)],
                            )
                        ).alias("bh"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bh")


def minhash_near_dup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    shingle → minhash(k) → band (k/bands rows each) → bucket equi-join
    → verify with true Jaccard ≥ threshold. The band join is the only
    shuffle that grows with corpus size, and banding keeps candidate
    groups small; identical-signature skew (giant clusters of near-identical
    docs) is the one hotspot — mitigate upstream with exact_dedup first.

    Parameter guide: candidate probability is 1-(1-s^r)^bands with
    r = k/bands rows per band. The k=16/bands=4 default is the
    oracle-checked shape; for real corpora at low thresholds use
    k=MINHASH_K_CORPUS/bands=MINHASH_BANDS_CORPUS (64/16) — same r=4,
    4× the bands → much higher recall (asserted vs exact Jaccard in
    tests/test_dedup.py), and precision stays 1.0 by construction
    because every candidate is verified against true Jaccard.
    """
    if k % bands != 0:
        raise ValueError(f"k={k} must be divisible by bands={bands}")
    sig = pin(minhash_signatures(docs, id_col, text_col, n, k))
    # pinning is the real-scale design too: signatures are computed once
    # and reused by every band AND both sides of the self-join (at 100 TB
    # you'd write this to a table); without it Catalyst's projection
    # collapse re-inlines the signature fold into each consumer.
    # banding carries only (doc, band, bh): the band self-join is the one
    # shuffle that scales with corpus size, so it must NOT drag the
    # shingle arrays along (4 copies of every shingle set). Verification
    # fetches shingles afterwards by joining the (tiny) candidate pairs
    # back to the persisted signature table.
    # docs with NO shingles (fewer than n tokens) all share the
    # all-sentinel signature and would collide in every band — a
    # quadratic candidate blow-up in the count of short docs that the
    # Jaccard verify then discards anyway (empty ∩ empty = 0). Keep
    # them out of the band join entirely; output is unchanged.
    banded = _banded(sig.filter(F.size("shingles") > 0), k, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = sig.select(F.col("doc").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sig.select(F.col("doc").alias("id_b"), F.col("shingles").alias("sh_b"))
    scored = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    return scored.select(
        "id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def minhash_near_dup_incremental(
    old_sigs: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs INVOLVING AT LEAST ONE NEW DOC: the production
    shape of continuous ingestion at 100 TB. ``old_sigs`` is the
    persisted signature store (:func:`minhash_signatures` written to a
    table); only the new batch's signatures are computed, and the new
    batch's band rows are BROADCAST against the store's — the store
    streams through one scan, is never shuffled, and old×old pairs
    (already known from prior runs) are never recomputed. Per-batch
    cost is O(|store| scan + |batch| everything-else) instead of the
    full-corpus O(|store|²/2^bands) rerun.

    Doc ids must be disjoint between store and batch (pairs are
    normalized with least/greatest, so overlap would self-pair).
    Output matches the full-run :func:`minhash_near_dup` restricted to
    pairs touching a new doc (asserted in tests/test_dedup.py).
    """
    if k % bands != 0:
        raise ValueError(f"k={k} must be divisible by bands={bands}")
    new_sigs = pin(minhash_signatures(new_docs, id_col, text_col, n, k))
    all_sigs = old_sigs.select("doc", "sig", "shingles").unionByName(
        new_sigs.select("doc", "sig", "shingles")
    )
    # empty-shingle docs sit out the band join (see minhash_near_dup)
    a = _banded(all_sigs.filter(F.size("shingles") > 0), k, bands).alias("a")
    b = F.broadcast(
        _banded(new_sigs.filter(F.size("shingles") > 0), k, bands)
    ).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("id_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = all_sigs.select(F.col("doc").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = all_sigs.select(F.col("doc").alias("id_b"), F.col("shingles").alias("sh_b"))
    scored = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    return scored.select(
        "id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _driver_union_find(spark, sym: DataFrame) -> DataFrame:
    """Union-find with min-label semantics over a COLLECTED edge list
    — the small-graph fast path of :func:`connected_components`. Only
    called under the caller's row-count gate, so the collect is
    bounded the same way the IVF centroid table is."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    rows = sym.collect()
    for r in rows:
        a, b = r["a"], r["b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    from pyspark.sql import types as T

    id_type = sym.schema["a"].dataType
    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("component", id_type)]
    )
    data = [(n, comp_min[find(n)]) for n in parent]
    return spark.createDataFrame(data or [], schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Connected components of an undirected pair graph → (node,
    component) with component = min node id in the component — the
    cluster-formation step that turns near-dup PAIRS into dedup GROUPS
    (pick one representative per component, drop the rest).

    Min-label propagation with POINTER DOUBLING: each round every node
    takes the minimum label among itself and its neighbors, then
    shortcuts through its label's own label (comp := comp(comp)), so
    label chains halve every round — O(log D) rounds where D is the
    distance from the farthest node to its component's minimum, instead
    of the O(D) of plain propagation. A 10^6-hop adversarial chain
    converges in ~20 rounds (tests/test_dedup.py exercises a 400-hop
    chain in far fewer than the old linear bound would need); dense
    near-dup clusters still converge in 2-3.

    Scale mechanics: `localCheckpoint` after every round truncates the
    lineage (an un-truncated loop re-executes ALL prior rounds each
    iteration and the plan grows without bound); the per-round shuffle
    carries (node, comp) pairs only — never edge payloads; the
    convergence probe is one cheap count per round. On a real cluster
    use `checkpoint(reliable)` against the warehouse dir instead.

    Small graphs take a driver-side union-find fast path: when the
    deduped symmetric edge list (already materialized by its
    checkpoint) holds ≤ ``small_graph_threshold`` rows, a bounded
    collect + union-find replaces O(log D) distributed rounds of pure
    scheduler overhead — the same size-gated-collect judgment as the
    IVF centroid table, with identical min-label output (asserted
    against the distributed path in tests). Near-dup pair graphs are
    usually tiny relative to their corpus; a genuinely huge pair set
    exceeds the gate and runs the distributed rounds.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    if sym.count() <= small_graph_threshold:
        return _driver_union_find(edges.sparkSession, sym)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh = sym.join(labels, sym["b"] == labels["node"]).select(
            F.col("a").alias("node"), F.col("comp")
        )
        # checkpoint BEFORE the self-join: the doubling join reads
        # merged twice (once per side), so without it the union+agg
        # would execute twice per round — and self-joining the live
        # union plan also trips a Catalyst constraint-rewrite bug
        # (NoSuchElementException in UnionBase.rewriteConstraints).
        merged = (
            labels.union(neigh)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        # pointer doubling: follow the label's own label. A node's comp
        # is always itself a node, so the self-join hits; the coalesce
        # is only defensive. One extra (node, comp)-sized shuffle per
        # round buys O(log D) total rounds.
        y = merged.select(
            F.col("node").alias("ynode"), F.col("comp").alias("ycomp")
        )
        new_labels = (
            merged.join(y, merged["comp"] == y["ynode"], "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("ycomp"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # Exiting via max_iter means propagation did NOT converge — some
        # chain is longer than max_iter hops from its component minimum,
        # and the labels would silently split one component into several.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing); raise max_iter or use "
            f"an alternating large-star/small-star variant for long-chain graphs"
        )
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def simhash(text: Column, bits: int = 64) -> Column:
    """Per-row SimHash over word tokens; bit b set when the weighted
    bit-sum is positive. 64-bit by default: a 32-bit signature has only
    2^8-value pigeonhole quarters, so at ≥10^8 docs quarter collisions
    (and thus candidate pairs) explode — 64 bits gives 2^16-value
    quarters, keeping candidate volume sane at billion-doc scale.

    Token hashes are two md5 words (hex 1-8 → bits 0-31, hex 9-16 →
    bits 32-63; one md5 per token, sliced twice). The signature is the
    SIGNED 64-bit integer whose bit pattern is the simhash: bit 63's
    weight is -(2^63), matching two's-complement — both engines store
    it in a plain BIGINT, and xor/bit_count for Hamming distance are
    bit-pattern operations that don't care about sign.

    One fold carrying all ``bits`` running bit-sums (vs. ``bits``
    independent folds, which would recompute every token md5 64×).
    The accumulator carries one extra slot — the token count — so the
    empty-doc guard below reads it from the fold's own state instead
    of re-evaluating ``tokens(text)`` (higher-order functions are
    CodegenFallback, so a second reference would be a second full
    regexp tokenization per row, not a CSE'd one)."""

    def word(h: Column, b: int) -> Column:
        return h["lo"] if b < 32 else h["hi"]

    def step(acc: Column, h: Column) -> Column:
        signs = F.array(
            *[((F.shiftright(word(h, b), b % 32) % 2) * 2 - 1).cast("long") for b in range(bits)]
        )
        # acc is a bound lambda variable: slicing/indexing it is a
        # cheap reference, not a re-computation of the token array.
        return F.concat(
            F.zip_with(F.slice(acc, 1, bits), signs, lambda x, y: x + y),
            F.array(F.element_at(acc, bits + 1) + F.lit(1).cast("long")),
        )

    hexes = F.transform(tokens(text), F.md5)
    harr = F.transform(
        hexes,
        lambda x: F.struct(
            F.conv(F.substring(x, 1, 8), 16, 10).cast("bigint").alias("lo"),
            F.conv(F.substring(x, 9, 8), 16, 10).cast("bigint").alias("hi"),
        ),
    )
    weights = F.array(
        *[
            F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("long")
            for b in range(bits)
        ]
    )

    def finish(acc: Column) -> Column:
        sig = F.aggregate(
            F.zip_with(
                F.slice(acc, 1, bits),
                weights,
                lambda s, w: F.when(s > 0, w).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        # Empty-token docs get NULL, not 0: every empty doc would share
        # signature 0, quarter-match in all 4 quarters, and pass
        # Hamming 0 — making the candidate join AND the near-dup output
        # quadratic in the count of empty docs while saying nothing
        # about shared content. NULL quarters never equi-match, so they
        # fall out of the pigeonhole join on both engines identically.
        return F.when(F.element_at(acc, bits + 1) > 0, sig)

    return F.aggregate(
        harr, F.array_repeat(F.lit(0).cast("long"), bits + 1), step, finish
    )


def simhash_signatures(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, sh) — the SimHash signature store. Persist this (a parquet
    table via Warehouse) and :func:`simhash_near_dup_incremental` never
    recomputes the historical corpus; empty-token docs carry NULL sh
    (see :func:`simhash`)."""
    return spread_input(docs).select(
        F.col(id_col).alias("doc"), simhash(F.col(text_col)).alias("sh")
    )


def _quarters(sig: DataFrame) -> DataFrame:
    """(doc, sh, q, qv) pigeonhole quarter rows of a (doc, sh) table.

    qv masks with & 0xFFFF (not %): sh is SIGNED 64-bit; the mask
    discards whatever the arithmetic shift sign-extends in. NULL
    signatures (empty docs) are dropped by the expansion itself —
    their quarters could never equi-match, so the rows are pure
    join-probe overhead. The drop is a WHEN inside the explode (NULL
    array → zero rows) rather than a ``filter(sh.isNotNull())`` so
    that THIS function adds no pushable predicate of its own — but
    that alone does NOT make an unmaterialized ``sig`` safe: the
    downstream quarter join is null-intolerant, so Catalyst still
    INFERS ``isnotnull(sh)`` and pushes it through an unmaterialized
    projection rewritten as ``isnotnull(<entire simhash fold>)``,
    re-running the interpreted fold per row (measured 2.4× wall on
    simhash_incremental). Callers must therefore hand in a
    MATERIALIZED sig table (persisted store or :func:`pin`); the
    plan-audit FOLD_IN_FILTER flag catches violations."""
    return (
        sig.select(
            "doc",
            "sh",
            F.explode(
                F.when(
                    F.col("sh").isNotNull(),
                    F.array(
                        *[
                            F.struct(
                                F.lit(q).alias("q"),
                                F.shiftright(F.col("sh"), q * 16)
                                .bitwiseAND(F.lit(65535))
                                .alias("qv"),
                            )
                            for q in range(4)
                        ]
                    ),
                )
            ).alias("p"),
        )
        .select("doc", "sh", "p.q", "p.qv")
    )


def simhash_near_dup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidates via the pigeonhole trick: with 4 signature quarters
    (16 bits each over the 64-bit signature), any pair within Hamming 3
    shares at least one exact quarter — four equi-joins instead of a
    cross join.

    ``sig``: an optional precomputed (doc, sh) signature table (e.g. a
    session-scoped parquet store shared with a fingerprint readout) —
    must equal ``simhash_signatures(docs, id_col, text_col)``; when
    omitted the signatures are computed inline.
    """
    sig = pin(
        sig if sig is not None else simhash_signatures(docs, id_col, text_col)
    )
    # same pin rationale as minhash_near_dup: one signature pass,
    # reused by all 4 quarter expansions and both self-join sides.
    parts = _quarters(sig)
    a, b = parts.alias("a"), parts.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    # Hamming-filter BEFORE the dedup exchange: quarter collisions
    # outnumber true near-dups — filtering inside the join stage means
    # the dropDuplicates shuffle carries matching pairs only (measured
    # ~50× less shuffle at sf0.1), while each surviving pair still
    # appears once per matching quarter, hence the dedup.
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.qv") == F.col("b.qv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .filter(hamming <= max_hamming)
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_near_dup_incremental(
    old_sigs: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs INVOLVING AT LEAST ONE NEW DOC — the
    continuous-ingest twin of :func:`minhash_near_dup_incremental`,
    completing the incremental path for both signature families.
    ``old_sigs`` is the persisted store (:func:`simhash_signatures`
    written to a table) and must be MATERIALIZED — a table scan or a
    :func:`pin`'d frame, not a live projection, or the quarter join's
    inferred null-filter re-runs the signature fold per store row
    (see :func:`_quarters`); only the batch's signatures are computed, and
    the batch's quarter rows are BROADCAST against the store's — the
    store streams through one scan, is never shuffled, and old×old
    pairs (known from prior runs) are never recomputed. Per-batch cost
    is O(|store| scan + |batch| everything-else) instead of the
    full-corpus quarter self-join.

    Doc ids must be disjoint between store and batch (pairs normalize
    with least/greatest, so overlap would self-pair). Output matches
    the full-run :func:`simhash_near_dup` restricted to pairs touching
    a new doc (asserted in tests/test_dedup.py)."""
    new_sigs = pin(simhash_signatures(new_docs, id_col, text_col))
    all_sigs = old_sigs.select("doc", "sh").unionByName(new_sigs.select("doc", "sh"))
    a = _quarters(all_sigs).alias("a")
    b = F.broadcast(_quarters(new_sigs)).alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    # Hamming-filter before the dedup exchange, as in simhash_near_dup:
    # the dropDuplicates shuffle carries true matches only.
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.qv") == F.col("b.qv"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .filter(hamming <= max_hamming)
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("id_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("id_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def edit_distance_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All pairs within Levenshtein distance 1, via deletion-
    neighborhood blocking (the SymSpell candidate rule, public
    technique): two strings are within edit distance 1 iff they share
    a member of {s} ∪ {s with one character deleted}, so candidates
    come from an equi-join on that variant set — no quadratic compare,
    no similarity-threshold tuning. Each surviving candidate is
    verified with the exact ``levenshtein`` built-in.

    Scale shape: a string of length L emits L+1 variants (pure per-row
    array expressions, zero shuffle until the variant equi-join); the
    join key is the variant string, so the one exchange carries
    n·(L+1) short rows, and candidate groups stay tiny unless the
    corpus is adversarially self-similar. This is the fuzzy-match
    analog of the MinHash band join — same bucket-join pattern, exact
    distance instead of Jaccard. Only ``max_dist=1`` is implemented
    (d-deletion neighborhoods generalize it at (L choose d) variant
    cost). ``block_cols`` adds exact-agreement attributes to the
    candidate join (classic multi-attribute blocking: name-similar
    AND same region/segment) — it both tightens the match semantics
    and shrinks every variant bucket."""
    if max_dist != 1:
        raise NotImplementedError("deletion-neighborhood blocking implemented for max_dist=1")
    variants = F.array_append(
        F.expr(
            f"transform(sequence(1, length({text_col})), "
            f"i -> concat(left({text_col}, i-1), substring({text_col}, i+1)))"
        ),
        F.col(text_col),
    )
    v = docs.select(
        F.col(id_col).alias("id"),
        *[F.col(c).alias(f"__bk{i}") for i, c in enumerate(block_cols)],
        F.explode(variants).alias("var"),
    ).select(
        "id",
        *[f"__bk{i}" for i in range(len(block_cols))],
        # join on the variant's 64-bit hash, not the variant STRING:
        # the blocking exchange then carries 8 bytes per variant
        # instead of ~L chars (guide §2.3 — shuffle keys, not
        # payloads; r09 optimization round). Correctness is unchanged:
        # hash equality is a SUPERSET of string equality, every
        # candidate is still verified with exact levenshtein, and any
        # hash-collision pair that passes verification (dist ≤ 1)
        # necessarily shares a real deletion variant (the rule is
        # complete for d ≤ 1), so it was already a candidate — the
        # verified pair set is identical (pinned in
        # tests/test_opt_round9.py).
        F.xxhash64("var").alias("vh"),
    )
    a, b = v.alias("a"), v.alias("b")
    # the dedup exchange carries BARE id pairs (a pair can share up to
    # L+1 variants): no name strings in the shuffle, and levenshtein
    # runs exactly once per distinct pair — names come back via two
    # joins against the name table (AQE broadcasts it when small; at
    # corpus scale it hash-joins on the id like any dimension)
    cond = (F.col("a.vh") == F.col("b.vh")) & (F.col("a.id") < F.col("b.id"))
    for i in range(len(block_cols)):
        cond = cond & F.col(f"a.__bk{i}").eqNullSafe(F.col(f"b.__bk{i}"))
    cand = (
        a.join(b, cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    names = docs.select(F.col(id_col).alias("nid"), F.col(text_col).alias("nname"))
    na = names.select(F.col("nid").alias("id_a"), F.col("nname").alias("name_a"))
    nb = names.select(F.col("nid").alias("id_b"), F.col("nname").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .filter(dist <= max_dist)
        .select("id_a", "id_b", dist.cast("long").alias("dist"))
    )


def contamination_flags(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥
    ``min_shared`` distinct word n-gram shingles with ANY eval-set
    document — the standard n-gram-overlap contamination check run
    before training on scraped corpora (public method; production runs
    use longer shingles, n≈8-13 — ``n`` is the knob).

    Scale shape: the eval set is small by definition (a benchmark), so
    its distinct shingle set broadcasts; the corpus side explodes its
    shingles and streams through one broadcast semi-ish join — a
    single scan of the corpus, one partial-agg shuffle of matched
    (doc, shingle) pairs only. Returns every corpus doc with its
    shared-shingle count and flag."""
    from lion_parcel_etl_spark.operators.text import word_ngrams

    # tokenize in a separate projection on the (big) corpus side: an
    # inlined word_shingles would re-run the regex tokenization n× per
    # row inside the Generate (see duplicate_spans)
    ev = F.broadcast(
        eval_set.select(F.explode(word_shingles(F.col(text_col), n)).alias("sh"))
        .distinct()
    )
    toked = corpus.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    doc_sh = toked.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col("__toks"), n))).alias("sh"),
    )
    counts = (
        doc_sh.join(ev, "sh")
        .groupBy("doc_id")
        .agg(F.count_distinct("sh").alias("n_shared"))
    )
    return (
        toked.select("doc_id")  # pruned id pass over the same lineage
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= min_shared).alias("contaminated"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 16,
) -> DataFrame:
    """Span-level duplicate detection: every ``window``-token sliding
    span (stride 1) that occurs in ≥ 2 documents, with occurrence and
    document counts — the distributed approximation of suffix-array
    substring dedup ("train-data dedup" à la Lee et al.'s exact
    substring method): long enough windows make cross-document
    collisions overwhelmingly true shared text, and runs of
    consecutive duplicated spans delimit the shared passages.

    Scale shape: spans are built per-row with the zipped-slice n-gram
    construction (no lambda re-evaluation), hashed to 32-hex md5
    BEFORE the exchange — the one shuffle carries (hash, doc) pairs,
    never span text — and the group-by partially aggregates map-side.
    Output is only colliding spans, ∝ duplicated bytes, not corpus
    bytes. The doc list aggregates as a sorted string set (bounded by
    docs-per-span; for adversarial boilerplate shared by millions of
    docs, drop the list column and keep the counts)."""
    from lion_parcel_etl_spark.operators.text import word_ngrams

    # Tokenize in a SEPARATE projection: word_ngrams references the
    # token array once per zipped slice (``window`` times), and inlining
    # the regexp tokenization into the Generate would re-run the regex
    # `window`× per row (Generate is outside whole-stage codegen's
    # subexpression elimination). With an intermediate non-cheap alias
    # referenced `window` times, CollapseProject keeps the projection
    # and the regex runs once per row. Measured ~3× on dup_spans.
    toked = docs.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("__toks")
    )
    spans = toked.select(
        "doc",
        F.explode(word_ngrams(F.col("__toks"), window)).alias("span"),
    )
    return (
        spans.select("doc", F.md5("span").alias("span_hash"))
        .groupBy("span_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.sort_array(F.collect_set(F.col("doc").cast("string"))).alias("ds"),
        )
        .filter(F.size("ds") >= 2)
        .select(
            "span_hash",
            F.size("ds").cast("long").alias("n_docs"),
            "n_occ",
            F.array_join("ds", "; ").alias("doc_list"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 16,
) -> DataFrame:
    """Span-level dedup as a REWRITE: chunk each document into
    non-overlapping ``window``-token chunks (trailing partial chunk
    included), drop every chunk whose text occurs elsewhere in the
    corpus — keeping exactly the canonical first occurrence, the
    lexicographically-least (doc, pos) — and reassemble the surviving
    chunks in order. The removal counterpart of
    :func:`duplicate_spans` (which only reports collisions): this is
    the CCNet/RefinedWeb-style "remove duplicated passages, keep one
    copy" transform, expressed corpus-wide instead of per-shard.

    Output: one row per input document (documents whose every chunk
    was a duplicate survive with empty ``clean_text``) with
    ``clean_text``, ``n_chunks`` and ``n_removed``.

    Scale shape (100 TB honest): chunk text NEVER crosses an
    exchange. The decision pipeline shuffles only (md5, doc, pos)
    triples; the canonical-occurrence aggregate keeps only colliding
    hashes (∝ duplicated bytes); the per-doc removal sets — again ∝
    duplicated chunks, not corpus size — group back to one short
    array per affected document and join against the UNSHUFFLED doc
    table on its id (AQE broadcasts the removal side when it is
    small). The rebuild is a pure per-row array expression: re-chunk,
    filter by removed positions, join with spaces.
    """
    toked, positions, chunk_at = _span_chunked(docs, id_col, text_col, window)
    hashed = _span_hashes(toked, positions, chunk_at)
    canon = (
        hashed.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("doc", "pos")).alias("first"),
        )
        .filter(F.col("n_occ") >= 2)
    )
    removed = (
        hashed.join(canon, "h")
        .filter(
            ~(
                (F.col("doc") == F.col("first.doc"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .groupBy("doc")
        .agg(
            F.sort_array(F.collect_list(F.col("pos").cast("long"))).alias(
                "__drop"
            )
        )
    )
    return _span_rebuild(toked, removed, positions, chunk_at, id_col)


def _span_chunked(docs, id_col, text_col, window):
    """Shared chunking stage: (doc, token array, chunk count) plus the
    position-range and chunk-slice expressions for ``window``.

    sequence(0, n-1) flips to a DESCENDING [0, -1] when n = 0 (Spark
    infers step -1), so the position range is guarded for empty/null
    documents; size(NULL) is -1 under legacy semantics, so null text
    needs the explicit isNull branch."""
    n_chunks = (
        F.when(F.col("__toks").isNull(), F.lit(0))
        .otherwise(F.ceil(F.size("__toks") / F.lit(window)))
        .cast("long")
    )
    positions = F.when(
        F.col("__n") > 0, F.sequence(F.lit(0), F.col("__n") - 1)
    ).otherwise(F.array().cast("array<long>"))
    chunk_at = lambda toks, i: F.concat_ws(  # noqa: E731
        " ", F.slice(toks, (i * F.lit(window) + 1).cast("int"), window)
    )
    toked = docs.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("__toks")
    ).select("doc", "__toks", n_chunks.alias("__n"))
    return toked, positions, chunk_at


def _span_hashes(toked, positions, chunk_at) -> DataFrame:
    """(doc, pos, md5-of-chunk) triples — the only thing the span
    decision pipeline ever shuffles."""
    return toked.select(
        "doc",
        F.posexplode(
            F.transform(
                positions,
                lambda i: F.md5(chunk_at(F.col("__toks"), i)),
            )
        ).alias("pos", "h"),
    )


def _span_rebuild(toked, removed, positions, chunk_at, id_col) -> DataFrame:
    """Join per-doc removal arrays back to the unshuffled doc table and
    reassemble surviving chunks as a pure per-row array expression."""
    out = toked.join(removed, "doc", "left")
    keep = F.filter(
        positions,
        lambda i: ~F.coalesce(
            F.array_contains(F.col("__drop"), i), F.lit(False)
        ),
    )
    return out.select(
        F.col("doc").alias(id_col),
        F.array_join(
            F.transform(keep, lambda i: chunk_at(F.col("__toks"), i)), " "
        ).alias("clean_text"),
        F.col("__n").alias("n_chunks"),
        # size(NULL) is -1 under legacy (non-ANSI) semantics, so the
        # no-removals branch needs an explicit isNull test, not coalesce.
        F.when(F.col("__drop").isNull(), F.lit(0))
        .otherwise(F.size("__drop"))
        .cast("long")
        .alias("n_removed"),
    )
