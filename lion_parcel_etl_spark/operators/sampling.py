"""Deterministic sampling & splitting for training-data pipelines.

Not in the reference (its 20-row tables need no sampling); core to the
engine's training-data surface: building a 100 TB corpus means every
document needs a stable train/val/test assignment that survives
re-runs, repartitions, and incremental appends — so none of this may
depend on row order, partition layout, or an RNG seed that executors
would have to coordinate.

Everything here keys off ``md5(id)``: a pure per-row expression (no
shuffle to assign, embarrassingly parallel, whole-stage codegen'd) that
both Spark and DuckDB compute identically, so the oracle can replay the
exact sample. ``conv(substr(md5(x),1,15),16,10)`` ≡ DuckDB
``('0x'||substr(md5(x),1,15))::BIGINT`` — 60 bits, always positive.

stratified_sample is the one shuffle-bearing op (per-stratum exact
counts need a window over the stratum); at scale its cost equals one
groupBy on the strata columns, and skewed strata are split by AQE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 15 hex chars = 60 bits: fits a signed 64-bit int, never negative.
HASH_BITS = 60
HASH_MOD = 1 << HASH_BITS


def id_hash(col: Column, salt: str = "") -> Column:
    """Uniform deterministic 60-bit hash of an id (+ optional salt —
    change the salt to draw an independent split). A NULL id hashes
    via a sentinel string rather than propagating NULL: otherwise
    every split/sample comparison on the hash is NULL→false and all
    NULL-id rows silently pile into the fallback branch (hash_split
    assigned them ALL to the last split — deterministic contamination
    of the smallest split)."""
    key = F.concat(
        F.coalesce(col.cast("string"), F.lit("__null__")), F.lit(salt)
    )
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")


def duck_id_hash(expr: str, salt: str = "") -> str:
    """The DuckDB spelling of :func:`id_hash` for oracle SQL."""
    key = f"COALESCE(CAST({expr} AS VARCHAR), '__null__') || '{salt}'"
    return f"('0x' || substr(md5({key}), 1, 15))::BIGINT"


def group_case(group_col: str, mapping: dict[str, float], default: float) -> Column:
    """group value → float CASE column — the one spelling of the
    per-group constant lookup shared by the mixing (rates) and
    interleaving (weights) operators, so the two can't drift."""
    out = None
    for name, v in mapping.items():
        cond = F.col(group_col) == F.lit(name)
        out = F.when(cond, F.lit(float(v))) if out is None else out.when(cond, F.lit(float(v)))
    return F.lit(float(default)) if out is None else out.otherwise(F.lit(float(default)))


def duck_group_case(group_col: str, mapping: dict[str, float], default: float) -> str:
    """The DuckDB spelling of :func:`group_case` for oracle SQL."""
    if not mapping:
        return repr(float(default))
    whens = " ".join(f"WHEN '{g}' THEN {float(v)!r}" for g, v in mapping.items())
    return f"(CASE {group_col} {whens} ELSE {float(default)!r} END)"


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Assign each row a split label with the given weights, purely by
    id hash: stateless, order-independent, stable under appends (a row
    keeps its split forever), no shuffle. The workhorse train/val/test
    splitter — unlike ``df.randomSplit``, which is seed- and
    partition-layout-dependent and can reassign rows when the input is
    repartitioned."""
    total = sum(weights.values())
    u = id_hash(F.col(id_col), salt) / F.lit(float(HASH_MOD))
    expr = None
    acc = 0.0
    *head, (last_name, _) = weights.items()
    for name, w in head:
        acc += w / total
        cond = u < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(last_name) if expr is None else expr.otherwise(last_name)
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    strata: list[str],
    fraction: float,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Exact-count stratified sample: from each stratum take
    ``ceil(n * fraction)`` rows, chosen deterministically as the
    smallest id-hashes in the stratum. Guarantees every non-empty
    stratum is represented (unlike Bernoulli ``df.sampleBy``, which
    drops small strata at random and only hits the fraction in
    expectation). One shuffle on the strata columns."""
    h = id_hash(F.col(id_col), salt)
    w = Window.partitionBy(*strata).orderBy(h.asc(), F.col(id_col).asc())
    wc = Window.partitionBy(*strata)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        # round before ceil: the double product n*fraction can land one
        # ulp ABOVE an exact integer (100*0.07 = 7.000000000000001), and
        # a bare ceil would then take one extra row per affected stratum
        .filter(F.col("__rn") <= F.ceil(F.round(F.col("__n") * F.lit(fraction), 9)))
        .drop("__rn", "__n")
    )


def rate_sample_by_group(
    df: DataFrame,
    group_col: str,
    rates: dict[str, float],
    id_col: str,
    salt: str = "",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-group Bernoulli-rate sampling with a deterministic hash coin
    — the data-MIXING step of corpus construction: "keep 100% of
    source A, 30% of source B, 5% of the crawl". Stateless per-row
    expression (no shuffle, no RNG coordination); a row's keep/drop
    decision is stable under re-runs, repartitions, and appends, and an
    UNSEEN group falls back to ``default_rate`` (0.0 = drop unknown
    sources — the safe default for curated mixes).

    Unlike ``df.sampleBy``, which draws a fresh random coin per run,
    the id-hash coin makes the mix reproducible and incrementally
    extendable: sampling tomorrow's append keeps exactly yesterday's
    rows. Independent mixes come from different ``salt`` values.
    """
    u = id_hash(F.col(id_col), salt) / F.lit(float(HASH_MOD))
    return df.filter(u < group_case(group_col, rates, default_rate))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
    salt: str = "",
) -> DataFrame:
    """Hard per-group cap: keep at most ``cap`` rows per group — the
    domain-cap curation step (bound over-represented sources/domains
    to a fixed budget) next to ``rate_sample_by_group``'s proportional
    mix. Which rows survive is decided ONLY by id hash (smallest-hash
    first, id tiebreak), so the selection is order- and
    partition-independent and replayable by the SQL oracle.

    Plan: one exchange on the group key, then a per-group sort +
    row_number — rank, not a global sort. A pathological mega-group
    concentrates its sort on one reducer; at that scale pre-prune with
    a hash threshold just above cap/|group| (from a cheap count) and
    rank only the survivors — the pruned rank equals the exact one
    whenever the threshold keeps ≥ cap rows, which a count-based
    threshold with slack guarantees in practice but not provably, so
    this function keeps the exact single-pass form."""
    w = Window.partitionBy(group_col).orderBy(
        id_hash(F.col(id_col), salt).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def reservoir_sample(df: DataFrame, id_col: str, k: int, salt: str = "") -> DataFrame:
    """Exact-``k`` uniform sample without replacement: the ``k`` rows
    with the smallest id hashes. Equivalent in distribution to a
    classic reservoir sample (every k-subset equally likely under the
    hash's uniformity) but deterministic — the same corpus always
    yields the same sample, a different ``salt`` draws an independent
    one, and appending rows evicts only the boundary rows (bottom-k by
    a fixed key is stable), none of which holds for ``rdd.takeSample``.

    Plan: ORDER BY hash LIMIT k compiles to TakeOrderedAndProject —
    each task keeps a k-element heap and only num_partitions * k rows
    reach the final merge, never a full sort. The sample itself must be
    driver-feasible (k rows), which is what "sample" means; for
    per-stratum budgets at scale use :func:`stratified_sample` /
    :func:`cap_per_group`, which rank inside the exchange instead.
    """
    h = id_hash(F.col(id_col), salt)
    return df.orderBy(h.asc(), F.col(id_col).asc()).limit(k)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Exact-``k`` weighted sample without replacement by *sequential
    Poisson sampling* (Ohlsson 1998): each row draws the deterministic
    uniform ``u = (hash+1) / 2^60`` and is ranked by priority
    ``u / weight``; the ``k`` smallest priorities win. Inclusion
    probability is approximately proportional to weight (the standard
    PPS-WOR approximation; exact PPS requires the rejective designs
    that don't stream). Rows with NULL or non-positive weight are
    excluded — they have no meaningful inclusion probability.

    Cross-engine determinism: both ``u`` and the priority use only
    int→double casts and a double division, which IEEE 754 requires to
    be correctly rounded — Spark (JVM) and the DuckDB oracle produce
    bit-identical priorities, so the selected k-set replays exactly
    (no transcendental functions: the textbook exponential-key variant
    ``log(u)/w`` would be libm-dependent).

    Same TakeOrderedAndProject plan as :func:`reservoir_sample`.
    """
    w = F.col(weight_col).cast("double")
    u = (id_hash(F.col(id_col), salt) + F.lit(1)).cast("double") / F.lit(float(HASH_MOD))
    pri = u / w
    return (
        df.filter(w > F.lit(0.0))
        .withColumn("priority", pri)
        .orderBy(F.col("priority").asc(), F.col(id_col).asc())
        .limit(k)
    )


def _bucketed_rank(
    df: DataFrame,
    id_col: str,
    by: list[str],
    salt: str,
    buckets: int,
) -> DataFrame:
    """Dense 1-based rank of every row within its ``by`` group, in
    ``md5(id || salt)`` order, computed WITHOUT a per-group
    single-task window. The naive
    ``row_number().over(Window.partitionBy(*by).orderBy(hash))``
    funnels each whole group through one task — with no ``by`` that
    is the global-window scale bug; with a low-cardinality ``by``
    (e.g. a handful of sources) each giant group is still one task.

    Instead the 60-bit hash space is cut into ``buckets`` CONTIGUOUS
    ranges (top bits, so within-group hash order == (bucket, local)
    order), the window partitions by (group, bucket) — parallelism =
    groups × buckets regardless of group skew — and the bucket
    offsets come from an exclusive prefix sum over the tiny
    groups × buckets count table, joined back by broadcast. Cost: one
    window exchange on (group, bucket) + one tiny aggregate; uniform
    md5 rules out bucket skew inside a group.

    ``buckets`` must be a power of two (bucket = top ``log2(buckets)``
    bits via shiftright — exact, no division rounding). Ids must be
    unique (duplicate ids tie on the full sort key and their relative
    order would be nondeterministic).

    Returns (*by, id, __r) with ``__r`` the 1-based within-group rank.
    """
    k = buckets.bit_length() - 1
    if buckets != 1 << k:
        raise ValueError(f"buckets must be a power of two, got {buckets}")
    h = id_hash(F.col(id_col), salt=salt).alias("__h")
    # the coalesce is a NULLABILITY cast, not a value change: conv()
    # reports nullable=true even over non-null input, so the offsets
    # join would infer isnotnull(__b) and push a per-row re-run of the
    # whole md5/conv hash into ONE branch's scan filter — making the
    # two branches' exchanges non-identical and defeating the
    # ReusedExchange that keeps this a single-scan plan
    base = df.select(*by, F.col(id_col), h).withColumn(
        "__b",
        F.coalesce(F.shiftright(F.col("__h"), HASH_BITS - k), F.lit(-1)),
    )
    rn = F.row_number().over(
        Window.partitionBy(*by, "__b").orderBy("__h", id_col)
    )
    local = base.select(*by, id_col, "__b", rn.alias("__rn"))
    # bucket sizes = max local rank, aggregated from the WINDOWED side
    # rather than re-counting from base: both consumers then share one
    # exchange on (by, bucket) (ReusedExchange in the plan), so the
    # input is scanned and hashed ONCE — counting from base would plan
    # a second full scan + md5 pass
    counts = local.groupBy(*by, "__b").agg(F.max("__rn").alias("__cnt"))
    off_w = (
        Window.partitionBy(*by)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *by,
        "__b",
        F.coalesce(F.sum("__cnt").over(off_w), F.lit(0)).alias("__off"),
    )
    # no broadcast hint: with no/low-cardinality `by` the offsets side
    # is ≤ groups×buckets rows and AQE broadcasts it anyway, but at
    # HIGH group cardinality (per-domain interleaving over millions of
    # domains) a forced broadcast would be the scale bug — and the
    # fallback shuffled join costs nothing extra on the big side,
    # whose (by, bucket) partitioning from the window is exactly the
    # join key
    return local.join(offsets, [*by, "__b"]).select(
        *by, id_col, (F.col("__off") + F.col("__rn")).alias("__r")
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    epoch: int = 0,
    buckets: int = 256,
) -> DataFrame:
    """Deterministic global training-order shuffle: assign every row a
    dense position ``pos`` in 0..n-1, pseudo-randomly permuted by
    ``md5(id || epoch)`` — the epoch-reshuffle step of a training
    pipeline (each epoch draws an independent order; re-running an
    epoch reproduces it exactly, regardless of partitioning or
    cluster size). The dense rank comes from :func:`_bucketed_rank`
    with no grouping — parallel in ``buckets`` (≈ cluster cores),
    never the single-task global window.

    The oracle replays it as one global
    ``row_number() OVER (ORDER BY hash, id)`` — verifying that the
    bucketed decomposition equals the true global rank.
    """
    ranked = _bucketed_rank(df, id_col, [], f"|epoch={epoch}", buckets)
    return ranked.select(id_col, (F.col("__r") - 1).alias("pos"))


def interleave_by_weight(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weights: dict[str, float],
    default_weight: float = 1.0,
    epoch: int = 0,
    buckets: int = 256,
) -> DataFrame:
    """Stride-scheduled source interleaving — the training-order twin
    of rate-based mixing: instead of DROPPING rows to hit a source
    mix, emit EVERY row but schedule group ``g`` at frequency ∝
    ``weights[g]`` (the temperature-sampling order used for
    multilingual / multi-source corpora). Each row gets a virtual
    time ``vtime = (r - 0.5) / w`` where ``r`` is its within-group
    shuffled rank and ``w`` its group weight; consuming rows in
    ``vtime`` order yields the interleave (a weight-2 source appears
    twice as often per unit of schedule as a weight-1 source, each
    group's own rows in epoch-shuffled order). Deterministic per
    (id, epoch): stable across re-runs, layouts, and cluster sizes.

    The within-group rank is :func:`_bucketed_rank` — parallel in
    groups × buckets, immune to source skew (one giant source never
    serializes into one task). Consuming "in vtime order" at scale is
    a range-partitioned sort (Spark's ``orderBy``), not a single-task
    window; this function returns the schedule key rather than
    forcing that sort.

    Weights must be strictly positive: the contract is every-row-kept
    at weight-proportional frequency, so "exclude this source" is not
    expressible here (w=0 would send a whole group to vtime=∞, not
    drop it) — pre-filter with :func:`rate_sample_by_group` instead.
    """
    for g, wt in {**weights, "<default>": default_weight}.items():
        if not wt > 0:
            raise ValueError(
                f"weight for {g!r} must be > 0, got {wt!r}; to exclude a "
                "group, drop it with rate_sample_by_group first"
            )
    ranked = _bucketed_rank(df, id_col, [group_col], f"|epoch={epoch}", buckets)
    w = group_case(group_col, weights, default_weight)
    return ranked.select(
        id_col,
        group_col,
        F.round((F.col("__r") - 0.5) / w, 6).alias("vtime"),
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str,
    len_col,
    budget: int,
    shards: int = 8,
    salt: str = "",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Assign documents to fixed-token-budget packing bins — the
    batch-construction step that concatenates documents into
    budget-sized training sequences (concat-and-chunk / next-fit
    streaming packing: a bin closes the moment a doc starts past its
    boundary; earlier bins are never revisited).

    Documents spread across ``shards`` by id hash first: real
    pipelines pack each shard independently because a single global
    greedy pack would serialize the corpus through one task — the
    window below partitions by shard, so packing parallelism = shards.
    Within a shard, docs pack in id order by running token cumsum; a
    doc opens a new bin when its START offset crosses a budget
    boundary, so every bin is filled past the boundary by at most its
    last document (the standard overflow-tolerant semantics; split
    oversized docs upstream with doc_chunking). Assignment is a pure
    function of (ids, lengths) — deterministic, layout-independent,
    and SQL-replayable.

    Returns (id, *carry_cols, n_tokens=len_col, shard, bin) — ``bin``
    is local to its shard; ``carry_cols`` pass through untouched.
    """
    carry = list(carry_cols or [])
    lc = F.col(len_col) if isinstance(len_col, str) else len_col
    shard = F.pmod(id_hash(F.col(id_col), salt), F.lit(shards)).alias("shard")
    base = docs.select(
        F.col(id_col), *carry, lc.cast("long").alias("n_tokens"), shard
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    cum = F.sum("n_tokens").over(w)
    return base.select(
        id_col,
        *carry,
        "n_tokens",
        "shard",
        F.floor((cum - F.col("n_tokens")) / F.lit(budget)).alias("bin"),
    )


def _bucketed_prefix_sum(
    df: DataFrame,
    id_col: str,
    by: list[str],
    val_col: str,
    salt: str,
    buckets: int,
) -> DataFrame:
    """Running (inclusive) sum of ``val_col`` over every row of each
    ``by`` group in ``md5(id || salt)`` order, without a per-group
    single-task window — :func:`_bucketed_rank` generalized from
    counting rows to summing a value (rank == prefix sum of 1). Same
    decomposition, same plan shape: contiguous top-bit hash buckets
    keep within-group hash order equal to (bucket, local) order, the
    window partitions by (group, bucket) so parallelism is
    groups × buckets regardless of group skew, and bucket offsets are
    an exclusive prefix sum over the tiny groups × buckets totals
    table. The totals aggregate reads the WINDOWED side (max of the
    inclusive cumsum = bucket total), so both consumers share one
    exchange (ReusedExchange — single scan, single hash pass). Values
    may be negative or NULL (NULLs add nothing, matching SQL window
    SUM); the offsets come from per-bucket SUMs, not cumsum maxima.

    Returns (*by, id, val_col, __cum) with ``__cum`` the inclusive
    within-group running sum.
    """
    k = buckets.bit_length() - 1
    if buckets != 1 << k:
        raise ValueError(f"buckets must be a power of two, got {buckets}")
    h = id_hash(F.col(id_col), salt=salt).alias("__h")
    base = df.select(
        *by, F.col(id_col), F.col(val_col).cast("long").alias(val_col), h
    ).withColumn(
        "__b",
        F.coalesce(F.shiftright(F.col("__h"), HASH_BITS - k), F.lit(-1)),
    )
    w = Window.partitionBy(*by, "__b").orderBy("__h", id_col)
    local = base.select(
        *by, id_col, val_col, "__b", "__h",
        F.sum(val_col).over(w).alias("__lcum"),
    )
    # bucket totals as the LAST inclusive cumsum in window order
    # (max_by over the (hash, id) sort key) — correct for any value
    # signs, unlike max(__lcum), which equals the total only for
    # non-negative values; and unlike a plain sum(val) aggregate,
    # max_by consumes the WINDOWED column, so Catalyst cannot prune
    # the window out of this branch and both consumers still share
    # one exchange (ReusedExchange — single scan, single hash pass)
    totals = local.groupBy(*by, "__b").agg(
        F.max_by("__lcum", F.struct("__h", id_col)).alias("__tot")
    )
    off_w = (
        Window.partitionBy(*by)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *by, "__b",
        F.coalesce(F.sum("__tot").over(off_w), F.lit(0)).alias("__off"),
    )
    return local.join(offsets, [*by, "__b"]).select(
        *by, id_col, val_col,
        (F.col("__off") + F.col("__lcum")).alias("__cum"),
    )


def token_budget_select(
    docs: DataFrame,
    id_col: str,
    group_col: str,
    len_col: str,
    budgets: dict[str, int],
    default_budget: int,
    salt: str = "",
    buckets: int = 256,
) -> DataFrame:
    """Select documents per source up to a TOKEN budget — how a
    training mix is actually specified ("200 B tokens of web, 50 B of
    code"), as opposed to row-rate sampling (rate_sample_by_group) or
    row caps (cap_per_group). Docs are taken in deterministic
    ``md5(id || salt)`` order within each group (an unbiased draw,
    stable under appends and layout), accumulating token counts until
    the group's budget is exhausted: a doc is kept iff its INCLUSIVE
    running total stays at or under budget (the boundary-crossing doc
    is dropped, never truncated — split oversized docs upstream with
    doc_chunking).

    The running total is :func:`_bucketed_prefix_sum` — parallel in
    groups × buckets, so one giant source never serializes through a
    single task; the oracle replays it as the true per-group global
    window cumsum, verifying the decomposition exactly.

    Returns (id, group, len_col, cum_tokens) for kept docs only.
    """
    cum = _bucketed_prefix_sum(docs, id_col, [group_col], len_col, salt, buckets)
    budget = group_case(group_col, {k: float(v) for k, v in budgets.items()},
                        float(default_budget))
    return cum.filter(F.col("__cum") <= budget).select(
        id_col, group_col, len_col, F.col("__cum").alias("cum_tokens")
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    total_budget: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled source sampling targets: given per-group row
    counts ``n_g``, allocate a ``total_budget`` of training examples
    proportionally to ``n_g**alpha`` — the standard temperature /
    exponential-smoothing mix for multilingual and multi-source
    corpora (alpha=1 is natural proportions, alpha→0 is uniform;
    published variants use alpha≈0.3–0.7). Emits, per group: the raw
    count, the smoothed sampling probability, the integer target row
    count, and the implied epochs over that group (>1 means
    oversampling / repetition, a quality-risk signal worth auditing
    before training).

    Scale shape: one map-side-combined groupBy on the (tiny) group
    key; the Σ n**alpha normalizer is a one-row aggregate broadcast
    back by a scalar cross join. The input is scanned once; nothing
    row-sized ever reaches the driver.
    """
    counts = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    norm = counts.agg(
        F.sum(F.pow(F.col("n_rows").cast("double"), F.lit(alpha))).alias(
            "__z"
        )
    )
    p = F.pow(F.col("n_rows").cast("double"), F.lit(alpha)) / F.col("__z")
    target = F.round(p * F.lit(float(total_budget))).cast("long")
    return (
        counts.crossJoin(F.broadcast(norm))
        .select(
            F.col("grp").alias(group_col),
            "n_rows",
            F.round(p, 6).alias("p_sample"),
            target.alias("target_rows"),
            F.round(target / F.col("n_rows"), 6).alias("epochs"),
        )
        .orderBy(group_col)
    )


def cluster_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Leakage-proof train/val/test assignment: :func:`hash_split`
    keyed on the near-dup CLUSTER id instead of the document id, so an
    entire duplicate cluster lands in ONE split and no near-duplicate
    pair can straddle train/test (the leakage mode that inflates every
    eval — splitting by doc id puts two 95%-identical docs on opposite
    sides of the split with probability 2·p·(1−p)).

    ``pairs`` is any near-dup pair table (id_a, id_b) — MinHash,
    SimHash or embedding-LSH; cluster ids come from the pointer-
    doubling connected components (operators/dedup.py), singletons
    stay their own cluster. The label table holds only docs that
    appear in a pair — broadcast under the same rationale as
    dedup_clusters: at extreme dup rates materialize it and let AQE
    pick the join. Split assignment itself stays a stateless per-row
    hash — appends re-derive the same clusters' splits as long as the
    canonical min-id of each cluster is stable (a NEW doc joining an
    existing cluster inherits that cluster's split)."""
    from lion_parcel_etl_spark.operators.dedup import connected_components

    cc = F.broadcast(connected_components(pairs, "id_a", "id_b"))
    labeled = (
        docs.join(cc, docs[id_col] == cc["node"], "left")
        .drop("node")
        .withColumn(
            "cluster_id", F.coalesce("component", F.col(id_col))
        )
        .drop("component")
    )
    return hash_split(labeled, "cluster_id", weights, salt)
