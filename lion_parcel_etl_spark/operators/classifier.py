"""fastText-style hashed-feature logistic-regression quality classifier.

Implements the linear text classifier of Joulin et al. 2017 ("Bag of
Tricks for Efficient Text Classification") in the form used by the
CCNet / GPT-3 data-curation recipes: hashed unigram+bigram
bag-of-words features, a single linear layer trained with logistic
loss, used to score every document in a crawl against a "looks like
the reference corpus" (or rule-distillation) label. Not in the
reference (its 20-row tables need no learned filtering); a
first-class member of the engine's training-data surface — DSIR
(:mod:`selection`) is the generative twin (Naive-Bayes log-odds),
this is the discriminative one.

Training is fixed-step full-batch gradient descent with a FIXED
diagonal (Jacobi) preconditioner — the Hessian diagonal evaluated
once at the p=0.5 start, h_b = ¼·(1/N)·Σ_d x_db². Plain GD on raw tf
counts is hopeless here: the common-vocabulary buckets form a
high-curvature correlated subspace (every doc shares most of the
vocabulary), so any learning rate large enough to move a
discriminative bucket oscillates the common mode between the two
majority-class saturations (measured: stuck at exactly the majority
accuracy for every (steps, lr) tried). Scaling each coordinate by its
own curvature fixes the conditioning while staying pure relational
algebra — one extra aggregate, no linear solves.

Scale shape — batch GD with a tiny model:

- The ONLY big object is the pinned per-document feature table
  (doc, y, bucket, x) built once: one hash aggregate over the exploded
  feature instances. At cluster scale, persist it to storage and read
  it back (the same discipline as the dedup signature stores).
- Each GD step is two aggregates and one join, all over the pinned
  table: margins are a groupBy(doc) sum after a ≤(buckets+1)-row
  broadcast weight join (the feature table is repartitioned by doc at
  pin time, so the margin aggregate and the error join are
  exchange-free); gradients are a groupBy(bucket) sum whose map-side
  combine bounds the exchange at partitions×(buckets+1) rows.
- The model (≤buckets+1 doubles) is the only thing that ever reaches
  the driver — once per step, the same pattern as the IVF centroid
  table (operators/similarity.py). No parameter server, no Python in
  the row path, no per-row UDFs anywhere.

Determinism: buckets come from md5 (the :mod:`selection` spelling,
shared so fit and score cannot drift), the step count, learning rate
and preconditioner are fixed, and the GD unrolls to pure relational
algebra — a DuckDB oracle replays the ENTIRE fit, not just the
scoring, with per-doc probabilities order-sensitive only below the
1e-6 output rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lion_parcel_etl_spark.operators.selection import (
    DSIR_BUCKETS,
    feature_buckets,
)

#: Bias term lives in the weight table as pseudo-bucket -1 with a
#: constant x=1 feature on every doc, so margins, gradients and the
#: preconditioner treat it uniformly (no scalar special-casing in
#: either engine).
BIAS_BUCKET = -1

#: Floor for the preconditioner — a bucket this rare contributes
#: nothing to any margin; the floor only keeps the division defined.
H_FLOOR = 1e-12

#: The tuned step schedule — defined ONCE and imported by the registry
#: query (plans/queries.py QC_STEPS/QC_LR) and the scale smoke, so a
#: retune cannot silently diverge between the library default, the
#: benchmarked oracle query, and the measurement label. Many small
#: steps, not few large ones: diagonal preconditioning cannot damp the
#: CORRELATED common-vocabulary curvature, and 4 steps at lr 1.0
#: oscillated at 10× the corpus while acing the small scale (measured:
#: this pair scores 1.000 at sf0.01 / 0.990 at sf0.1 / 0.981 at the
#: 100k-doc 20× smoke).
DEFAULT_STEPS = 10
DEFAULT_LR = 0.25


def doc_features(
    docs: DataFrame,
    label_cond: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(id, y, bucket, x) hashed-ngram design matrix in long form —
    x is the raw term frequency (tf) — plus one bias row
    (bucket=-1, x=1.0) per document.

    Raw tf, not fastText's length normalization: with the Jacobi
    preconditioner handling scale, tf keeps a presence/count rule
    expressible with O(1)-magnitude weights, whereas 1/n_feats
    shrinks every feature's effective step by n_feats² and stalls a
    fixed-step fit. Null/empty-text docs have no features and fall
    out here (same rule as DSIR scoring — a doc with no tokens has
    nothing to classify).
    """
    fb = feature_buckets(
        docs.withColumn("__y", label_cond.cast("int")),
        id_col,
        text_col,
        buckets,
        extra_cols=("__y",),
    )
    cnts = fb.groupBy(id_col, "__y", "bucket").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    x = cnts.select(
        id_col,
        F.col("__y").alias("y"),
        "bucket",
        F.col("__cnt").cast("double").alias("x"),
    )
    bias = (
        cnts.groupBy(id_col, "__y")
        .agg(F.lit(1).alias("__one"))
        .select(
            id_col,
            F.col("__y").alias("y"),
            F.lit(BIAS_BUCKET).alias("bucket"),
            F.lit(1.0).alias("x"),
        )
    )
    return x.unionByName(bias).repartition(F.col(id_col))


def _weights_df(spark, weights: dict[int, float]) -> DataFrame:
    return spark.createDataFrame(
        [(int(b), float(w)) for b, w in sorted(weights.items())],
        "bucket int, w double",
    )


def _margins(feats: DataFrame, wdf: DataFrame, id_col: str) -> DataFrame:
    """(id, y, m) — left join keeps docs whose every bucket is
    (somehow) absent from the weight table at margin 0."""
    return (
        feats.join(F.broadcast(wdf), "bucket", "left")
        .groupBy(id_col, "y")
        .agg(F.sum(F.col("x") * F.coalesce("w", F.lit(0.0))).alias("m"))
    )


def logreg_fit(
    feats: DataFrame,
    id_col: str = "doc_id",
    steps: int = DEFAULT_STEPS,
    lr: float = DEFAULT_LR,
) -> dict[int, float]:
    """Fixed-step Jacobi-preconditioned full-batch GD on logistic loss
    over a pinned :func:`doc_features` table; returns {bucket: weight}
    (bias under ``BIAS_BUCKET``). ``steps`` driver round-trips of
    ≤buckets+1 rows each; everything row-shaped stays on the
    executors.

    Step 0 is special-cased: with all-zero weights every margin is
    exactly 0 and every error is 0.5 - y, so the first gradient needs
    no margin pass — one aggregate instead of three operators, and the
    SQL oracle replays the identical shortcut. The preconditioner
    aggregate rides along with it (same grouping, same scan), and the
    document count N rides along too: the bias pseudo-bucket has one
    x=1 row per doc, so its Σx² IS N exactly — no separate
    count-distinct pass over the big table."""
    spark = feats.sparkSession
    first = (
        feats.groupBy("bucket")
        .agg(
            F.sum((F.lit(0.5) - F.col("y")) * F.col("x")).alias("sg"),
            F.sum(F.col("x") * F.col("x")).alias("sx"),
        )
        .collect()
    )
    if not first:
        # nothing trainable: every doc was null/empty text (no feature
        # rows at all) — return the empty model instead of crashing;
        # scoring with it yields p = 0.5 everywhere, the honest prior
        return {}
    n_docs = next(
        (r["sx"] for r in first if r["bucket"] == BIAS_BUCKET), None
    )
    if n_docs is None:
        raise ValueError(
            "feature table has rows but no BIAS_BUCKET entries — "
            "build it with doc_features(), which adds one bias row "
            "per document"
        )
    h = {
        r["bucket"]: max(0.25 * r["sx"] / n_docs, H_FLOOR) for r in first
    }
    weights = {
        r["bucket"]: -lr * (r["sg"] / n_docs) / h[r["bucket"]]
        for r in first
    }
    n = F.lit(float(n_docs))
    for _ in range(steps - 1):
        m = _margins(feats, _weights_df(spark, weights), id_col)
        err = m.select(
            id_col,
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))) - F.col("y")).alias(
                "err"
            ),
        )
        grad = (
            feats.join(err, id_col)
            .groupBy("bucket")
            .agg((F.sum(F.col("err") * F.col("x")) / n).alias("g"))
            .collect()
        )
        for r in grad:
            weights[r["bucket"]] = (
                weights.get(r["bucket"], 0.0) - lr * r["g"] / h[r["bucket"]]
            )
    return weights


def logreg_score(
    feats: DataFrame,
    weights: dict[int, float],
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, y, p, pred) — sigmoid margin per doc under a fitted model.
    ``pred`` thresholds the 1e-6-ROUNDED probability so both engines
    make the boundary call on identical inputs."""
    m = _margins(feats, _weights_df(feats.sparkSession, weights), id_col)
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))), 6)
    return m.select(
        id_col,
        "y",
        p.alias("p"),
        F.when(p >= 0.5, 1).otherwise(0).alias("pred"),
    )

