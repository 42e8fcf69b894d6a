"""Scale smoke: replicate the sf0.1 documents corpus N× (perturbed ids
and text so dedup structure is preserved, not degenerate) and time the
heavy text/dedup operators. Near-linear growth here is the evidence the
per-row costs are flat — i.e. the plan would survive another 100× on a
real cluster where partition counts, not constants, change.

Usage: python tools/scale_smoke.py [multiplier]
       python tools/scale_smoke.py --skew [cluster_size]
       python tools/scale_smoke.py --semdedup [cluster_size]
       python tools/scale_smoke.py --incremental

``--incremental`` measures the continuous-ingest claim: a FIXED new
batch deduped against a PERSISTED parquet signature store at growing
store sizes, vs recomputing the full corpus each time. Evidence that
per-batch cost is O(store scan + batch) — the store is read, never
re-signed and never self-joined — while the full run pays signature
recompute + self-join on everything.

``--semdedup`` measures the semantic_dedup giant-cluster hotspot (a
block of identical vectors concentrates the within-cluster pairwise
stage quadratically — raising n_centroids cannot split identical
vectors) and its mitigation, the same exact-first composition the text
family uses: group identical embeddings first, run SemDeDup on the
representatives. Wall time + pair-stage volume + shuffle bytes.

``--skew`` measures the documented minhash_near_dup hotspot (a giant
cluster of byte-identical docs quadratic in the band join) and its
mitigation: naive LSH over the skewed corpus vs exact_dedup-first LSH
over per-digest representatives, with wall time, emitted pairs, and
shuffle-write bytes (Spark UI REST) for both. Evidence for the
SCALE.md ledger row.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from bench import _shuffle_bytes
from lion_parcel_etl_spark.operators import dedup as DD
from lion_parcel_etl_spark.operators.text import analyze_documents
from lion_parcel_etl_spark.session import get_spark


def skew_main() -> None:
    cluster = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    spark = get_spark(
        app_name="skew-smoke",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.retainedStages": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    n_base = base.count()
    one = base.orderBy("doc_id").limit(1)
    giant = one.withColumn(
        "copy", F.explode(F.sequence(F.lit(1), F.lit(cluster)))
    ).select((F.col("doc_id") + F.col("copy") * (n_base * 10)).alias("doc_id"), "text")
    corpus = base.unionByName(giant).repartition(32).persist()
    n = corpus.count()
    print(f"skew corpus: {n} docs ({n_base} base + {cluster}-copy identical cluster)")

    t0 = time.perf_counter()
    sb0 = _shuffle_bytes(spark)
    naive = DD.minhash_near_dup(corpus, "doc_id", "text", threshold=0.5).count()
    print(
        f"naive LSH:       {naive} pairs, {time.perf_counter() - t0:.2f}s, "
        f"shuffle {(_shuffle_bytes(spark) - sb0) / 1e6:.1f} MB"
    )

    t0 = time.perf_counter()
    sb0 = _shuffle_bytes(spark)
    groups = DD.exact_dedup(corpus, "doc_id", "text")
    reps = corpus.join(
        groups.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    rep_pairs = DD.minhash_near_dup(reps, "doc_id", "text", threshold=0.5).count()
    n_groups = groups.filter(F.col("n_docs") > 1).count()
    print(
        f"exact-first LSH: {rep_pairs} rep pairs + {n_groups} exact group(s), "
        f"{time.perf_counter() - t0:.2f}s, "
        f"shuffle {(_shuffle_bytes(spark) - sb0) / 1e6:.1f} MB"
    )


def semdedup_main() -> None:
    cluster = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    from lion_parcel_etl_spark.operators.similarity import semantic_dedup

    spark = get_spark(
        app_name="semdedup-smoke",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.retainedStages": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n_base = base.count()
    one = base.orderBy("vec_id").limit(1)
    giant = one.withColumn(
        "copy", F.explode(F.sequence(F.lit(1), F.lit(cluster)))
    ).select((F.col("vec_id") + F.col("copy") * (n_base * 10)).alias("vec_id"), "embedding")
    corpus = base.unionByName(giant).repartition(32).persist()
    n = corpus.count()
    print(f"semdedup corpus: {n} vectors ({n_base} base + {cluster}-copy identical block)")

    t0 = time.perf_counter()
    sb0 = _shuffle_bytes(spark)
    naive = semantic_dedup(corpus, 0.35).filter(~F.col("kept")).count()
    print(
        f"naive SemDeDup:       {naive} dropped, {time.perf_counter() - t0:.2f}s, "
        f"shuffle {(_shuffle_bytes(spark) - sb0) / 1e6:.1f} MB"
    )

    t0 = time.perf_counter()
    sb0 = _shuffle_bytes(spark)
    reps = (
        corpus.groupBy("embedding")
        .agg(F.min("vec_id").alias("vec_id"), F.count(F.lit(1)).alias("n_copies"))
    ).persist()
    exact_dropped = reps.agg(F.sum(F.col("n_copies") - 1)).collect()[0][0]
    sem_dropped = (
        semantic_dedup(reps.select("vec_id", "embedding"), 0.35)
        .filter(~F.col("kept"))
        .count()
    )
    print(
        f"exact-first SemDeDup: {exact_dropped} exact + {sem_dropped} semantic dropped, "
        f"{time.perf_counter() - t0:.2f}s, "
        f"shuffle {(_shuffle_bytes(spark) - sb0) / 1e6:.1f} MB"
    )


def incremental_main() -> None:
    import shutil
    import tempfile

    spark = get_spark(app_name="incremental-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    n_base = base.count()
    # fixed batch: ~2% of the base corpus, ids shifted into a range no
    # store replica can reach
    batch = base.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    n_batch = batch.count()
    print(f"batch: {n_batch} docs (fixed across store sizes)")
    tmp = tempfile.mkdtemp(prefix="incr_smoke_")
    try:
        for mult in (1, 4, 16):
            store_docs = (
                base.withColumn(
                    "copy", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
                )
                .select(
                    (F.col("doc_id") + F.col("copy") * (n_base * 10)).alias("doc_id"),
                    F.when(F.col("copy") == 0, F.col("text"))
                    .otherwise(F.concat(F.col("text"), F.lit(" v"), F.col("copy")))
                    .alias("text"),
                )
                .repartition(32)
                .persist()
            )
            n_store = store_docs.count()
            path = f"{tmp}/sigs_{mult}"
            # the store's REAL form: a parquet signature table, written
            # once at ingest time — reading it back costs a scan, not a
            # signature recompute
            DD.simhash_signatures(store_docs, "doc_id", "text").write.parquet(path)
            store_sigs = spark.read.parquet(path)
            t0 = time.perf_counter()
            inc = DD.simhash_near_dup_incremental(
                store_sigs, batch, "doc_id", "text"
            ).count()
            t_inc = time.perf_counter() - t0
            t0 = time.perf_counter()
            full = DD.simhash_near_dup(
                store_docs.unionByName(batch), "doc_id", "text"
            ).count()
            t_full = time.perf_counter() - t0
            print(
                f"store {n_store:>7} docs ({mult:>2}x): incremental "
                f"{t_inc:6.2f}s / {inc} pairs   full-recompute "
                f"{t_full:6.2f}s / {full} pairs   speedup {t_full / t_inc:4.1f}x"
            )
            store_docs.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--skew":
        skew_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--semdedup":
        semdedup_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--incremental":
        incremental_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--classifier":
        classifier_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--eval":
        eval_main()
        return
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark(
        app_name="scale-smoke",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.retainedStages": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n_base = base.count()

    # replicas: shift ids into disjoint ranges, salt the text of every
    # copy>0 with a per-copy token so replicas are near- but not
    # exact-duplicates of the original corpus
    big = base.withColumn(
        "copy", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
    ).select(
        (F.col("doc_id") + F.col("copy") * (n_base * 10)).alias("doc_id"),
        F.when(F.col("copy") == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" v"), F.col("copy")))
        .alias("text"),
    )
    big = big.repartition(32).persist()
    n = big.count()
    print(f"corpus: {n} docs ({mult}x)")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    t0 = time.perf_counter()
    noop(analyze_documents(big))
    print(f"text_analysis: {time.perf_counter() - t0:.2f}s")

    t0 = time.perf_counter()
    pairs = DD.minhash_near_dup(big, "doc_id", "text", threshold=0.08).count()
    print(f"minhash_near_dup: {pairs} pairs, {time.perf_counter() - t0:.2f}s")

    t0 = time.perf_counter()
    noop(DD.exact_dedup(big, "doc_id", "text"))
    print(f"exact_dedup: {time.perf_counter() - t0:.2f}s")

    t0 = time.perf_counter()
    spans = DD.duplicate_spans(big, "doc_id", "text").count()
    print(f"duplicate_spans: {spans} spans, {time.perf_counter() - t0:.2f}s")

    # worst-case rewrite load: every replica doc's chunks collide with
    # the original's, so the removal side is ∝ corpus here — the
    # adversarial ceiling for the decision-join + rebuild path
    t0 = time.perf_counter()
    sb0 = _shuffle_bytes(spark)
    removed = (
        DD.remove_duplicate_spans(big, "doc_id", "text")
        .agg(F.sum("n_removed"))
        .collect()[0][0]
    )
    print(
        f"span_dedup_rewrite: {removed} chunks removed, "
        f"{time.perf_counter() - t0:.2f}s, "
        f"shuffle {(_shuffle_bytes(spark) - sb0) / 1e6:.1f} MB"
    )

    from lion_parcel_etl_spark.operators.text import ngram_novelty

    t0 = time.perf_counter()
    sb0 = _shuffle_bytes(spark)
    noop(ngram_novelty(big))
    print(
        f"ngram_novelty: {time.perf_counter() - t0:.2f}s, "
        f"shuffle {(_shuffle_bytes(spark) - sb0) / 1e6:.1f} MB"
    )

    from lion_parcel_etl_spark.operators.sketches import frequent_items_exact
    from lion_parcel_etl_spark.operators.text import repetition_metrics

    toks = big.select(F.explode(DD.tokens(F.col("text"))).alias("token"))
    t0 = time.perf_counter()
    hh = frequent_items_exact(toks, "token", phi=0.002).count()
    print(f"heavy_hitters_exact: {hh} hitters, {time.perf_counter() - t0:.2f}s")

    t0 = time.perf_counter()
    noop(repetition_metrics(big))
    print(f"repetition_metrics: {time.perf_counter() - t0:.2f}s")

    from lion_parcel_etl_spark.operators.sampling import token_budget_select
    from lion_parcel_etl_spark.operators.text import gopher_rules, token_count

    t0 = time.perf_counter()
    noop(gopher_rules(big))
    print(f"gopher_rules: {time.perf_counter() - t0:.2f}s")

    sized = big.select(
        "doc_id",
        F.concat(F.lit("s"), F.pmod("doc_id", F.lit(20))).alias("source"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    t0 = time.perf_counter()
    kept = token_budget_select(
        sized, "doc_id", "source", "n_tokens", budgets={}, default_budget=10**12
    ).count()
    print(f"token_budget_select: {kept} kept, {time.perf_counter() - t0:.2f}s")

    # DSIR: the claim under test is that the fit exchange stays
    # ≤ partitions×BUCKETS and the score exchange ∝ docs — both far
    # below the exploded feature-instance count (≈2 rows per token)
    from lion_parcel_etl_spark.operators.selection import dsir_fit, dsir_weights

    langd = big.withColumn(
        "lang", F.when(F.pmod("doc_id", F.lit(2)) == 0, "en").otherwise("xx")
    )
    t0 = time.perf_counter()
    sb0 = _shuffle_bytes(spark)
    lr = dsir_fit(langd, F.col("lang") == "en")
    noop(dsir_weights(langd, lr))
    print(
        f"dsir_weights: {time.perf_counter() - t0:.2f}s, "
        f"shuffle {(_shuffle_bytes(spark) - sb0) / 1e6:.1f} MB"
    )


def eval_main() -> None:
    """Measure the round-4/5 evaluation layer at a replicated corpus:
    AUC over the scored classifier output (the claim: the corpus
    collapses to per-distinct-score counts before the only window),
    the multi-query hybrid retrieval chain (the claim: corpus-sized
    work happens once regardless of query count; the query dimension
    only fans out bounded candidate rows), and the per-query nDCG on
    top of it (the claim: relevance is one filtered token pass; gain
    sums act on queries×top_n rows)."""
    from pyspark.sql import Window

    from lion_parcel_etl_spark.operators.classifier import (
        doc_features,
        logreg_fit,
        logreg_score,
    )
    from lion_parcel_etl_spark.operators.dedup import pin
    from lion_parcel_etl_spark.operators.evaluation import (
        roc_auc,
        rrf_fuse_keyed,
    )
    from lion_parcel_etl_spark.operators.text import (
        bm25_rank_keyed,
        hashed_embedding,
        tokens_long,
    )
    from lion_parcel_etl_spark.plans.queries import (
        NDCG_REL_CAP,
        RETRIEVAL_QUERY_SET,
        RRF_K0,
        RRF_POOL,
        RRF_TOPN,
    )

    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark(
        app_name="scale-smoke-eval",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.retainedStages": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    n_base = base.count()
    big = (
        base.withColumn(
            "copy", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
        )
        .select(
            (F.col("doc_id") + F.col("copy") * (n_base * 10)).alias("doc_id"),
            F.when(F.col("copy") == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" v"), F.col("copy")))
            .alias("text"),
        )
        .repartition(32)
        .persist()
    )
    n = big.count()
    print(f"corpus: {n} docs ({mult}x)")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # classifier_auc at scale: fit + score + rank-sum AUC
    cond = F.lower(F.col("text")).contains("slow join") | F.lower(
        F.col("text")
    ).contains("join slow")
    t0 = time.perf_counter()
    sb0 = _shuffle_bytes(spark)
    feats = pin(doc_features(big, cond))
    w = logreg_fit(feats)
    scored = logreg_score(feats, w)
    row = roc_auc(scored).collect()[0]
    print(
        f"classifier_auc: auc {row['auc']}, n_pos {row['n_pos']}, "
        f"{time.perf_counter() - t0:.2f}s, "
        f"shuffle {(_shuffle_bytes(spark) - sb0) / 1e6:.1f} MB"
    )

    # hybrid_rrf_multi at scale: all queries through one corpus pass
    t0 = time.perf_counter()
    sb0 = _shuffle_bytes(spark)
    lex = bm25_rank_keyed(
        big, RETRIEVAL_QUERY_SET, top_n=RRF_POOL
    ).select("query_id", "doc_id", "rnk")
    qdocs = spark.createDataFrame(
        [(qid, " ".join(ts)) for qid, ts in RETRIEVAL_QUERY_SET],
        "query_id string, text string",
    )
    qcells = hashed_embedding(qdocs, id_col="query_id").select(
        "query_id", "dim", F.col("value").alias("qv")
    )
    dots = (
        hashed_embedding(big)
        .join(F.broadcast(qcells), "dim")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(F.col("value") * F.col("qv")), 6).alias("dot"))
    )
    wd = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("doc_id").asc()
    )
    dense = (
        dots.withColumn("rnk", F.row_number().over(wd).cast("long"))
        .filter(F.col("rnk") <= RRF_POOL)
        .select("query_id", "doc_id", "rnk")
    )
    fused = rrf_fuse_keyed(
        lex, dense, "query_id", "doc_id", "rnk", k0=RRF_K0, top_n=RRF_TOPN
    ).persist()
    n_fused = fused.count()
    t_rrf = time.perf_counter() - t0
    sb_rrf = (_shuffle_bytes(spark) - sb0) / 1e6
    print(
        f"hybrid_rrf_multi: {n_fused} fused rows "
        f"({len(RETRIEVAL_QUERY_SET)} queries), {t_rrf:.2f}s, "
        f"shuffle {sb_rrf:.1f} MB"
    )

    # retrieval_ndcg_multi on top: one more filtered token pass
    t0 = time.perf_counter()
    sb0 = _shuffle_bytes(spark)
    union_terms = sorted({t for _, ts in RETRIEVAL_QUERY_SET for t in ts})
    qt = spark.createDataFrame(
        sorted({(q, t) for q, ts in RETRIEVAL_QUERY_SET for t in ts}),
        "query_id string, term string",
    )
    rel = (
        tokens_long(big, "doc_id", "text")
        .filter(F.col("term").isin(union_terms))
        .join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.least(F.count(F.lit(1)), F.lit(NDCG_REL_CAP)).cast("int").alias("rel")
        )
    )
    gain = (F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0)) / F.log2(
        F.col("rnk") + F.lit(1.0)
    )
    dcg = (
        rel.join(
            F.broadcast(fused.select("query_id", "doc_id", "fused_rank")),
            ["query_id", "doc_id"],
        )
        .select("query_id", "rel", F.col("fused_rank").alias("rnk"))
        .groupBy("query_id")
        .agg(F.round(F.sum(gain), 6).alias("dcg"))
    )
    noop(dcg)
    print(
        f"retrieval_ndcg_multi (dcg stage): {time.perf_counter() - t0:.2f}s, "
        f"shuffle {(_shuffle_bytes(spark) - sb0) / 1e6:.1f} MB"
    )
    fused.unpersist()


def classifier_main() -> None:
    """Measure the quality-classifier fit at the replicated corpus:
    the claim is that per-step cost is two aggregates over the pinned
    feature table with only partitions×(buckets+1) gradient rows and
    the ≤4097-double model crossing any boundary — fit wall should
    scale with the ONE feature-table build, not with steps×corpus."""
    import time

    from pyspark.sql import functions as F

    from lion_parcel_etl_spark.operators.classifier import (
        DEFAULT_STEPS,
        doc_features,
        logreg_fit,
        logreg_score,
    )
    from lion_parcel_etl_spark.operators.dedup import pin
    from lion_parcel_etl_spark.session import get_spark

    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark(app_name="scale-smoke-clf")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n = base.count()
    copies = spark.range(mult).select(F.col("id").alias("copy"))
    big = base.crossJoin(copies).select(
        (F.col("doc_id") + F.col("copy") * (n * 10)).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" rep"), F.col("copy")
        ).alias("text"),
    )
    cond = F.lower(F.col("text")).contains("slow join") | F.lower(
        F.col("text")
    ).contains("join slow")
    t0 = time.perf_counter()
    feats = pin(doc_features(big, cond))
    t_feat = time.perf_counter() - t0
    t0 = time.perf_counter()
    w = logreg_fit(feats)
    t_fit = time.perf_counter() - t0
    t0 = time.perf_counter()
    acc = (
        logreg_score(feats, w)
        .agg(F.avg((F.col("pred") == F.col("y")).cast("double")))
        .collect()[0][0]
    )
    t_score = time.perf_counter() - t0
    print(
        f"quality_classifier: {mult * n} docs, features {t_feat:.1f}s, "
        f"fit({DEFAULT_STEPS} steps) {t_fit:.1f}s, score {t_score:.1f}s, acc {acc:.3f}"
    )


if __name__ == "__main__":
    main()

