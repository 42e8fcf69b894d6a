"""Optimization round 9: every NEW session-store family must serve
exactly the rows its inline build produces (the property that makes
store-backed plans safe on the oracle hash path — the
test_round9_queries discipline, extended to this round's stores), plus
the two behavior-preserving operator changes (minhash prefix slicing,
k-core fixed-point early exit) and repeatable bucketed-join results."""

from __future__ import annotations

from pyspark.sql import functions as F


def _rows(df):
    return sorted(map(tuple, df.collect()), key=str)


def test_opt_stores_byte_identical_to_inline_builds(spark, sf_dir):
    import lion_parcel_etl_spark.plans.queries as Q
    from lion_parcel_etl_spark.operators.classifier import (
        doc_features,
        logreg_fit,
        logreg_score,
    )
    from lion_parcel_etl_spark.operators.dedup import (
        minhash_signatures,
        pin,
    )
    from lion_parcel_etl_spark.operators.scd2 import scd2_apply

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def inline_trade_ed():
        edges, deg = Q._trade_edges(spark, sf_dir)
        return edges.join(deg, "src")

    def inline_qc_scored():
        feats = pin(doc_features(docs, Q.QC_RULE_SPARK()))
        w = logreg_fit(feats, steps=Q.QC_STEPS, lr=Q.QC_LR)
        return logreg_score(feats, w)

    def inline_scd2_state():
        ev = Q._t(spark, sf_dir, "events")
        s1 = Q._event_snapshot(ev, Q.EV_C1)
        s2 = Q._event_snapshot(ev, Q.EV_C2)
        st1 = scd2_apply(
            None, s1, ["user_id"], ["event_type", "value"], "ts", Q.RUN0
        )
        return scd2_apply(
            st1, s2, ["user_id"], ["event_type", "value"], "ts", Q.RUN1
        )

    inline_builds = {
        "trade_ed": inline_trade_ed(),
        "trade_nodes": inline_trade_ed()
        .select(F.col("src").alias("node"))
        .distinct(),
        "qc_scored": inline_qc_scored(),
        "cosine_rank": Q.STORES["cosine_rank"](spark, sf_dir),
        "lsh_rank": Q.STORES["lsh_rank"](spark, sf_dir),
        "pq_rank": Q.STORES["pq_rank"](spark, sf_dir),
        "ivf_seeded_rank": Q.STORES["ivf_seeded_rank"](spark, sf_dir),
        "fused_single": Q.STORES["fused_single"](spark, sf_dir),
        "dsir_scores": Q.STORES["dsir_scores"](spark, sf_dir),
        "scd2_state": inline_scd2_state(),
        "minhash_sig64": minhash_signatures(
            docs, "doc_id", "text", n=3, k=Q.DD.MINHASH_K_CORPUS
        ).select("doc", F.size("shingles").alias("n_sh"), "sig"),
    }
    for name, inline in inline_builds.items():
        stored = Q._session_store(spark, sf_dir, name)
        got = _rows(stored)
        want = _rows(inline)
        assert got == want, f"store {name} diverges from inline build"
        assert len(got) > 0, f"store {name} is empty at fixture scale"


def test_minhash_sig64_prefix_is_k16_signature(spark, sf_dir):
    """q_minhash_signature and q_minhash_est_error serve slice(sig64,
    1, 16) — valid ONLY because the LCG coefficient stream is
    prefix-stable. Pin elementwise equality against the direct k=16
    fold for every doc, including NULL-text and empty-shingle rows."""
    import lion_parcel_etl_spark.operators.dedup as DD
    import lion_parcel_etl_spark.plans.queries as Q

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    extra = spark.createDataFrame(
        [(900001, None), (900002, ""), (900003, "one two")],
        "doc_id bigint, text string",
    )
    both = docs.select("doc_id", "text").unionByName(extra)
    sliced = DD.minhash_signatures(
        both, "doc_id", "text", n=3, k=DD.MINHASH_K_CORPUS
    ).select("doc", F.slice("sig", 1, DD.MINHASH_K).alias("s64"))
    direct = both.select(
        F.col("doc_id").alias("doc"),
        DD.minhash_signature(F.col("text")).alias("s16"),
    )
    # full outer join + per-side row counts (r09 ADVICE): an inner
    # join passes even if minhash_signatures drops or duplicates docs
    # relative to the direct per-doc select — the exact regression the
    # serving change could introduce
    n_docs = both.count()
    assert sliced.count() == n_docs
    assert direct.count() == n_docs
    joined = sliced.join(direct, "doc", "full_outer")
    assert joined.count() == n_docs
    # NULL-text docs legitimately carry NULL sigs on BOTH sides, so
    # the elementwise check stays null-safe; an unmatched outer-join
    # row (one side's columns all NULL, other side real) fails it
    diff = joined.filter(~F.col("s64").eqNullSafe(F.col("s16"))).count()
    assert diff == 0
    assert Q.DD.MINHASH_K_CORPUS >= DD.MINHASH_K


def test_kcore_early_exit_matches_full_unroll(spark):
    """The fixed-point early exit must return EXACTLY the fixed-rounds
    result: on a chain + clique fixture whose peel converges in 2
    rounds, rounds=8 (early exit fires) equals rounds=3 (no exit
    headroom) and both equal the true 2-core."""
    from lion_parcel_etl_spark.operators.graph import kcore_survivors

    # triangle a-b-c (the 2-core) + pendant chain c-d-e
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e")],
        "node_a string, node_b string",
    )
    want = {"a": 2, "b": 2, "c": 2}
    for rounds in (3, 8):
        got = {
            r.node: r.core_degree
            for r in kcore_survivors(edges, k=2, rounds=rounds).collect()
        }
        assert got == want, rounds


def test_bucketed_join_repeat_call_returns_identical_rows(spark, sf_dir, monkeypatch):
    """Each q_bucketed_join call rewrites both bucketed tables and a
    repeat call returns identical rows."""
    import lion_parcel_etl_spark.operators.bucketing as B
    import lion_parcel_etl_spark.plans.queries as Q

    calls = []
    real = B.write_bucketed

    def counting(df, table, keys, n, path):
        calls.append(table)
        return real(df, table, keys, n, path)

    # q_bucketed_join imports write_bucketed inside the function body,
    # so patch the SOURCE module
    monkeypatch.setattr(B, "write_bucketed", counting)
    first = _rows(Q.q_bucketed_join(spark, sf_dir))
    again = _rows(Q.q_bucketed_join(spark, sf_dir))
    assert len(calls) == 4  # orders + lineitem, per call
    assert first == again and len(first) > 0
