"""Consolidate the per-round scale artifacts into ONE machine-readable
ledger (r08 verdict stretch item 9): every scale adjudication used to
live across BENCH_ISOLATED.json + BENCH_SF1_FULL_r08.json + the skew /
distinct probes + prose in SCALE_RATIOS/BENCH_NOTES — this tool merges
them into ``LEDGER.json`` keyed query → variant, with the
documented-cause annotations inline, so "is this ratio adjudicated?"
is a lookup, not an archaeology session.

Variants:

- ``sf0.1``   — quiet isolated floor on the driver testdata.
- ``sf1``     — 10×-data replica floor (disjoint copies; the plain
                growth case). ``ratio`` = sf1 / sf0.1.
- ``sf1skew`` — hot-key replica floor (graph keys r08; relational keys
                r09). ``ratio`` = sf1skew / sf1: >1 isolates the cost
                of skew at equal volume.
- ``sf1distinct`` — family-breaking embedding replica floor (r09).
                ``ratio`` = sf1distinct / sf0.1: the exact-dedup
                trio's compute exponent without the output-growth
                artifact.

Usage: python tools/build_ledger.py  (writes LEDGER.json at repo root)
"""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: variant name -> (artifact files, baseline variant for the ratio).
#: Several files can feed one variant (re-measures of a contaminated
#: sweep); the ledger takes the MIN floor per query — the floor
#: semantics: the best quiet reading observed is the closest bound on
#: the query's true cost.
SOURCES = {
    "sf0.1": (
        [
            "BENCH_ISOLATED.json",
            "BENCH_ISOLATED_r09_sweep.json",
            "BENCH_STORES_FLOORS_r09.json",
            "BENCH_OPT_FLOORS_r09.json",
            "BENCH_OPT_FLOORS_r10.json",
        ],
        None,
    ),
    "sf1": (
        [
            "BENCH_SF1_FULL_r08.json",
            "BENCH_SF1_TRIO_r09.json",
            "BENCH_SF1_STORES_r09.json",
            "BENCH_SF1_OPT_r09.json",
            "BENCH_SF1_OPT_r10.json",
        ],
        "sf0.1",
    ),
    "sf1skew": (["BENCH_SKEW_RELATIONAL_r09.json"], "sf1"),
    "sf1skew_graph_r08": (["BENCH_SKEW_PROBE_r08.json"], "sf1"),
    "sf1distinct": (
        [
            "BENCH_DISTINCT_r09.json",
            "BENCH_DISTINCT_CLUSTERS_r09.json",
            "BENCH_DISTINCT_SEMDEDUP_r09.json",
        ],
        "sf0.1",
    ),
}

#: Queries whose r09 change made them do MORE work (multimodal_decode
#: now decodes progressive-JPEG + animated-GIF payloads where video
#: rows were previously a raw fallback): a pre-change floor measures
#: cheaper semantics and must not win the min-merge.
SEMANTICS_CHANGED_R09 = {"multimodal_decode"}
#: files whose floors predate the r09 semantics changes (the r09
#: full sweep is included: its multimodal_decode row ran mid-sweep
#: BEFORE the GIF edit landed)
PRE_R09_FILES = {
    "BENCH_ISOLATED.json",
    "BENCH_SF1_FULL_r08.json",
    "BENCH_ISOLATED_r09_sweep.json",
}

#: Queries whose r10 bench ACCOUNTING changed (bench.py STORE_OWNERS:
#: the family store's build is evicted before every timed run of its
#: designated owner, so the owner's floor now measures build+readout).
#: Pre-r10 floors for these measured a bare store scan — cheaper
#: accounting, not cheaper code — and must not win the min-merge.
#: Imported from bench.py so the two lists cannot drift.
import sys as _sys

_sys.path.insert(0, REPO)
from bench import STORE_OWNERS as _OWNERS  # noqa: E402

ACCOUNTING_CHANGED_R10 = set(_OWNERS) | {"bucketed_join"}
#: every sf0.1/sf1 floors artifact measured before the r10 accounting
PRE_R10_FILES = {
    "BENCH_ISOLATED.json",
    "BENCH_ISOLATED_r09_sweep.json",
    "BENCH_STORES_FLOORS_r09.json",
    "BENCH_OPT_FLOORS_r09.json",
    "BENCH_SF1_FULL_r08.json",
    "BENCH_SF1_TRIO_r09.json",
    "BENCH_SF1_STORES_r09.json",
    "BENCH_SF1_OPT_r09.json",
}

#: Documented-cause annotations for every adjudicated super-linear or
#: skew-sensitive reading. A ledger ratio >10x (sf1) or >2x (skew)
#: WITHOUT an annotation here is an open item by construction.
ANNOTATIONS = {
    "resample_interpolate": (
        "r10 segment-explode rewrite (one lead() window over observed "
        "buckets; no grid join, no grid-sized window sorts): sf0.1 "
        "floor 3.26->1.61 s, sf1 ~35->3.30 s — the old 10.73x "
        "output-bound ratio collapses to ~2x because the 10x-keys grid "
        "is now produced by a Generate instead of being joined and "
        "window-sorted twice"
    ),
    "bucketed_join": (
        "r10 accounting: the owner's timed runs now pay BOTH bucketed "
        "table writes (eviction per run) — sf0.1 3.9 s / sf1 33.5 s is "
        "the pre-r09-store cost restored by design (linear in data; "
        "the write IS the amortized cost the query documents), not a "
        "regression vs r09's 1.6 s write-once-per-session reading"
    ),
    "dedup_embedding": (
        "sf1 12.25x vs sf1distinct 12.47x (r09): family-breaking "
        "perturbation left the ratio UNCHANGED — the r08 output-growth "
        "hypothesis is refuted; the super-linearity is the quadratic "
        "flop growth of the exact all-pairs CONTRACT (10x vectors = "
        "100x flops, amortized to ~12x wall by the blocked numpy "
        "kernels). Production path: dedup_embedding_lsh, 1.8x sf1 / "
        "2.2x sf1distinct on the same replicas"
    ),
    "embedding_clusters": (
        "sf1 11.1x ~= sf1distinct 12.9x (r09): same exact-pair stage "
        "as dedup_embedding — compute-bound by contract, not "
        "output-bound; LSH twin is the scale path"
    ),
    "semantic_dedup": (
        "sf1 re-measured 3.17x after the r09-opt coarse_asg store + "
        "spread_input fix (was 13.8x); the sf1distinct floor PREDATES "
        "the store (old-code reading — the variant's point stands "
        "unchanged: distinct mode was no cheaper than sf1 on the same "
        "code, so the query is compute-bound by the exact "
        "within-cluster all-pairs contract, not output-bound)"
    ),
    "dedup_pr_eval": (
        "sf1 9.74x: ~2.5 s is the exact-Jaccard ground-truth labeling "
        "— the honest cost of an exact-labeled eval (r08 verdict)"
    ),
    "triangle_count": (
        "sf1skew (graph probe r08): hot key + zipf tail give 8.1x "
        "wedge volume; runtime grew 5.2x — SUB-wedge, max oriented "
        "out-degree 397 <= sqrt(2m) (BENCH_SKEW_PROBE_r08)"
    ),
    "kcore_peel": (
        "r09: rounds iterate on the SURVIVING edge list (previous "
        "round's semi-join output), not the full graph — sf0.1 floor "
        "8.97->5.99 s, sf1 14.39->7.97 s, ratio 2.65x->1.32x; the "
        "sf1skew_graph_r08 cell predates this change (measured on the "
        "full-graph-per-round plan), so its <1 ratio vs the new sf1 "
        "floor is a vintage artifact, conservative direction"
    ),
    "market_basket": (
        "sf1skew r09 1.06x: one ~1,300-item hot basket next to a "
        "~4-item median — pair fanout on the hot key is basket^2/2 "
        "~ 820k rows yet runtime is flat (one task absorbs it at this "
        "scale); at 100 TB cap basket size before the pair join (a "
        "mega-basket carries no co-purchase signal); see SCALE.md "
        "skew rows"
    ),
    "window_running": (
        "sf1skew r09 1.76x (the only relational-core mover): the hot "
        "customer's 300k-row window partition is ONE sorted task — "
        "order-dependent running sums can't be split by AQE; the "
        "100 TB escape is the two-pass bucketed prefix sum already "
        "used by token_budget_mix/epoch_shuffle (_bucketed_prefix_sum)"
    ),
}


def main() -> int:
    ledger: dict[str, dict] = {}
    meta: dict[str, dict] = {}
    loaded: dict[str, dict] = {}
    for variant, (fnames, _) in SOURCES.items():
        floors: dict[str, float] = {}
        used: list[str] = []
        sf_dir = runs = None
        for fname in fnames:
            path = os.path.join(REPO, fname)
            if not os.path.exists(path):
                continue
            with open(path) as f:
                data = json.load(f)
            for q, v in data.get("floors", {}).items():
                if q in SEMANTICS_CHANGED_R09 and fname in PRE_R09_FILES:
                    continue  # pre-change floor measures cheaper semantics
                if q in ACCOUNTING_CHANGED_R10 and fname in PRE_R10_FILES:
                    continue  # pre-r10 floor measured a bare store scan
                if q not in floors or v < floors[q]:
                    floors[q] = v
            used.append(fname)
            sf_dir = sf_dir or data.get("sf_dir")
            runs = runs or data.get("runs")
        if not used:
            continue
        loaded[variant] = floors
        meta[variant] = {
            "files": used,
            "sf_dir": sf_dir,
            "runs": runs,
            "n_queries": len(floors),
        }
    for variant, (fnames, base) in SOURCES.items():
        if variant not in loaded:
            continue
        base_floors = loaded.get(base, {}) if base else {}
        for q, floor in loaded[variant].items():
            entry = ledger.setdefault(q, {})
            cell: dict = {"floor_sec": floor}
            if base and q in base_floors and base_floors[q] > 0:
                cell["ratio"] = round(floor / base_floors[q], 2)
                cell["ratio_vs"] = base
            entry[variant] = cell
    for q, note in ANNOTATIONS.items():
        if q in ledger:
            ledger[q]["note"] = note
    out = {
        "about": (
            "Per-query quiet floors across data variants; ratio is vs "
            "the variant named in ratio_vs. Annotated entries carry "
            "their documented-cause adjudication inline."
        ),
        "sources": meta,
        "queries": dict(sorted(ledger.items())),
    }
    dst = os.path.join(REPO, "LEDGER.json")
    with open(dst, "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
    print(f"wrote {dst}: {len(ledger)} queries, variants: {sorted(meta)}")
    open_super = sorted(
        q
        for q, e in ledger.items()
        if e.get("sf1", {}).get("ratio", 0) > 10 and "note" not in e
    )
    print(f"unannotated >10x sf1/sf0.1 ratios: {open_super or 'none'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
