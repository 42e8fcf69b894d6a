"""What the benchmark measures: workloads, end-to-end metrics with their
regression bounds, and per-layer metrics with the end-to-end metric each
one should move. ``BENCHMARK.json`` at the repo root is generated from
this file (``python3 perfbench/spec.py > BENCHMARK.json``) and a test
keeps the two equal.

``bench.py``'s ``headline_queries_total`` stays the per-query ledger of
the registry; it is not the claim metric of this benchmark.
"""

from __future__ import annotations

import json

WORKLOADS = {
    "retail_hourly": (
        "write path: the retail DAG's hourly ticks over growing SCD2 history "
        "(catalog swaps, merge_upsert and scd2_apply joins, checks)"
    ),
    "bonus_ingest": (
        "CPU-bound JSON parsing in sources plus array folds in pipelines.bonus; "
        "almost no shuffle and tiny writes, so a sources change shows only here"
    ),
    "query_mix": (
        "read-only registry queries split across plan building, Catalyst and "
        "execution; the control that should not move when catalog or sources change"
    ),
}

# name: (unit, better, bound). A bound is the share of the parent's median
# a metric may worsen by. The timings get the widest bound allowed: on a
# shared 4-core host the median of ten runs drifts by 10-20% within minutes.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "unit_p50_s": ("s", "lower", 0.25),
    "unit_p90_s": ("s", "lower", 0.25),
    "rows_per_s": ("1/s", "higher", 0.25),
    "stored_bytes_per_row": ("bytes", "lower", 0.05),
}

_DAGS = ["retail_hourly", "bonus_ingest"]
_ALL = ["retail_hourly", "bonus_ingest", "query_mix"]

# name: (unit, better, [(end-to-end metric it should move, workloads)])
PER_LAYER = {
    "session.start_s": ("s", "lower", [("setup_s", _ALL)]),
    **{
        f"runner.task_s.{t}": ("s", "lower", [("unit_p50_s", w)])
        for t, w in [
            ("stage", ["retail_hourly"]),
            ("retail_transactions", ["retail_hourly"]),
            ("retail_transactions_scd", ["retail_hourly"]),
            ("checks", _DAGS),
            ("bonus_stg", ["bonus_ingest"]),
            ("bonus_prod", ["bonus_ingest"]),
        ]
    },
    "runner.overhead_s": ("s", "lower", [("unit_p50_s", _DAGS)]),
    "pipelines.build_s": ("s", "lower", [("unit_p50_s", _DAGS)]),
    "operators.scd2_apply.build_s": ("s", "lower", [("unit_p50_s", ["retail_hourly"])]),
    "operators.merge_upsert.build_s": ("s", "lower", [("unit_p50_s", ["retail_hourly"])]),
    "operators.checks.run_s": ("s", "lower", [("unit_p50_s", ["retail_hourly"])]),
    **{
        name: (unit, "lower", [("wall_s", ["retail_hourly"]), ("stored_bytes_per_row", ["retail_hourly"])])
        for name, unit in [
            ("catalog.overwrite_s", "s"),
            ("catalog.swap_s", "s"),
            ("catalog.read_s", "s"),
            ("catalog.rows_written", "count"),
            ("catalog.bytes_written", "bytes"),
            ("catalog.files_written", "count"),
        ]
    },
    "metrics.record_write_s": ("s", "lower", [("unit_p50_s", ["retail_hourly"])]),
    **{
        name: (unit, "lower", [("wall_s", ["bonus_ingest"]), ("rows_per_s", ["bonus_ingest"])])
        for name, unit in [
            ("sources.read_metrics_docs.build_s", "s"),
            ("sources.corpus_scans_per_run", "count"),
            ("sources.input_bytes_per_corpus_byte", "ratio"),
        ]
    },
    "plans.build_s": ("s", "lower", [("unit_p50_s", ["query_mix"])]),
    "plans.build_jobs": ("count", "lower", [("unit_p50_s", ["query_mix"])]),
    "catalyst.analysis_s": ("s", "lower", [("unit_p50_s", ["query_mix"])]),
    "catalyst.optimization_s": ("s", "lower", [("unit_p50_s", ["query_mix"])]),
    "catalyst.planning_s": ("s", "lower", [("unit_p50_s", ["query_mix"])]),
    **{
        name: (unit, "lower", [("wall_s", _ALL), ("unit_p90_s", ["query_mix"])])
        for name, unit in [
            ("exec.jobs", "count"),
            ("exec.tasks", "count"),
            ("exec.executor_run_s", "s"),
            ("exec.shuffle_read_bytes", "bytes"),
            ("exec.shuffle_write_bytes", "bytes"),
            ("exec.spill_bytes", "bytes"),
            ("exec.input_bytes", "bytes"),
        ]
    },
    "unit.self_s": ("s", "lower", [("unit_p50_s", _ALL)]),
    "trace.overhead_s": ("s", "lower", []),
    "trace.overhead_ratio": ("ratio", "lower", []),
}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 8,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b, _) in PER_LAYER.items()],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
