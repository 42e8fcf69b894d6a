"""Benchmark entry point.

    python3 perfbench/run.py --workload retail_hourly --seed 1 --seconds 10 --trace 0

Runs one workload (see ``spec.WORKLOADS``) in this process on
``local[<cpus>]`` from the root of a checkout, checks every unit's output,
and prints two lines: ``record {...}`` (host, inputs, per-unit times,
check problems) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of ``spec.END_TO_END``; ``--trace 1`` reports the
per-layer metrics of ``spec.PER_LAYER``, tracing some units and not
others (see ``Workload.traced``) so the tracing overhead is measured in
the same run, and writes the spans to ``.perfbench_out/``.

Every file the run makes lives under ``.perfbench_tmp/`` in the checkout
and is removed at exit, Spark's local dirs and JVM temp dir included.
``fail_ratio`` is ``failed / attempted`` of the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _start_session(tmp: str, cpus: int, trace: bool):
    from lion_parcel_etl_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _trace_overhead(units: list[dict]) -> tuple[float, float]:
    """(seconds, ratio) by which a traced unit is slower than an untraced
    run of the same unit: per key (a query, or a DAG round), mean traced
    minus mean untraced time, averaged over the keys."""
    by_key: dict[str, tuple[list, list]] = {}
    for u in units:
        if u["traced"] is not None and u["s"] is not None:
            by_key.setdefault(u["key"], ([], []))[u["traced"]].append(u["s"])
    pairs = [(statistics.fmean(on), statistics.fmean(off)) for off, on in by_key.values() if on and off]
    if not pairs:
        return 0.0, 0.0
    diff = statistics.fmean(on - off for on, off in pairs)
    return diff, diff / statistics.fmean(off for _, off in pairs)


def _layer_metrics(tracer, units: list[dict], wl, session_s: float) -> dict:
    import spec

    traced = [u for u in units if u["traced"]]
    n = max(1, len(traced))
    per_unit = tracer.unit_layers()
    m = {name: 0.0 for name in spec.PER_LAYER}
    m["session.start_s"] = session_s
    for u in traced:
        for k, v in per_unit.get(u["id"], {}).items():
            if k in m:
                m[k] += v / n
        report = u["report"]
        if report:
            tasks = 0.0
            for task, r in report.items():
                key = f"runner.task_s.{task}"
                if key in m:
                    m[key] += r["wall_s"] / n
                tasks += r["wall_s"]
                for w in r["writes"]:
                    m["catalog.rows_written"] += w["rows"] / n
                    m["catalog.bytes_written"] += w["bytes"] / n
                    m["catalog.files_written"] += w["files"] / n
            m["runner.overhead_s"] += (u["raw_s"] - tasks) / n
        c = per_unit.get(u["id"], {})
        m["sources.corpus_scans_per_run"] += c.get("sources.corpus_scans", 0) / n
        corpus = getattr(getattr(wl, "exp", None), "corpus_bytes", 0)
        if corpus:
            m["sources.input_bytes_per_corpus_byte"] += c.get("sources.corpus_input_bytes", 0) / corpus / n
    m["trace.overhead_s"], m["trace.overhead_ratio"] = _trace_overhead(units)
    return m


def run(workload: str, seed: int, seconds: float, trace: bool, tmp: str, tiny: bool = False) -> tuple[dict, dict]:
    import spec
    import workloads

    wl = workloads.WORKLOADS[workload](seed, tmp, tiny)
    cpus = len(os.sched_getaffinity(0))
    rounds = wl.rounds(seconds, trace)
    record = {"workload": workload, "seed": seed, "cpus": cpus, "load1_start": _load1(), "rounds": rounds}
    record["inputs"] = wl.inputs(rounds)

    import clock

    steal0, wall0 = clock.steal_s(), time.perf_counter()
    t0 = clock.now()
    spark = _start_session(tmp, cpus, trace)
    session_s = clock.now() - t0
    tracer = None
    try:
        if trace:
            from spans import Tracer

            tracer = Tracer(spark)
        setup_s = session_s + wl.setup(spark)
        problems = list(wl.setup_problems)
        units: list[dict] = []
        check_s = 0.0
        for r in range(rounds):
            t_round = clock.now()
            try:
                got = wl.run_round(spark, r, tracer)
            except Exception as e:  # a failed unit is counted, the loop goes on
                problem = f"round {r}: {type(e).__name__}: {e}"
                got = [{"id": None, "traced": None, "s": None, "rows": 0, "problems": [problem], "report": {}}]
            units.extend(got)
            check_s += clock.now() - t_round - sum(u["s"] or 0.0 for u in got)
        stored = wl.stored_bytes_per_row()
        if tracer is not None:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"trace-{workload}-{seed}.json"))
    finally:
        _stop_session(spark)

    failed = sum(1 for u in units if u["problems"] or u["s"] is None)
    if problems:  # a wrong initial load or cold pass fails the run as a whole
        failed = len(units)
    ok = [u for u in units if u["s"] is not None]
    times = [u["s"] for u in ok]
    wall = sum(times)
    if trace:
        metrics = _layer_metrics(tracer, units, wl, session_s)
        units_spec = {n: u for n, (u, _, _) in spec.PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "unit_p50_s": statistics.median(times) if times else float("nan"),
            "unit_p90_s": workloads.percentile(times, 90) if times else float("nan"),
            "rows_per_s": sum(u["rows"] for u in ok) / wall if wall else float("nan"),
            "stored_bytes_per_row": stored,
        }
        units_spec = {n: u for n, (u, _, _) in spec.END_TO_END.items()}
    record.update(
        load1_end=_load1(),
        steal_s=clock.steal_s() - steal0,
        run_wall_s=time.perf_counter() - wall0,
        session_s=session_s,
        setup_s=setup_s,
        check_s=check_s,
        unit_s=[round(t, 4) for t in times],
        problems=problems + [p for u in units for p in u["problems"]],
    )
    result = {
        "correct": failed == 0,
        "attempted": len(units),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units_spec[k]} for k in units_spec},
    }
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smallest inputs (tests)")
    args = ap.parse_args(argv)

    import spec

    if args.workload not in spec.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(spec.WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "lion_parcel_etl_spark")):
        print(f"no lion_parcel_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.dont_write_bytecode = True  # nothing is written outside the checkout
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    for k in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_MASTER"):
        os.environ.pop(k, None)

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TZ"] = "UTC"  # collected timestamps are rendered in local time
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        result, record = run(args.workload, args.seed, args.seconds, bool(args.trace), tmp, args.tiny)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print("record " + json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
