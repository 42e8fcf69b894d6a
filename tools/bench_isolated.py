"""Per-query ISOLATED steady-state floors: one fresh JVM per query.

The shared-session bench (bench.py) measures the whole headline suite
in one JVM, so late queries inherit JIT/GC pressure from ~150 earlier
plan executions. This tool separates real regressions from session
noise: for each query it spawns a fresh Python+JVM that times
``--runs`` + 1 runs with ``bench.measure`` (the sweep's protocol: owned
stores evicted before every run, outside the timed region), reports
the first as ``cold`` (Janino/JIT compilation) and the rest as raw
steady-state times, with the classes each run compiled, then
row-counts the result.

``--rounds N`` repeats the whole query list N times, queries
interleaved across rounds so slow machine drift hits each query
equally; a query's floor is the min over all its timed runs. A query
whose row count differs between rounds is reported as an error (a
silently diverging plan). Machine telemetry is recorded per child.

Usage:
    python tools/bench_isolated.py [--runs 2] [--rounds 1]
        [--queries a,b,c | --all] [--sf-dir DIR]
        [--out BENCH_ISOLATED.json] [--timeout 600]

Output: JSON {"sf_dir", "runs", "rounds", "floors": {name: sec},
"cold": {name: [sec per round]}, "raw": {name: [sec, ...]},
"compiles": {name: [codegen compiles per run, cold run first, ...]},
"rows": {name: [distinct row counts]}, "errors": {name: msg},
"telemetry": [per-child machine state], "machine": {start, end}}.
The file is rewritten after every child, so an interrupted sweep
leaves a usable partial ledger. Run it on a QUIET machine (concurrent
Spark work inflates the floors and defeats the point).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import json, sys
sys.path.insert(0, {repo!r})
from lion_parcel_etl_spark.session import get_spark
import bench

name, sf_dir, runs = sys.argv[1], sys.argv[2], int(sys.argv[3])
spark = get_spark(app_name="bench-isolated")
spark.sparkContext.setLogLevel("ERROR")
times, _, compiles = bench.measure(spark, sf_dir, name, runs + 1)
rows = bench.QUERIES[name].build(spark, sf_dir).count()
print("BENCH_ISOLATED_RESULT " + json.dumps(
    {{"cold": times[0], "times": times[1:], "compiles": compiles, "rows": rows}}
))
"""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--rounds", type=int, default=1)
    ap.add_argument("--queries", default=None, help="comma list; default: bench.py HEADLINE")
    ap.add_argument(
        "--all",
        action="store_true",
        help="sweep the FULL registry (every QUERIES entry), not just "
        "the headline set",
    )
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_ISOLATED.json"))
    ap.add_argument("--timeout", type=int, default=600, help="per-query child timeout (s)")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    import bench

    if args.queries:
        names = [n for n in args.queries.split(",") if n]
    elif args.all:
        from lion_parcel_etl_spark.plans.queries import QUERIES

        names = list(QUERIES)
    else:
        names = list(bench.HEADLINE)

    child_src = _CHILD.format(repo=REPO)
    out = {
        "sf_dir": args.sf_dir,
        "runs": args.runs,
        "rounds": args.rounds,
        "cold": {},
        "raw": {},
        "compiles": {},
        "rows": {},
        "errors": {},
        "telemetry": [],
        "machine": {"start": bench._machine_state()},
    }
    errors = out["errors"]
    t_start = time.time()
    for rnd in range(args.rounds):
        for i, name in enumerate(names, 1):
            if name in errors:
                continue
            tag = f"[round {rnd} {i}/{len(names)}] {name}"
            child = {"round": rnd, "query": name, **bench._machine_state()}
            out["telemetry"].append(child)
            t0 = time.time()
            try:
                proc = subprocess.run(
                    [sys.executable, "-c", child_src, name, args.sf_dir, str(args.runs)],
                    capture_output=True,
                    text=True,
                    timeout=args.timeout,
                )
            except subprocess.TimeoutExpired:
                errors[name] = f"timeout>{args.timeout}s"
                print(f"{tag}: TIMEOUT", flush=True)
                continue
            finally:
                child["child_wall"] = round(time.time() - t0, 1)
            line = next(
                (
                    ln
                    for ln in proc.stdout.splitlines()
                    if ln.startswith("BENCH_ISOLATED_RESULT ")
                ),
                None,
            )
            if proc.returncode != 0 or line is None:
                errors[name] = (proc.stderr or proc.stdout)[-400:]
                print(f"{tag}: FAILED", flush=True)
                continue
            res = json.loads(line.split(" ", 1)[1])
            out["cold"].setdefault(name, []).append(res["cold"])
            out["raw"].setdefault(name, []).extend(res["times"])
            out["compiles"].setdefault(name, []).extend(res["compiles"])
            seen = out["rows"].setdefault(name, [])
            if res["rows"] not in seen:
                seen.append(res["rows"])
            if len(seen) > 1:
                errors[name] = f"row count differs across rounds: {seen}"
            print(
                f"{tag}: times {res['times']} cold {res['cold']} rows {res['rows']}",
                flush=True,
            )
            _write(args.out, out, t_start, bench)

    _write(args.out, out, t_start, bench)
    print(f"wrote {args.out}: {len(out['floors'])} floors, {len(errors)} errors")
    return 1 if errors else 0


def _write(path: str, out: dict, t_start: float, bench) -> None:
    out["floors"] = {
        q: min(ts) for q, ts in out["raw"].items() if q not in out["errors"]
    }
    out["wall_total_sec"] = round(time.time() - t_start, 1)
    out["machine"]["end"] = bench._machine_state()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


if __name__ == "__main__":
    raise SystemExit(main())
