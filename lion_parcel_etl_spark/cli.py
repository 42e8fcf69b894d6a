"""Thin CLI over the pipelines (reference E3: every script runnable
standalone, ``public/*.py`` ``if __name__ == "__main__"`` blocks).

    python -m lion_parcel_etl_spark.cli retail --warehouse /tmp/wh \
        --source-parquet /path/src.parquet --run-ts "2025-01-01 10:00:00"
    python -m lion_parcel_etl_spark.cli bonus --warehouse /tmp/wh \
        --json-dir /path/downloads_json [--tags mart]

Config is plain arguments (no env-var mutation, reference
``etl/config.py`` replaced per SURVEY §3/E3); the run timestamp is
always injected for determinism.
"""

from __future__ import annotations

import argparse
import sys

from lion_parcel_etl_spark.catalog import Warehouse
from lion_parcel_etl_spark.pipelines.dags import build_bonus_pipeline, build_retail_pipeline
from lion_parcel_etl_spark.runner import TaskFailed
from lion_parcel_etl_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="lion_parcel_etl_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    retail = sub.add_parser("retail", help="staging + merge/soft-delete + SCD2 marts")
    retail.add_argument("--source-parquet", required=True)
    retail.add_argument("--run-ts", required=True)

    bonus = sub.add_parser("bonus", help="JSON corpus -> detail -> final -> prod")
    bonus.add_argument("--json-dir", required=True)

    qp = sub.add_parser("query", help="run a registered query by name (or list them)")
    qp.add_argument("name", nargs="?", default=None, help="query name; omit to list")
    qp.add_argument("--sf-dir", default=None, help="table directory (parquet per table)")
    qp.add_argument("--show", type=int, default=20, help="rows to display")
    qp.add_argument("--master", default=None)

    for p in (retail, bonus):
        p.add_argument("--warehouse", required=True)
        p.add_argument("--tags", nargs="*", default=None)
        p.add_argument("--master", default=None)

    args = ap.parse_args(argv)
    if args.cmd == "query":
        from lion_parcel_etl_spark.plans.queries import QUERIES

        if args.name is None:
            for name in QUERIES:
                print(name)
            return 0
        if args.name not in QUERIES:
            print(f"unknown query {args.name!r} (run with no name to list)", file=sys.stderr)
            return 2
        if args.sf_dir is None:
            print("--sf-dir is required to run a query", file=sys.stderr)
            return 2
        spark = get_spark(app_name=f"lpe-query-{args.name}", master=args.master)
        # persist so show() + count() execute the plan once, not twice
        df = QUERIES[args.name].build(spark, args.sf_dir).persist()
        try:
            df.show(args.show, truncate=40)
            print(f"rows: {df.count()}")
        finally:
            df.unpersist()
        return 0
    spark = get_spark(app_name=f"lpe-{args.cmd}", master=args.master)
    wh = Warehouse(args.warehouse)
    ctx = {"spark": spark, "warehouse": wh}
    if args.cmd == "retail":
        ctx["run_ts"] = args.run_ts
        ctx["source_df"] = spark.read.parquet(args.source_parquet)
        pipe = build_retail_pipeline()
    else:
        ctx["json_dir"] = args.json_dir
        pipe = build_bonus_pipeline()
    try:
        timings = pipe.run(ctx, tags=set(args.tags) if args.tags else None)
    except TaskFailed as e:
        print(f"FAILED {e.task}: {e.cause}", file=sys.stderr)
        return 3  # the reference's `|| exit 3` contract
    for name, sec in timings.items():
        print(f"ok {name} {sec:.2f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
