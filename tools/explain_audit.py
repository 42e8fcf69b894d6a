"""Plan audit CLI: dump the formatted physical plan of every registered
query and flag scale anti-patterns mechanically (shared logic lives in
lion_parcel_etl_spark/plans/audit.py and also runs in pytest via
tests/test_plan_audit.py):

- parquet scans with no ReadSchema pruning (reading all columns),
- filters that did NOT reach the scan (missing PushedFilters),
- SortMergeJoin where one side could broadcast,
- CartesianProduct / BroadcastNestedLoopJoin (usually accidental),
- row-at-a-time Python UDFs (BatchEvalPython) in the plan.

Usage: python tools/explain_audit.py [sf_dir] [query ...]
Writes plans to /tmp/lpe_plans/<name>.txt and prints a one-line verdict
per query.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from lion_parcel_etl_spark.plans.audit import audit, formatted_plan
from lion_parcel_etl_spark.plans.queries import QUERIES
from lion_parcel_etl_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark(
        app_name="plan-audit",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs("/tmp/lpe_plans", exist_ok=True)
    for name, query in QUERIES.items():
        if only and name not in only:
            continue
        try:
            plan = formatted_plan(query.build(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {e}")
            continue
        with open(f"/tmp/lpe_plans/{name}.txt", "w") as f:
            f.write(plan)
        flags = audit(name, plan)
        print(f"{'FLAG' if flags else 'ok  '} {name}: {', '.join(flags) or 'clean'}")


if __name__ == "__main__":
    main()
