"""Regenerate ``query_hashes.json``: the expected result of every
``query_mix`` query over the fixed query data, from its DuckDB oracle
(``__spark_entry__.oracle_sql()``), cross-checked against Spark.

    python3 perfbench/oracle_hashes.py

Run it from the repo root after changing the query data generator or
``workloads.QUERY_SET``; it exits non-zero if Spark and DuckDB disagree.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    import time

    time.tzset()
    import duckdb

    import checks
    import workloads
    from __spark_entry__ import oracle_sql
    from lion_parcel_etl_spark import get_spark
    from lion_parcel_etl_spark.plans.queries import QUERIES, TABLES

    tmp = tempfile.mkdtemp(prefix="oracle-", dir=ROOT)
    try:
        sf = os.path.join(tmp, "sf")
        workloads.query_data(sf)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        spark = get_spark(app_name="oracle-hashes", extra_conf={"spark.ui.showConsoleProgress": "false"})
        oracles = oracle_sql()
        out, bad = {}, []
        for name in workloads.QUERY_SET:
            res = con.execute(oracles[name])
            duck = checks.row_hash([d[0] for d in res.description], res.fetchall())
            df = QUERIES[name][0](spark, sf)
            spk = checks.row_hash(df.columns, df.collect())
            print(name, duck[0], "ok" if duck == spk else f"MISMATCH spark={spk}", flush=True)
            if duck != spk:
                bad.append(name)
            out[name] = {"rows": duck[0], "sha256": duck[1]}
        spark.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if bad:
        print("spark and duckdb disagree on", bad, file=sys.stderr)
        return 1
    doc = {
        "data_seed": workloads.QUERY_DATA_SEED,
        "sf": workloads.QUERY_DATA_SF,
        "queries": out,
    }
    with open(workloads.HASHES, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
