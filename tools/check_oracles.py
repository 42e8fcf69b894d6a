"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
sf dir; compare row count, column names, and exact sorted values.

Usage: python tools/check_oracles.py [--driver-sim] [sf_dir] [query ...]

``--driver-sim`` reproduces the DRIVER'S environment rather than the
repo's, catching the two failure classes a get_spark()-based check is
structurally blind to:

- a **default-conf SparkSession** (no ANSI override → ANSI ON in
  Spark 4, no UTC pin) — the queries() wrappers must
  set whatever they need on the session they're handed;
- **pandas canonicalization** on both sides (Spark ``toPandas``,
  DuckDB ``.df()``) — DuckDB types integer SUMs as HUGEINT which
  pandas materializes as float64, so a bare ``SUM(<int>)`` oracle
  hashes ``3.0`` against Spark's ``3``; arrays become Python lists
  which break pandas sorting. Both bite only through pandas.
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, ".")

import duckdb

import __spark_entry__ as entrymod
from lion_parcel_etl_spark.plans.queries import TABLES


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(float(v))  # float(): np.float64 repr differs under numpy>=2
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(canon(x) for x in v) + "]"
    return str(v) if v is not None else "\x00NULL"


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def pandas_canon(pdf):
    """(cols, canonical sorted rows) through the pandas type system —
    the same lossy path the driver's harness uses."""
    import pandas as pd

    cols = list(pdf.columns)
    rows = [
        tuple(None if v is pd.NaT else v for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    return cols, rowset(cols, rows)


def build_session(driver_sim: bool):
    if driver_sim:
        # What the driver does: a plain builder, no repo confs. The
        # queries() wrappers are responsible for anything they need.
        import os

        from pyspark.sql import SparkSession

        return (
            SparkSession.builder.appName("driver-sim")
            .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            # progress bars interleave \r fragments into the ok/FAIL
            # lines, mangling piped logs (a conf, not a driver behavior
            # difference — doesn't weaken the simulation)
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
    from lion_parcel_etl_spark.session import get_spark

    return get_spark(app_name="oracle-check", extra_conf={"spark.sql.shuffle.partitions": "8"})


def main():
    argv = list(sys.argv[1:])
    driver_sim = "--driver-sim" in argv
    if driver_sim:
        argv.remove("--driver-sim")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    spark = build_session(driver_sim)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    import time

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            if driver_sim:
                scols, sset = pandas_canon(sdf.toPandas())
                srows = sset
            else:
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"okro {name}: rows-only ({len(srows)} rows) [{time.perf_counter() - t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            if driver_sim:
                dcols, dset = pandas_canon(res.df())
                drows = dset
            else:
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            failed.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={scols} duck={dcols}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            if driver_sim:
                sset, dset = srows, drows
            else:
                sset, dset = rowset(scols, srows), rowset(dcols, drows)
            if sset != dset:
                diff = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
                problems.append(f"values differ; first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: " + " | ".join(problems))
            failed.append(name)
        else:
            # elapsed = Spark + DuckDB + compare: flags queries whose
            # ORACLE cost (e.g. recursive closures) would bloat a
            # driver-side correctness run
            print(f"ok   {name}: {len(srows)} rows match [{time.perf_counter() - t0:.1f}s]")
    print("\n==", "ALL OK" if not failed else f"FAILED: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
