"""The three workloads. Each one runs in a fresh process with one client
and a closed loop: the next unit starts when the previous one finished.

A workload is a fixed amount of work derived from ``--seconds`` (so a
faster program does the same work in less time, and both commits of a
comparison grow the same SCD2 history): ``rounds`` rounds of units,
where a round is one tick (retail), one replay (bonus) or one pass over
the query set (query_mix). Output checks run between units, outside the
unit's time.
"""

from __future__ import annotations

import json
import os
import random
import tempfile
import time

import numpy as np

import checks
import clock
import gen

HASHES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_hashes.json")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _stored_bytes_per_row(paths: list[str]) -> float:
    from lion_parcel_etl_spark.metrics import scan_parquet_dir

    rows = size = 0
    for p in paths:
        r, s, _ = scan_parquet_dir(p)
        rows, size = rows + r, size + s
    return size / rows if rows else float("nan")


class Workload:
    """``inputs`` → (session) → ``setup`` → ``run_round`` × rounds."""

    nominal_round_s = 1.0  # rounds per run = seconds / this
    min_rounds = 2

    def __init__(self, seed: int, tmp: str, tiny: bool):
        self.seed, self.tmp, self.tiny = seed, tmp, tiny

    def rounds(self, seconds: float, trace: bool) -> int:
        return max(self.min_rounds, round(seconds / self.nominal_round_s))

    def traced(self, r: int, i: int) -> bool | None:
        """In a traced run, whether unit ``i`` of round ``r`` is traced;
        ``None`` leaves it out of the traced/untraced comparison."""
        raise NotImplementedError

    def inputs(self, rounds: int) -> dict:
        raise NotImplementedError

    def setup(self, spark) -> float:
        """Initial load or cold pass; returns its seconds."""
        raise NotImplementedError

    def run_round(self, spark, r: int, tracer) -> list[dict]:
        """Units of round ``r``: [{"id", "key", "traced", "s", "rows",
        "problems", "report"}]; ``tracer`` is None in an untraced run."""
        raise NotImplementedError

    def stored_bytes_per_row(self) -> float:
        raise NotImplementedError


def _traced(tracer, unit: str):
    import contextlib

    return tracer.traced_unit(unit) if tracer is not None else contextlib.nullcontext()


def _pick(wl: Workload, tracer, r: int, i: int):
    """(tracer or None, the unit's ``traced`` flag) for unit ``i`` of round ``r``."""
    if tracer is None:
        return None, False
    on = wl.traced(r, i)
    return (tracer if on else None), on


# DAG runs in the set-up after the initial load. The first runs in a
# fresh JVM still compile code; one untimed run keeps most of that out
# of the timed units, whose few samples it would otherwise dominate.
WARM_UP = 1


class _Dag(Workload):
    """A runner pipeline run once per round against one warehouse."""

    def rounds(self, seconds: float, trace: bool) -> int:
        n = super().rounds(seconds, trace)
        return 1 + 4 * max(1, (n + 2) // 4) if trace else n

    def traced(self, r: int, i: int) -> bool | None:
        # Round 0 still compiles code the later rounds reuse, so it is
        # left out; the rounds after it go untraced, traced, traced,
        # untraced (ABBA), which cancels a linear drift.
        return None if r == 0 else (r - 1) % 4 in (1, 2)

    def _run(self, spark, ctx: dict, r: int, unit: str, tracer) -> dict:
        tracer, on = _pick(self, tracer, r, 0)
        with _traced(tracer, unit):
            t0, raw0 = clock.now(), time.perf_counter()
            report = self.pipeline.run_with_metrics(ctx)
            secs, raw = clock.now() - t0, time.perf_counter() - raw0
        # raw_s is on the runner's own clock, for runner.overhead_s
        return {"id": unit, "key": "round", "traced": on, "s": secs, "raw_s": raw, "report": report}

    def stored_bytes_per_row(self) -> float:
        return _stored_bytes_per_row([self.wh.root])


class RetailHourly(_Dag):
    nominal_round_s = 4.0
    n_ids = 20000

    def inputs(self, rounds: int) -> dict:
        n_ids = 2000 if self.tiny else self.n_ids
        self.plan = gen.retail_plan(self.seed, n_ids, rounds + WARM_UP)
        self.src = []
        size = 0
        for k, snap in enumerate(self.plan.snapshots):
            path = os.path.join(self.tmp, f"retail_src_{k}.parquet")
            size += gen.write_snapshot(snap, path)
            self.src.append(path)
        st = self.plan.stats
        return {
            "ids": n_ids,
            "ticks": rounds + WARM_UP,
            "source_bytes": size,
            "change_rate": sum(s["changed"] for s in st) / sum(s["live"] for s in st),
            "new_rate": sum(s["new"] for s in st) / sum(s["live"] for s in st),
            "drop_rate": sum(s["dropped"] for s in st) / sum(s["live"] for s in st),
            "null_created_at_last_tick": int(self.plan.snapshots[-1]["created_at"].isna().sum()),
        }

    def _ctx(self, spark, tick: int) -> dict:
        return {
            "spark": spark,
            "warehouse": self.wh,
            "run_ts": gen.run_ts(tick),
            "source_df": spark.read.parquet(self.src[tick]),
        }

    def setup(self, spark) -> float:
        from lion_parcel_etl_spark.catalog import Warehouse
        from lion_parcel_etl_spark.pipelines.dags import build_retail_pipeline

        self.wh = Warehouse(os.path.join(self.tmp, "warehouse"))
        self.pipeline = build_retail_pipeline()
        t0 = clock.now()
        for tick in range(WARM_UP + 1):
            self.pipeline.run_with_metrics(self._ctx(spark, tick))
        secs = clock.now() - t0
        self.setup_problems = self.check(spark, WARM_UP)
        return secs

    def check(self, spark, tick: int) -> list[str]:
        from pyspark.sql import functions as F

        mart = self.wh.read(spark, "retail_transactions").select("id", "deleted_at").toPandas()
        scd = (
            self.wh.read(spark, "retail_transactions_scd")
            .groupBy("id")
            .agg(
                F.count("*").alias("versions"),
                F.sum(F.col("is_current").cast("boolean").cast("int")).alias("n_current"),
            )
            .toPandas()
        )
        return checks.check_retail(mart, scd, self.plan.expect[tick])

    def run_round(self, spark, r: int, tracer) -> list[dict]:
        tick = r + 1 + WARM_UP
        unit = self._run(spark, self._ctx(spark, tick), r, f"tick{tick}", tracer)
        unit.update(rows=len(self.plan.snapshots[tick]), problems=self.check(spark, tick))
        return [unit]


class BonusIngest(_Dag):
    nominal_round_s = 4.0
    n_docs = 200

    def inputs(self, rounds: int) -> dict:
        n_docs = 20 if self.tiny else self.n_docs
        self.corpus_dir = os.path.join(self.tmp, "corpus")
        self.exp = gen.bonus_corpus(self.seed, n_docs, self.corpus_dir)
        e = self.exp
        return {
            "docs": e.docs,
            "malformed_docs": e.malformed,
            "corpus_bytes": e.corpus_bytes,
            "metric_entries": e.entries,
            "values": e.values,
            "metric_ids": len(e.cnt),
        }

    def setup(self, spark) -> float:
        from lion_parcel_etl_spark.catalog import Warehouse
        from lion_parcel_etl_spark.pipelines.dags import build_bonus_pipeline

        self.wh = Warehouse(os.path.join(self.tmp, "warehouse"))
        self.pipeline = build_bonus_pipeline()
        t0 = clock.now()
        for r in range(WARM_UP + 1):
            self.pipeline.run_with_metrics(self._ctx(spark, r))
        secs = clock.now() - t0
        self.setup_problems = self.check(spark)
        return secs

    def _ctx(self, spark, r: int) -> dict:
        return {
            "spark": spark,
            "warehouse": self.wh,
            "run_ts": gen.run_ts(r),
            "json_dir": self.corpus_dir,
        }

    def check(self, spark) -> list[str]:
        detail = self.wh.read(spark, "bonus_detail_per_file").count()
        prod = self.wh.read(spark, "lion_parcell_bonus_test").select("id", "load_time").toPandas()
        return checks.check_bonus(detail, prod, self.exp)

    def run_round(self, spark, r: int, tracer) -> list[dict]:
        uid = f"replay{r + 1 + WARM_UP}"
        unit = self._run(spark, self._ctx(spark, r + 1 + WARM_UP), r, uid, tracer)
        unit.update(rows=self.exp.entries, problems=self.check(spark))
        return [unit]


# A 10-query slice of bench.ANCHOR: the seven reference-core queries plus
# three family representatives. scd2_events, minhash_near_dup and
# cosine_topk own a session store (bench.STORE_OWNERS) and so rebuild it
# inside every timed run. The full 24 do not fit the run budget (their
# cold pass alone is ~50 s on 4 cores).
QUERY_SET = [
    "pricing_summary",
    "merge_upsert",
    "scd2_events",
    "softdelete_mart",
    "string_set_agg",
    "weighted_avg",
    "exclusive_returns",
    "window_running",
    "minhash_near_dup",
    "cosine_topk",
]
QUERY_DATA_SEED = 42
QUERY_DATA_SF = 0.001


def query_data(out_dir: str) -> dict:
    return gen.write_tables(gen.star_tables(QUERY_DATA_SEED, QUERY_DATA_SF), out_dir)


class QueryMix(Workload):
    """The query data is fixed (its expected results are committed in
    ``query_hashes.json``); the seed shuffles the order of every pass."""

    nominal_round_s = 8.0
    min_rounds = 1

    def rounds(self, seconds: float, trace: bool) -> int:
        n = super().rounds(seconds, trace)
        return max(2, n + n % 2) if trace else n

    def traced(self, r: int, i: int) -> bool | None:
        # Crossover: each query runs traced in one pass and untraced in the
        # other, half of them traced first, so the drift between passes
        # cancels out of the per-query comparison.
        return (r + i) % 2 == 1

    def inputs(self, rounds: int) -> dict:
        import bench

        missing = set(QUERY_SET) - set(bench.ANCHOR)
        if missing:
            raise ValueError(f"not in bench.ANCHOR: {sorted(missing)}")
        self.names = QUERY_SET[:3] if self.tiny else QUERY_SET
        self.sf_dir = os.path.join(self.tmp, "sf")
        sizes = query_data(self.sf_dir)
        with open(HASHES) as f:
            self.expected = json.load(f)["queries"]
        return {
            "queries": len(self.names),
            "data_seed": QUERY_DATA_SEED,
            "sf": QUERY_DATA_SF,
            "table_rows": {t: s["rows"] for t, s in sizes.items()},
            "data_bytes": sum(s["bytes"] for s in sizes.values()),
        }

    def _build(self, spark, name: str):
        from lion_parcel_etl_spark.plans.queries import QUERIES

        return QUERIES[name][0](spark, self.sf_dir)

    def _prepare(self, spark, name: str) -> None:
        import bench

        bench._evict_owned(spark, self.sf_dir, name)
        spark.catalog.clearCache()

    def setup(self, spark) -> float:
        """Cold pass: each query built and collected once (timed); its
        rows are then hashed against the committed hash."""
        self.bad: dict[str, list[str]] = {}
        secs = 0.0
        for name in self.names:
            self._prepare(spark, name)
            t0 = clock.now()
            df = self._build(spark, name)
            rows = df.collect()
            secs += clock.now() - t0
            n, h = checks.row_hash(df.columns, rows)
            want = self.expected.get(name)
            if want is None or [n, h] != [want["rows"], want["sha256"]]:
                self.bad[name] = [f"{name}: {n} rows / {h[:12]}, expected {want}"]
        self.setup_problems = [p for ps in self.bad.values() for p in ps]
        return secs

    def run_round(self, spark, r: int, tracer) -> list[dict]:
        order = list(self.names)
        random.Random(self.seed * 1009 + r).shuffle(order)
        units = []
        for name in order:
            self._prepare(spark, name)
            uid = f"p{r}.{name}"
            tracer_q, on = _pick(self, tracer, r, self.names.index(name))
            unit = {"id": uid, "key": name, "traced": on, "rows": self.expected.get(name, {}).get("rows", 0), "report": {}}
            try:
                with _traced(tracer_q, uid):
                    t0 = clock.now()
                    if tracer_q is not None:
                        with tracer_q.job_group("build"), tracer_q.span("plans.build"):
                            df = self._build(spark, name)
                        tracer_q.catalyst(df)
                        with tracer_q.span("exec.action"):
                            _noop(df)
                    else:
                        _noop(self._build(spark, name))
                    unit["s"] = clock.now() - t0
                unit["problems"] = self.bad.get(name, [])
            except Exception as e:  # one failed query does not end the pass
                unit.update(s=None, problems=[f"{uid}: {type(e).__name__}: {e}"])
            units.append(unit)
        return units

    def stored_bytes_per_row(self) -> float:
        tmp = tempfile.gettempdir()
        stores = [os.path.join(tmp, d) for d in os.listdir(tmp) if d.startswith("lpe_")]
        return _stored_bytes_per_row(stores)


WORKLOADS = {"retail_hourly": RetailHourly, "bonus_ingest": BonusIngest, "query_mix": QueryMix}


def percentile(values: list[float], q: float) -> float:
    return float(np.percentile(values, q))
