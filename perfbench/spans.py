"""Span tracing from outside the engine.

The benchmark never edits the engine: a :class:`Tracer` wraps the public
functions each layer exposes (at the module attribute its callers look
up) and records a span around every call. Spans are kept in memory and
written out when the run ends.

Besides spans, a traced unit records:

- Catalyst phase times, taken explicitly on ``df._jdf.queryExecution()``
  of each DataFrame a query returns or the warehouse writes;
- Spark execution counters, pulled from the driver's REST API for the
  job groups the tracer sets (one per unit, with ``build`` and ``corpus``
  sub-groups so jobs run inside a builder and scans of the JSON corpus
  can be told apart).
"""

from __future__ import annotations

import contextlib
import importlib
import json
import re
import time
import urllib.parse
import urllib.request
from collections import defaultdict

# (module, attribute, span name): every call through the attribute is a span.
# Callers import these functions by name, so the patch goes where they look.
PATCHES = [
    ("lion_parcel_etl_spark.pipelines.dags", "retail_snapshot", "pipelines.build"),
    ("lion_parcel_etl_spark.pipelines.dags", "retail_transactions_model", "pipelines.build"),
    ("lion_parcel_etl_spark.pipelines.dags", "metrics_detail", "pipelines.build"),
    ("lion_parcel_etl_spark.pipelines.dags", "metrics_final", "pipelines.build"),
    ("lion_parcel_etl_spark.pipelines.dags", "bonus_prod_model", "pipelines.build"),
    ("lion_parcel_etl_spark.pipelines.dags", "scd2_apply", "operators.scd2_apply.build"),
    ("lion_parcel_etl_spark.pipelines.dags", "run_checks", "operators.checks.run"),
    ("lion_parcel_etl_spark.pipelines.retail", "merge_upsert", "operators.merge_upsert.build"),
    ("lion_parcel_etl_spark.pipelines.bonus", "read_metrics_docs", "sources.read_metrics_docs.build"),
    ("lion_parcel_etl_spark.catalog", "swap_dir", "catalog.swap"),
    ("lion_parcel_etl_spark.catalog.Warehouse", "read", "catalog.read"),
    ("lion_parcel_etl_spark.catalog.Warehouse", "overwrite", "catalog.overwrite"),
    ("lion_parcel_etl_spark.metrics.RunMetrics", "record_write", "metrics.record_write"),
]

# A text relation in an analyzed plan is a scan of the JSON corpus (the
# warehouse itself is parquet).
_TEXT_SCAN = re.compile(r"Relation \[[^\]]*\] text")

_NO_PROXY = urllib.request.build_opener(urllib.request.ProxyHandler({}))


def _resolve(path: str):
    """``pkg.module`` or ``pkg.module.Class`` → the object."""
    try:
        return importlib.import_module(path)
    except ModuleNotFoundError:
        mod, _, cls = path.rpartition(".")
        return getattr(importlib.import_module(mod), cls)


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the time its child spans cover.

    Children of one span never overlap (the program is single-threaded
    at this level), so covered time is the sum of child durations.
    """
    out = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


class Tracer:
    """Spans and counters for the traced units of one run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.unit: str | None = None
        self._stack: list[int] = []
        self._group_tag = "run"
        self._saved: list[tuple[object, str, object]] = []
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self._api = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if self.unit is None:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "unit": self.unit,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.unit is not None:
            self.counters[self.unit][name] += value

    @contextlib.contextmanager
    def job_group(self, tag: str):
        """Jobs started inside run under ``<unit>|<tag>``."""
        if self.unit is None:
            yield
            return
        prev = self._group_tag
        self._set_group(tag)
        try:
            yield
        finally:
            self._set_group(prev)

    def _set_group(self, tag: str) -> None:
        self._group_tag = tag
        self.spark.sparkContext.setJobGroup(f"{self.unit}|{tag}", tag)

    @contextlib.contextmanager
    def traced_unit(self, unit: str):
        """Everything inside is one traced unit with a root span ``unit``."""
        self.unit = unit
        self._set_group("run")
        self.install()
        try:
            with self.span("unit"):
                yield
        finally:
            self.restore()
            self.spark.sparkContext.setJobGroup("untraced", "untraced")
            self.unit = None
            self.pull_exec(unit)

    # -- Catalyst ----------------------------------------------------------
    def catalyst(self, df) -> None:
        """Analysis time as the plan's tracker recorded it; optimization and
        physical planning forced and timed here."""
        if self.unit is None:
            return
        qe = df._jdf.queryExecution()
        phase = qe.tracker().phases().get("analysis")
        if phase.isDefined():
            self.count("catalyst.analysis_s", phase.get().durationMs() / 1000.0)
        with self.span("catalyst.optimization"):
            qe.optimizedPlan()
        with self.span("catalyst.planning"):
            qe.executedPlan()

    def reads_text(self, df) -> bool:
        return bool(_TEXT_SCAN.search(df._jdf.queryExecution().analyzed().toString()))

    # -- patches -----------------------------------------------------------
    def install(self) -> None:
        for path, attr, name in PATCHES:
            owner = _resolve(path)
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def restore(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, name: str):
        tracer = self
        if name == "catalog.overwrite":

            def overwrite(wh, df, *args, **kwargs):
                tracer.catalyst(df)
                tag = "corpus" if tracer.unit and tracer.reads_text(df) else tracer._group_tag
                with tracer.job_group(tag), tracer.span(name):
                    return fn(wh, df, *args, **kwargs)

            return overwrite

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # -- Spark REST --------------------------------------------------------
    def _get(self, path: str):
        with _NO_PROXY.open(self._api + path, timeout=30) as r:
            return json.load(r)

    def pull_exec(self, unit: str) -> None:
        """Sum job/stage counters over every job group of ``unit``."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [j for j in self._get("/jobs") if str(j.get("jobGroup", "")).startswith(unit + "|")]
        stage_tag = {}
        for j in jobs:
            tag = j["jobGroup"].split("|", 1)[1]
            self.counters[unit]["exec.jobs"] += 1
            if tag == "build":
                self.counters[unit]["plans.build_jobs"] += 1
            for sid in j.get("stageIds", []):
                stage_tag[sid] = tag
        if not stage_tag:
            return
        c = self.counters[unit]
        for st in self._get("/stages?status=complete"):
            tag = stage_tag.get(st["stageId"])
            if tag is None:
                continue
            c["exec.tasks"] += st.get("numTasks", 0)
            c["exec.executor_run_s"] += st.get("executorRunTime", 0) / 1000.0
            c["exec.shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            c["exec.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            c["exec.spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            c["exec.input_bytes"] += st.get("inputBytes", 0)
            if tag == "corpus" and st.get("inputBytes", 0) > 0:
                c["sources.corpus_scans"] += 1
                c["sources.corpus_input_bytes"] += st["inputBytes"]

    # -- summaries ---------------------------------------------------------
    def unit_layers(self) -> dict[str, dict[str, float]]:
        """Per traced unit: outermost-span seconds per span name, plus
        ``unit.self_s`` (unit time no layer span covers) and counters."""
        selfs = self_times(self.spans)
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            layer = out[s["unit"]]
            if s["name"] == "unit":
                layer["unit.self_s"] += selfs[i]
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != s["name"]:
                p = self.spans[p]["parent"]
            if p is None:  # outermost span of its name
                layer[s["name"] + "_s"] += s["end"] - s["start"]
        for unit, c in self.counters.items():
            for k, v in c.items():
                out[unit][k] += v
        return out

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {
                "name": s["name"],
                "unit": s["unit"],
                "parent": s["parent"],
                "start_s": round(s["start"] - t0, 6),
                "end_s": round(s["end"] - t0, 6),
                "self_s": round(selfs[i], 6),
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "counters": self.counters}, f)
