"""Pipeline runner: dependency-scheduled task execution with tag selection.

Replaces both orchestration layers of the reference:

- Airflow DAG edges `task_a >> task_b` and hourly micro-batch semantics
  (reference ``dags/retail_hourly_etl.py:17-39``, ``dags/bonus_test.py:17-39``
  — ``max_active_runs=1``, ``catchup=False`` ≙ one run at a time,
  latest-only), and
- dbt's ``run --select tag:...`` selection
  (reference ``public/retail_transactions.py:19-29``).

A ``Task`` is a named function ``fn(ctx) -> None`` with dependencies and
tags; ``Pipeline.run`` executes the tag-selected subgraph in dependency
order, fails fast with the failing task named (the ``|| exit 3`` analog
at reference ``dags/retail_hourly_etl.py:29``), and reports per-task
wall time. ``ctx`` is caller-provided shared state (SparkSession,
Warehouse, run_ts, ...) — run-time values are injected, never read from
``now()``, so replays are deterministic (SURVEY.md §7 hard part 6).

Tasks whose dependencies are done run concurrently, one thread each, as
on Airflow's LocalExecutor: in the retail DAG the merge and the SCD2
tasks both start once ``stage`` finishes. So tasks that can run at the
same time must not write the same table, and a task that reads another
task's output declares that task as a dep.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from datetime import datetime, timedelta


class TaskFailed(RuntimeError):
    def __init__(self, task: str, cause: BaseException):
        super().__init__(f"task {task!r} failed: {cause}")
        self.task = task
        self.cause = cause


class CycleError(ValueError):
    pass


@dataclass
class Task:
    name: str
    fn: Callable[[dict], None]
    deps: list[str] = field(default_factory=list)
    tags: set[str] = field(default_factory=set)
    # Airflow default_args parity (reference dags/retail_hourly_etl.py:13-14
    # declares retries/retry_delay per task; the reference runs retries=0,
    # which stays the default here).
    retries: int = 0
    retry_delay_s: float = 0.0


class Pipeline:
    def __init__(self, name: str = "pipeline"):
        self.name = name
        self._tasks: dict[str, Task] = {}

    def task(
        self,
        name: str,
        fn: Callable[[dict], None],
        deps: Iterable[str] = (),
        tags: Iterable[str] = (),
        retries: int = 0,
        retry_delay_s: float = 0.0,
    ) -> "Pipeline":
        if name in self._tasks:
            raise ValueError(f"duplicate task {name!r}")
        self._tasks[name] = Task(
            name, fn, list(deps), set(tags), retries, retry_delay_s
        )
        return self

    def _select(self, tags: Iterable[str] | None) -> list[Task]:
        """Tag-selected tasks plus their transitive dependencies
        (dbt ``--select tag:`` pulls upstream refs the same way)."""
        if not tags:
            return list(self._tasks.values())
        want = set(tags)
        seeds = [t.name for t in self._tasks.values() if t.tags & want]
        seen: set[str] = set()
        stack = list(seeds)
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            if n not in self._tasks:
                # same diagnostic as _topo's untagged path — a tagged
                # run must not turn a config error into a bare KeyError
                raise ValueError(f"task depends on unknown {n!r}")
            stack.extend(self._tasks[n].deps)
        return [t for t in self._tasks.values() if t.name in seen]

    def _topo(self, tasks: list[Task]) -> list[Task]:
        names = {t.name for t in tasks}
        indeg = {t.name: 0 for t in tasks}
        out: dict[str, list[str]] = {t.name: [] for t in tasks}
        for t in tasks:
            for d in t.deps:
                if d not in self._tasks:
                    raise ValueError(f"task {t.name!r} depends on unknown {d!r}")
                if d in names:
                    indeg[t.name] += 1
                    out[d].append(t.name)
        # deterministic order: ready set processed in insertion order
        order = [n for n in indeg if indeg[n] == 0]
        result = []
        i = 0
        while i < len(order):
            n = order[i]
            i += 1
            result.append(self._tasks[n])
            for m in out[n]:
                indeg[m] -= 1
                if indeg[m] == 0:
                    order.append(m)
        if len(result) != len(tasks):
            rest = sorted(names - {t.name for t in result})
            raise CycleError(f"dependency cycle among {rest}")
        return result

    def run(
        self,
        ctx: dict,
        tags: Iterable[str] | None = None,
    ) -> dict[str, float]:
        """Execute the (tag-selected) subgraph; returns task → seconds.
        Raises TaskFailed on the first failure (fail-fast)."""
        report = self.run_with_metrics(ctx, tags)
        return {name: r["wall_s"] for name, r in report.items()}

    def run_with_metrics(
        self,
        ctx: dict,
        tags: Iterable[str] | None = None,
    ) -> dict[str, dict]:
        """Like :meth:`run`, but returns a structured per-task report —
        the engine's analog of the reference's logged Postgres command
        tags (``MERGE 20`` / ``INSERT 0 13``) and
        ``df.info(memory_usage='deep')`` size lines:

            {task: {"wall_s": float,
                    "writes": [{"table", "rows", "bytes", "files"}]}}

        keyed in topological order. Every task whose selected deps are
        done runs at once on its own thread (Airflow LocalExecutor
        semantics), so tasks that can overlap must not write the same
        table, and a task reading another's output must list it as a
        dep. Fail-fast: after a failure no new task starts, tasks
        already running finish, and the ``TaskFailed`` raised is the
        first failed task in topological order. When ``ctx["spark"]``
        is a SparkSession, each task thread inherits the caller's Spark
        local properties (job group, scheduler pool).

        Writes are attributed to the task that performed them via a
        ``RunMetrics`` recorder: uses ``ctx["run_metrics"]`` if the
        caller supplied one (sharing it with their Warehouse), else
        installs a fresh recorder at that key and, when ``ctx``
        carries a metrics-less ``warehouse``, attaches it.
        """
        from lion_parcel_etl_spark.metrics import RunMetrics

        order = self._topo(self._select(tags))
        rm = ctx.get("run_metrics")
        attached = False
        wh = ctx.get("warehouse")
        if rm is None:
            rm = ctx["run_metrics"] = RunMetrics()
            # attach THIS run's recorder even if an earlier run left its
            # own behind (Scheduler.tick passes a fresh ctx copy per
            # run, so a None-only check would leave every run after the
            # first recording into the first run's orphaned recorder
            # and reporting empty writes); the previous attachment is
            # restored on exit so a caller-owned recorder keeps working
            if wh is not None and getattr(wh, "metrics", None) is not rm:
                prev_metrics = wh.metrics
                wh.metrics = rm
                attached = True

        mark = rm.mark()
        try:
            walls = self._run_ready(order, ctx, rm)
        finally:
            if attached:
                wh.metrics = prev_metrics
        writes = rm.writes[mark:]
        return {
            name: {
                "wall_s": wall,
                "writes": [w.as_dict() for w in writes if w.task == name],
            }
            for name, wall in walls.items()
        }

    def _run_ready(self, order: list[Task], ctx: dict, rm) -> dict[str, float]:
        """Run ``order`` (topologically sorted) by dependency: each task
        is submitted as soon as its selected deps are done. Returns
        task → seconds in topological order."""
        names = {t.name for t in order}
        deps = {t.name: [d for d in t.deps if d in names] for t in order}
        execute = _thread_target(ctx.get("spark"))(_execute)
        walls: dict[str, float] = {}
        failed: dict[str, TaskFailed] = {}
        running: dict[Future, str] = {}
        pending = list(order)
        with ThreadPoolExecutor(max(1, len(order)), thread_name_prefix=self.name) as pool:
            while True:
                if not failed:
                    for t in [t for t in pending if all(d in walls for d in deps[t.name])]:
                        pending.remove(t)
                        running[pool.submit(execute, t, ctx, rm)] = t.name
                if not running:
                    break
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for f in finished:
                    name = running.pop(f)
                    try:
                        walls[name] = f.result()
                    except TaskFailed as e:
                        failed[name] = e
        for t in order:
            if t.name in failed:
                raise failed[t.name]
        return {t.name: walls[t.name] for t in order}


def _execute(t: Task, ctx: dict, rm) -> float:
    """One task with its retries, its writes to ``rm`` tagged with its
    name; returns its wall seconds."""
    t0 = time.perf_counter()
    with rm.running(t.name):
        for attempt in range(t.retries + 1):
            try:
                t.fn(ctx)
                break
            except Exception as e:  # noqa: BLE001
                if attempt == t.retries:
                    raise TaskFailed(t.name, e) from e
                if t.retry_delay_s > 0:
                    time.sleep(t.retry_delay_s)
    return time.perf_counter() - t0


def _thread_target(spark) -> Callable[[Callable], Callable]:
    """Wrapper that carries the calling thread's Spark local properties
    into a task thread; identity when ``spark`` is not a session."""
    if spark is not None:
        from pyspark import inheritable_thread_target
        from pyspark.sql import SparkSession

        if isinstance(spark, SparkSession):
            return inheritable_thread_target(spark)
    return lambda fn: fn


@dataclass(frozen=True)
class ScheduledRun:
    """One data interval [logical_ts, run_ts): Airflow's model, where a
    run *for* interval start ``logical_ts`` fires *at* interval end
    ``run_ts`` (the hourly DAG for 09:00 runs at 10:00 over 09-10
    data). ``run_ts`` is what gets injected into ``ctx`` — the same
    injected-timestamp discipline the tasks already follow."""

    logical_ts: datetime
    run_ts: datetime


class Scheduler:
    """Interval-scheduling semantics over a :class:`Pipeline` —
    the cron-loop half of the reference's orchestration (reference
    ``dags/retail_hourly_etl.py:22-23``: ``schedule_interval="0 * * *
    *"``, ``catchup=False``, ``max_active_runs=1``) that the task
    runner alone does not model.

    Deterministic by construction: the caller injects ``now`` into
    :meth:`tick`; nothing here reads the wall clock, so a backfill or
    a replay is just a sequence of ``tick(now=...)`` calls.

    - ``catchup=False`` (the reference's setting): when several
      intervals are overdue at a tick, only the LATEST runs; the
      skipped intervals are reported (``skipped`` in the tick result)
      and the watermark advances past them — exactly Airflow's
      latest-only behavior. ``catchup=True`` runs every missed
      interval in order (backfill).
    - ``max_active_runs=1``: a re-entrant :meth:`tick` while a run is
      active returns ``[]`` instead of overlapping it — the
      single-slot guard that keeps the incremental merge/SCD2 tasks
      serialized (they assume no concurrent writer per table).
    - A failed run (``TaskFailed``) is recorded with ``"failed"`` and
      the watermark still advances: with the reference's retries=0,
      the next hourly interval proceeds regardless — state-repair is
      the job of the idempotent merge, not the scheduler.
    """

    def __init__(
        self,
        pipeline: Pipeline,
        interval: timedelta,
        start: datetime,
        catchup: bool = False,
        max_active_runs: int = 1,
    ):
        if interval <= timedelta(0):
            raise ValueError(f"interval must be positive, got {interval!r}")
        self.pipeline = pipeline
        self.interval = interval
        self.catchup = catchup
        self.max_active_runs = max_active_runs
        self._watermark = start  # start of the next un-run interval
        self._active = 0

    def due_runs(self, now: datetime) -> tuple[list[ScheduledRun], list[ScheduledRun]]:
        """(to_run, skipped) at ``now``: every whole interval between
        the watermark and ``now`` is due; catchup=False keeps only the
        latest and reports the rest as skipped."""
        due: list[ScheduledRun] = []
        t = self._watermark
        while t + self.interval <= now:
            due.append(ScheduledRun(t, t + self.interval))
            t += self.interval
        if self.catchup or len(due) <= 1:
            return due, []
        return due[-1:], due[:-1]

    def tick(
        self,
        ctx: dict,
        now: datetime,
        tags: Iterable[str] | None = None,
    ) -> list[dict]:
        """Run everything due at ``now`` (serially, in interval order);
        returns one record per executed run:

            {"logical_ts", "run_ts", "failed": str | None,
             "skipped": [logical_ts, ...],   # catchup=False collapse
             "report": {task: {"wall_s", "writes"}}}
        """
        if self._active >= self.max_active_runs:
            return []
        to_run, skipped = self.due_runs(now)
        results: list[dict] = []
        for r in to_run:
            self._active += 1
            failed: str | None = None
            report: dict = {}
            try:
                report = self.pipeline.run_with_metrics(
                    {**ctx, "run_ts": r.run_ts, "logical_ts": r.logical_ts},
                    tags,
                )
            except TaskFailed as e:
                failed = e.task
            finally:
                self._active -= 1
            self._watermark = r.run_ts
            results.append(
                {
                    "logical_ts": r.logical_ts,
                    "run_ts": r.run_ts,
                    "failed": failed,
                    "skipped": [s.logical_ts for s in skipped],
                    "report": report,
                }
            )
            skipped = []  # attributed to the first executed run only
        return results
