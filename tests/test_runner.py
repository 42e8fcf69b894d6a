from __future__ import annotations

import contextlib
import threading

import pytest

from lion_parcel_etl_spark.runner import CycleError, Pipeline, TaskFailed


def _mk(order):
    def fn(name):
        return lambda ctx: order.append(name)

    return fn


def test_topo_order_and_full_run():
    order = []
    f = _mk(order)
    p = (
        Pipeline("e1")
        .task("scd", f("scd"), deps=["stage"], tags={"retail"})
        .task("stage", f("stage"), tags={"retail"})
        .task("bonus_stg", f("bonus_stg"), tags={"bonus"})
        .task("bonus_prod", f("bonus_prod"), deps=["bonus_stg"], tags={"bonus"})
    )
    timings = p.run({})
    assert set(timings) == {"scd", "stage", "bonus_stg", "bonus_prod"}
    assert order.index("stage") < order.index("scd")
    assert order.index("bonus_stg") < order.index("bonus_prod")


def test_tag_selection_pulls_upstream_deps():
    order = []
    f = _mk(order)
    p = (
        Pipeline()
        .task("stage", f("stage"), tags={"staging"})
        .task("mart", f("mart"), deps=["stage"], tags={"mart"})
        .task("other", f("other"), tags={"elsewhere"})
    )
    p.run({}, tags={"mart"})
    assert order == ["stage", "mart"]  # upstream pulled in, 'other' not


def test_fail_fast_names_task():
    def boom(ctx):
        raise ValueError("nope")

    p = Pipeline().task("a", lambda c: None).task("b", boom, deps=["a"])
    with pytest.raises(TaskFailed) as ei:
        p.run({})
    assert ei.value.task == "b"


def test_cycle_detected():
    p = (
        Pipeline()
        .task("a", lambda c: None, deps=["b"])
        .task("b", lambda c: None, deps=["a"])
    )
    with pytest.raises(CycleError):
        p.run({})


def test_ctx_shared_state():
    p = Pipeline().task("w", lambda c: c.setdefault("hits", []).append(1))
    ctx: dict = {}
    p.run(ctx)
    assert ctx["hits"] == [1]


def test_retries_recover_flaky_task():
    from lion_parcel_etl_spark.runner import Pipeline

    calls = {"n": 0}

    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")

    p = Pipeline("r").task("flaky", flaky, retries=2)
    timings = p.run({})
    assert calls["n"] == 3 and "flaky" in timings


def test_retries_exhausted_raises_taskfailed():
    from lion_parcel_etl_spark.runner import Pipeline, TaskFailed
    import pytest

    calls = {"n": 0}

    def always_fails(ctx):
        calls["n"] += 1
        raise RuntimeError("permanent")

    p = Pipeline("r").task("bad", always_fails, retries=2)
    with pytest.raises(TaskFailed):
        p.run({})
    assert calls["n"] == 3


def test_independent_tasks_overlap():
    """Both branches wait on one barrier: a serial runner would time
    out in the first of them, so completion pins the concurrency."""
    barrier = threading.Barrier(2, timeout=30)
    done = []

    def branch(name):
        def fn(ctx):
            barrier.wait()
            done.append(name)

        return fn

    p = (
        Pipeline("overlap")
        .task("stage", lambda c: None)
        .task("merge", branch("merge"), deps=["stage"])
        .task("scd", branch("scd"), deps=["stage"])
        .task("checks", lambda c: done.append("checks"), deps=["merge", "scd"])
    )
    report = p.run_with_metrics({})
    assert sorted(done[:2]) == ["merge", "scd"] and done[2] == "checks"
    assert list(report) == ["stage", "merge", "scd", "checks"]


def test_failed_branch_stops_downstream_sibling_finishes():
    failed_yet = threading.Event()
    ran = []

    def boom(ctx):
        failed_yet.set()
        raise ValueError("nope")

    def sibling(ctx):
        # still running when its sibling fails; it must be let finish
        assert failed_yet.wait(30)
        ran.append("sibling")

    p = (
        Pipeline("branch")
        .task("stage", lambda c: None)
        .task("bad", boom, deps=["stage"])
        .task("sibling", sibling, deps=["stage"])
        .task("down", lambda c: ran.append("down"), deps=["bad", "sibling"])
        .task("late", lambda c: ran.append("late"), deps=["sibling"])
    )
    with pytest.raises(TaskFailed) as ei:
        p.run({})
    assert ei.value.task == "bad"
    assert isinstance(ei.value.cause, ValueError)
    # no new task starts after the failure, even one whose deps are done
    assert ran == ["sibling"]


def test_two_failures_raise_first_in_topological_order():
    second_failed = threading.Event()

    def first(ctx):
        # fails LAST in time, but comes first in topological order
        assert second_failed.wait(30)
        raise RuntimeError("first")

    def second(ctx):
        second_failed.set()
        raise RuntimeError("second")

    p = Pipeline("two").task("first", first).task("second", second)
    with pytest.raises(TaskFailed) as ei:
        p.run({})
    assert ei.value.task == "first"


def test_run_with_metrics_attributes_writes_per_task(spark, tmp_path):
    """Structured per-task report: each task's warehouse writes show up
    under that task with footer-derived row counts and on-disk bytes —
    the engine's MERGE-20-style command-tag analog — also when two
    independent writers run at the same time."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.metrics import RunMetrics

    rm = RunMetrics()
    wh = Warehouse(str(tmp_path / "wh"), metrics=rm)
    barrier = threading.Barrier(2, timeout=60)

    def write_a(ctx):
        barrier.wait()
        df = spark.range(20).withColumnRenamed("id", "k")
        ctx["warehouse"].overwrite(df, "tbl_a")

    def write_d(ctx):
        barrier.wait()
        ctx["warehouse"].overwrite(spark.range(5), "tbl_d")

    def write_b(ctx):
        ctx["warehouse"].overwrite(spark.range(13), "tbl_b")

    def no_write(ctx):
        pass

    p = (
        Pipeline("m")
        .task("a", write_a)
        .task("d", write_d)
        .task("b", write_b, deps=["a"])
        .task("c", no_write, deps=["b"])
    )
    report = p.run_with_metrics({"warehouse": wh, "run_metrics": rm})
    assert [w["table"] for w in report["a"]["writes"]] == ["tbl_a"]
    assert report["a"]["writes"][0]["rows"] == 20
    assert report["a"]["writes"][0]["bytes"] > 0
    assert [w["table"] for w in report["d"]["writes"]] == ["tbl_d"]
    assert report["d"]["writes"][0]["rows"] == 5
    assert report["b"]["writes"][0]["rows"] == 13
    assert report["c"]["writes"] == []
    assert set(report["a"]["writes"][0]) == {"table", "rows", "bytes", "files"}
    assert all(r["wall_s"] >= 0 for r in report.values())


@contextlib.contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_task_threads_inherit_callers_job_group(spark):
    sc = spark.sparkContext
    seen = []
    p = Pipeline("jg").task(
        "t", lambda ctx: seen.append(sc.getLocalProperty("spark.jobGroup.id"))
    )
    with _job_group(sc, "g"):
        p.run({"spark": spark})
    assert seen == ["g"]


def test_run_with_metrics_auto_attaches_recorder(spark, tmp_path):
    from lion_parcel_etl_spark.catalog import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))

    def write(ctx):
        ctx["warehouse"].overwrite(spark.range(7), "t")

    report = Pipeline("m2").task("w", write).run_with_metrics({"warehouse": wh})
    assert report["w"]["writes"][0]["rows"] == 7


def _hourly(pipeline_runs: list):
    """A one-task pipeline that logs each run's injected timestamps."""
    p = Pipeline("hourly")
    p.task("t", lambda ctx: pipeline_runs.append((ctx["logical_ts"], ctx["run_ts"])))
    return p


def test_scheduler_catchup_false_runs_latest_only():
    from datetime import datetime, timedelta

    from lion_parcel_etl_spark.runner import Scheduler

    runs: list = []
    s = Scheduler(
        _hourly(runs),
        interval=timedelta(hours=1),
        start=datetime(2025, 8, 2, 8),
        catchup=False,
    )
    # 4 intervals overdue at 12:30 -> only 11:00-12:00 runs
    out = s.tick({}, now=datetime(2025, 8, 2, 12, 30))
    assert [r["logical_ts"] for r in out] == [datetime(2025, 8, 2, 11)]
    assert out[0]["skipped"] == [
        datetime(2025, 8, 2, 8),
        datetime(2025, 8, 2, 9),
        datetime(2025, 8, 2, 10),
    ]
    assert runs == [(datetime(2025, 8, 2, 11), datetime(2025, 8, 2, 12))]
    # watermark advanced past the skipped intervals: nothing re-runs
    assert s.tick({}, now=datetime(2025, 8, 2, 12, 59)) == []
    # the next whole interval fires exactly once
    out = s.tick({}, now=datetime(2025, 8, 2, 13))
    assert [r["logical_ts"] for r in out] == [datetime(2025, 8, 2, 12)]


def test_scheduler_catchup_true_backfills_in_order():
    from datetime import datetime, timedelta

    from lion_parcel_etl_spark.runner import Scheduler

    runs: list = []
    s = Scheduler(
        _hourly(runs),
        interval=timedelta(hours=1),
        start=datetime(2025, 8, 2, 8),
        catchup=True,
    )
    out = s.tick({}, now=datetime(2025, 8, 2, 11, 5))
    assert [r["logical_ts"].hour for r in out] == [8, 9, 10]
    assert all(r["skipped"] == [] for r in out)
    assert [lt.hour for lt, _ in runs] == [8, 9, 10]


def test_scheduler_single_slot_blocks_reentrant_tick():
    from datetime import datetime, timedelta

    from lion_parcel_etl_spark.runner import Scheduler

    reentrant: list = []
    p = Pipeline("outer")

    def t(ctx):
        # a task trying to trigger the scheduler mid-run: the single
        # slot is busy, so the nested tick must do nothing
        reentrant.append(s.tick({}, now=datetime(2025, 8, 2, 23)))

    p.task("t", t)
    s = Scheduler(
        p, interval=timedelta(hours=1), start=datetime(2025, 8, 2, 8), catchup=False
    )
    out = s.tick({}, now=datetime(2025, 8, 2, 10))
    assert len(out) == 1 and out[0]["failed"] is None
    assert reentrant == [[]]


def test_scheduler_failed_run_advances_watermark():
    from datetime import datetime, timedelta

    from lion_parcel_etl_spark.runner import Scheduler

    p = Pipeline("failing")
    p.task("boom", lambda ctx: (_ for _ in ()).throw(RuntimeError("x")))
    s = Scheduler(
        p, interval=timedelta(hours=1), start=datetime(2025, 8, 2, 8), catchup=True
    )
    out = s.tick({}, now=datetime(2025, 8, 2, 10))
    assert [r["failed"] for r in out] == ["boom", "boom"]
    # retries=0 semantics: the failed interval is not re-attempted
    assert s.tick({}, now=datetime(2025, 8, 2, 10, 30)) == []
