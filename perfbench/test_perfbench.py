"""Tests of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench -q

The end-to-end cases start one Spark JVM per (workload, trace) pair and
take a few minutes; the rest run in seconds without Spark.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

import checks
import gen
import run
import spec
import workloads
from spans import self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_benchmark_json_is_generated_from_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == spec.benchmark_json()


def test_metric_and_workload_names():
    doc = spec.benchmark_json()
    names = [w["name"] for w in doc["workloads"]]
    names += [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in doc["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])
    assert max(m["bound"] for m in doc["end_to_end"]) == spec.END_TO_END["setup_s"][2]
    for name, (_, _, moves) in spec.PER_LAYER.items():
        for e2e, wls in moves:
            assert e2e in spec.END_TO_END and set(wls) <= set(spec.WORKLOADS), name


def test_star_tables_deterministic():
    a, b = gen.star_tables(5, 0.001), gen.star_tables(5, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(gen.star_tables(6, 0.001)["orders"])


def test_retail_plan_deterministic():
    a, b = gen.retail_plan(3, 500, 2), gen.retail_plan(3, 500, 2)
    for x, y in zip(a.snapshots, b.snapshots):
        pd.testing.assert_frame_equal(x, y)
    assert np.array_equal(a.expect[-1].versions, b.expect[-1].versions)
    assert a.stats == b.stats and a.stats[0]["changed"] == 25


def test_bonus_corpus_deterministic(tmp_path):
    a = gen.bonus_corpus(4, 20, str(tmp_path / "a"))
    b = gen.bonus_corpus(4, 20, str(tmp_path / "b"))
    assert a == b
    for f in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()


def _retail_tables(exp: gen.RetailExpect):
    mart = pd.DataFrame({"id": exp.ids, "deleted_at": exp.deleted_at})
    scd = pd.DataFrame({"id": exp.ids, "versions": exp.versions, "n_current": 1})
    return mart, scd


def test_check_retail_flags_corruption():
    exp = gen.retail_plan(3, 500, 2).expect[-1]
    mart, scd = _retail_tables(exp)
    assert checks.check_retail(mart, scd, exp) == []

    dup = pd.concat([mart, mart.iloc[:1]])
    assert any("duplicate" in p for p in checks.check_retail(dup, scd, exp))
    stamp = mart.copy()
    stamp.loc[~np.isnat(exp.deleted_at), "deleted_at"] = pd.Timestamp("2030-01-01")
    assert any("deleted_at" in p for p in checks.check_retail(stamp, scd, exp))
    two_current = scd.copy()
    two_current.loc[0, "n_current"] = 2
    assert any("current" in p for p in checks.check_retail(mart, two_current, exp))
    lost_version = scd.copy()
    lost_version.loc[scd["versions"] > 1, "versions"] -= 1
    assert any("version" in p for p in checks.check_retail(mart, lost_version, exp))
    missing = mart.iloc[1:]
    assert checks.check_retail(missing, scd, exp)


def test_check_bonus_flags_corruption(tmp_path):
    exp = gen.bonus_corpus(4, 20, str(tmp_path))
    ids = sorted(exp.cnt)
    prod = pd.DataFrame({"id": ids, "load_time": [exp.load_time(i) for i in ids]})
    assert checks.check_bonus(exp.detail_rows, prod, exp) == []
    assert checks.check_bonus(exp.detail_rows + 1, prod, exp)
    off = prod.copy()
    k = off["load_time"].first_valid_index()
    off.loc[k, "load_time"] *= 1.001
    assert any("load_time" in p for p in checks.check_bonus(exp.detail_rows, off, exp))
    assert checks.check_bonus(exp.detail_rows, prod.iloc[1:], exp)


def test_row_hash_is_order_insensitive_and_value_sensitive():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", None)]
    n, h = checks.row_hash(["k", "s", "x"], rows)
    assert (n, h) == checks.row_hash(["k", "s", "x"], rows[::-1])
    assert h == checks.row_hash(["k", "s", "x"], [(1, "a", 0.3), (2, "b", None)])[1]
    assert h != checks.row_hash(["k", "s", "x"], [(1, "a", 0.31), (2, "b", None)])[1]


def test_self_times():
    spans = [
        {"start": 0.0, "end": 10.0, "parent": None},
        {"start": 1.0, "end": 4.0, "parent": 0},
        {"start": 2.0, "end": 3.0, "parent": 1},
        {"start": 5.0, "end": 9.0, "parent": 0},
    ]
    assert self_times(spans) == [3.0, 2.0, 1.0, 4.0]


def test_query_crossover_traces_each_query_once():
    wl = workloads.QueryMix(1, "", True)
    n = wl.rounds(8, trace=True)
    for i in range(len(workloads.QUERY_SET)):
        assert [wl.traced(r, i) for r in range(n)].count(True) == n // 2


def test_dag_rounds_are_abba_after_a_warm_round():
    wl = workloads.RetailHourly(1, "", True)
    n = wl.rounds(8, trace=True)
    assert [wl.traced(r, 0) for r in range(n)] == [None, False, True, True, False]


def test_trace_overhead_pairs_units_by_key():
    units = [
        {"key": "a", "traced": False, "s": 1.0},
        {"key": "a", "traced": True, "s": 1.2},
        {"key": "b", "traced": True, "s": 3.1},
        {"key": "b", "traced": False, "s": 3.0},
        {"key": "c", "traced": True, "s": 9.0},  # no untraced run of c
        {"key": "a", "traced": None, "s": 7.0},  # left out
        {"key": "b", "traced": False, "s": None},  # failed
    ]
    s, ratio = run._trace_overhead(units)
    assert s == pytest.approx(0.15) and ratio == pytest.approx(0.15 / 2.0)
    assert run._trace_overhead(units[4:]) == (0.0, 0.0)


def _run(args, cwd):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0"], tmp_path)
    assert p.returncode != 0 and p.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(spec.WORKLOADS))
def test_every_metric_reported(workload, trace):
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = spec.PER_LAYER if trace else spec.END_TO_END
    assert set(result["metrics"]) == set(want)
    for name, m in result["metrics"].items():
        assert m["unit"] == want[name][0]
        assert isinstance(m["value"], (int, float)) and np.isfinite(m["value"])
        if not trace:
            assert m["value"] > 0, name
