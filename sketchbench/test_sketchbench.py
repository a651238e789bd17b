"""Tests of the benchmark itself: python3 -m pytest sketchbench -q

The smoke runs start a Spark session each (about a minute apiece)."""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import ops  # noqa: E402
import run  # noqa: E402
from tracing import EventLog, Span, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_names_and_units():
    for name, unit in {**run.END_TO_END, **run.PER_LAYER}.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), (name, unit)
    assert len(run.PER_LAYER) <= 128


def test_benchmark_json_lists_what_run_prints():
    b = _benchmark()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == sorted(ops.WORKLOADS)
    assert tuple(run.OP_METRIC) == ops.OPS
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 3.0, 0, "r"),
        Span(2, "b", 2.0, 5.0, 0, "r"),  # overlaps a: union is [1, 5]
        Span(3, "c", 9.0, 12.0, 0, "r"),  # clipped to the parent: [9, 10]
        Span(4, "d", 1.5, 2.5, 1, "r"),  # grandchild: not the op's child
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(3.0)


def test_host_speed_is_a_running_median_of_three():
    assert run.host_speed([1.0, 9.0, 2.0, 3.0, 2.5]).tolist() == [5.0, 2.0, 3.0, 2.5, 2.75]


def test_trimmed_mean_drops_the_lowest_and_the_highest():
    assert run.trimmed_mean([5.0, 1.0, 2.0, 3.0, 100.0]) == pytest.approx(10 / 3)
    assert run.trimmed_mean([2.0, 4.0]) == 3.0


def _task_end(stage, partition, attempt, shuffle_bytes, stage_attempt=0, run_ms=10, updates=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": stage_attempt,
        "Task Info": {"Partition ID": partition, "Attempt": attempt,
                      "Accumulables": [{"ID": i, "Update": str(v)} for i, v in updates]},
        "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes,
                                                   "Shuffle Records Written": 1},
                         "Disk Bytes Spilled": 0},
    }


def test_task_attempts_are_deduplicated_keeping_the_latest():
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "untraced:q"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "other"}},
        _task_end(0, 0, 0, 100),
        _task_end(0, 0, 1, 50),  # retry of partition 0 replaces attempt 0
        _task_end(0, 1, 0, 10),
        _task_end(1, 0, 2, 7),
        _task_end(1, 0, 0, 1000, stage_attempt=1),  # a stage re-run wins
        _task_end(2, 0, 0, 99999),  # another group's stage
    ]
    c = EventLog(events).counters("untraced:q")
    assert c["shuffle_bytes"] == 50 + 10 + 1000
    assert c["shuffle_records"] == 3
    assert c["gc_s"] == pytest.approx(0.003)


def test_sql_metric_roles_follow_the_latest_plan():
    scan = {"nodeName": "Scan parquet ", "metrics": [
        {"name": "number of output rows", "accumulatorId": 1}], "children": []}
    c2r = {"nodeName": "ColumnarToRow", "metrics": [
        {"name": "number of output rows", "accumulatorId": 2}], "children": [scan]}
    py = {"nodeName": "MapInPandas", "metrics": [
        {"name": "data sent to Python workers", "accumulatorId": 3}]}
    initial = dict(py, children=[{"nodeName": "Project", "children": [scan]}])
    final = dict(py, children=[{"nodeName": "WholeStageCodegen (1)", "metrics": [],
                                "children": [{"nodeName": "Project", "children": [c2r]}]}])
    events = [
        {"Event": "SQLExecutionStart", "executionId": 1, "sparkPlanInfo": initial},
        {"Event": "SQLAdaptiveExecutionUpdate", "executionId": 1, "sparkPlanInfo": final},
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "g"}},
        _task_end(0, 0, 0, 0, updates=[(1, 40), (2, 40), (3, 800)]),
    ]
    c = EventLog(events).counters("g")
    assert c["scan_rows"] == 40
    assert c["python_rows_in"] == 40  # counted once, from the final plan
    assert c["python_bytes_in"] == 800


def _answers(raw, wl, ref):
    """Exact-enough answers to every query, as the ops return them."""
    keys = list(wl.keys)
    rel, blob, dist, rank = [], [], [], []
    for g, v in ref.values.items():
        est = np.round(ops.DDSketch(config=ops.DDSketchConfig()).add(v).quantiles(ops.QS), 6)
        for q, e in zip(ops.QS, est):
            rel.append((*g, q, e))
        blob.append((*g, 100, *est))
        dist.append((*g, float(ref.distinct[g])))
        kll = ops.KLLSketch().add(v)
        rank.append((*g, kll.to_bytes(), *kll.quantiles(ops.QS)))
    return {
        "q_relational": pd.DataFrame(rel, columns=[*keys, "q", "est"]),
        "q_blob": pd.DataFrame(blob, columns=[*keys, "nbytes", *ops.QCOLS]),
        "q_distinct": pd.DataFrame(dist, columns=[*keys, "est"]),
        "q_rank": pd.DataFrame(rank, columns=[*keys, "sketch", *ops.QCOLS]),
    }


def test_an_injected_wrong_estimate_fails_its_op():
    wl = ops.WORKLOADS["per_conv"]
    rng = np.random.default_rng(0)
    raw = pd.DataFrame({"conv_id": [f"c{i % 7}" for i in range(2800)],
                        "turn_idx": np.arange(2800) // 7,
                        "v": np.round(rng.lognormal(5, 1, 2800)) + 1})
    ref = ops.build_reference(raw, wl)
    outs = _answers(raw, wl, ref)
    score = ops.Score()
    passed = ops.check_rep(score, wl, ref, outs)
    assert all(passed.values()), score.problems
    assert 0 < score.max_rel_err_over_alpha <= 1
    assert 0 < score.kll_max_rank_err_over_eps <= 1  # 400 values: KLL compacts

    outs["q_blob"].loc[3, "p95"] *= 1.5
    score = ops.Score()
    passed = ops.check_rep(score, wl, ref, outs)
    assert [op for op, ok in passed.items() if not ok] == ["q_blob"]
    assert score.max_rel_err_over_alpha > 1


def test_answer_drift_ignores_row_order_but_not_values():
    wl = ops.WORKLOADS["per_conv"]
    rng = np.random.default_rng(1)
    raw = pd.DataFrame({"conv_id": [f"c{i % 5}" for i in range(500)],
                        "turn_idx": np.arange(500) // 5,
                        "v": np.round(rng.lognormal(5, 1, 500)) + 1})
    ref = ops.build_reference(raw, wl)
    outs = _answers(raw, wl, ref)
    shuffled = {op: df.sample(frac=1, random_state=0) for op, df in outs.items()}
    assert ops.answer_drift(wl, outs, shuffled) == []
    shuffled["q_relational"].iloc[2, shuffled["q_relational"].columns.get_loc("est")] += 0.01
    assert ops.answer_drift(wl, outs, shuffled) == ["q_relational"]


def test_a_bare_checkout_fails_without_a_result():
    bare = HERE / "runs" / "bare-checkout"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, bare / "sketchbench",
                        ignore=shutil.ignore_patterns("runs", "__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        p = subprocess.run([sys.executable, "sketchbench/run.py", "--workload", "rollup",
                            "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare,
                           capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _smoke(workload, trace):
    p = subprocess.run([sys.executable, "sketchbench/run.py", "--workload", workload, "--seed", "1",
                        "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
                       cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(ops.WORKLOADS))
def test_smoke_run(workload):
    res = _smoke(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= len(ops.OPS)
    assert set(res["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(ops.WORKLOADS))
def test_traced_smoke_run(workload):
    res = _smoke(workload, 1)
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == set(run.PER_LAYER)
    for op in ops.OPS:
        assert res["metrics"][f"trace.layer_share.{op}"]["value"] > 0.9
