"""Spark-free self-tests of the benchmark: python3 -m pytest perfbench -q"""

from __future__ import annotations

import ast
import json
import os
import re

import pandas as pd
import pytest

import checks
import run
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_valid_and_match_benchmark_json():
    spec = _bench_json()
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    assert e2e.keys() == run.END_TO_END.keys()
    assert list(layer) == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    for name, m in e2e.items():
        assert NAME.match(name) and m["unit"] == run.END_TO_END[name]
        assert 0 < m["bound"] <= 0.25
    for name, m in layer.items():
        assert NAME.match(name) and m["unit"] == run.unit_of(name)
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_headline_matches_bench_py():
    tree = ast.parse(open(os.path.join(ROOT, "bench.py")).read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", "") == "HEADLINE":
            assert ast.literal_eval(node.value) == run.HEADLINE
            return
    pytest.fail("bench.py defines no HEADLINE")


def _span(sid, start, end, parent=None):
    return tracing.Span(f"s{sid}", start, end, parent, "r", sid)


def test_self_time_with_overlapping_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 6.0, 0),      # overlaps child 1: [1, 6] covered once
        _span(3, 9.0, 12.0, 0),     # runs past its parent: only [9, 10] counts
        _span(4, 2.0, 3.0, 1),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_records_parents_and_labels():
    labels = []
    tr = tracing.Tracer("r", True, label=labels.append)
    walls: dict = {}
    with tr.timed("outer", walls):
        with tr.timed("inner", walls):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0)]
    assert labels == ["outer", "inner", "outer", None]
    assert set(walls) == {"outer", "inner"}
    off = tracing.Tracer("r", False, label=labels.append)
    with off.timed("x", walls):
        pass
    assert off.spans == [] and len(walls["x"]) == 1 and len(labels) == 4


def _truth_and_assign():
    rows = [
        # kind, group, cluster
        ("near", 1, 10), ("near", 1, 10), ("near", 1, 11),   # 1 of 3 pairs shared
        ("exact", 2, 20), ("exact", 2, 20),                  # 1 of 1
        ("short", 3, 30), ("short", 3, 31),                  # 0 of 1
        ("uniq", 4, 40), ("block", 5, 50), ("block", 5, 51),
    ]
    keys = [(f"r{i}", f"p{i}", f"c{i}") for i in range(len(rows))]
    truth = pd.DataFrame(
        [(*k, kind, g) for k, (kind, g, _) in zip(keys, rows)],
        columns=["repo", "path", "commit", "kind", "group_id"],
    )
    assign = pd.DataFrame(
        [(*k, 100 + i, c) for i, (k, (_, _, c)) in enumerate(zip(keys, rows))],
        columns=["repo", "path", "commit", "file_id", "cluster_id"],
    )
    return truth, assign


def test_dup_pair_recall_on_hand_built_truth():
    truth, assign = _truth_and_assign()
    assert checks.dup_pair_recall(truth, assign) == pytest.approx(2 / 5)
    assign["cluster_id"] = 7
    assert checks.dup_pair_recall(truth, assign) == 1.0


def test_block_pairs():
    truth, assign = _truth_and_assign()
    found = pd.DataFrame({"id_a": [108], "id_b": [109]})
    assert checks.block_pairs(truth, assign, found)[0]
    assert not checks.block_pairs(truth, assign, found.iloc[:0])[0]
    assign.loc[assign["file_id"] == 109, "cluster_id"] = 50
    assert not checks.block_pairs(truth, assign, found)[0]


def test_content_sha():
    files = pd.DataFrame({"repo": ["a"], "path": ["b"], "commit": ["c"], "content": ["x"]})
    sha = "2d711642b726b04401627ca9fbac32f5c8530fb1903cc4db02258717921a4881"
    good = files[["repo", "path", "commit"]].assign(content_sha=sha)
    assert checks.content_sha(files, good)[0]
    assert not checks.content_sha(files, good.assign(content_sha="0"))[0]


def test_partition_ignores_labels():
    a = pd.DataFrame({"file_id": [1, 2, 3], "cluster_id": [5, 5, 6]})
    b = pd.DataFrame({"file_id": [1, 2, 3], "cluster_id": [9, 9, 1]})
    c = pd.DataFrame({"file_id": [1, 2, 3], "cluster_id": [9, 1, 1]})
    assert checks.same_partition(a, b)[0]
    assert not checks.same_partition(a, c)[0]


def test_same_result_is_order_insensitive():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.0000000001]})
    b = pd.DataFrame({"v": [2.0, 1.0], "k": ["y", "x"]})
    assert checks.same_result(a, b)[0]
    assert not checks.same_result(a, b.assign(v=[2.0, 1.5]))[0]


def test_engine_totals_from_event_log_lines():
    def task(stage, launch_ms, run_ms, read, py_ms):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": launch_ms, "Finish Time": launch_ms + run_ms,
                          "Accumulables": [{"Name": tracing.PY_WORKER_METRIC,
                                            "Update": str(py_ms)}]},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 10,
                             "Shuffle Read Metrics": {"Fetch Wait Time": 5,
                                                      "Remote Bytes Read": 0,
                                                      "Local Bytes Read": read},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                             "Input Metrics": {"Bytes Read": 0}},
        }

    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1000,
         "Properties": {"spark.job.description": "x"}},
        {"Event": "SparkListenerJobStart", "Submission Time": 1500, "Properties": {}},
        task(1, 1000, 1000, 100, 400), task(1, 1100, 1000, 300, 0),
        task(2, 1200, 2000, 0, 0), task(3, 9000, 5000, 0, 0),   # last one outside
    ]
    tasks = tracing.task_rows(events)
    tot = tracing.engine_totals(tasks, [(1.0, 2.0)], cores=4, n_jobs=2)
    assert tot["spark.tasks"] == 3
    assert tot["spark.task_s"] == pytest.approx(4.0)
    assert tot["spark.core_util"] == pytest.approx(4.0 / (1.0 * 4))
    assert tot["spark.py_worker_s"] == pytest.approx(0.4)
    assert tot["spark.shuffle_read_bytes"] == 400
    assert tot["spark.task_bytes_max_over_median"] == pytest.approx(300 / 200)
    assert tracing.jobs_in(events, [(1.0, 2.0)]) == (2, 1)


def test_engine_totals_cover_the_first_local4_pass_only():
    ops = [(0.0, 1.0, run.CORES, 0), (1.0, 2.0, run.CORES, 1), (2.0, 3.0, 1, 0),
           (3.0, 4.0, run.CORES, 0)]
    assert run.first_pass_intervals(ops) == [(0.0, 1.0), (3.0, 4.0)]


def test_result_line_parses():
    metrics = {k: {"value": 1.5, "unit": u} for k, u in run.END_TO_END.items()}
    out = json.loads(run.result_line(0, 3, metrics))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] == 3
    assert set(out["metrics"]) == set(run.END_TO_END)
    assert json.loads(run.result_line(1, 3, metrics))["correct"] is False


def test_unit_of_covers_every_per_layer_metric():
    for name in run.PER_LAYER:
        assert run.unit_of(name)
