"""Tests of the benchmark harness itself (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from metrics import end_to_end, fail_ratio, pass_orders, result_line  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_geomean_s": "s"}


def _run_record(failed=0, per_layer=None):
    return {
        "setup_s": 20.5,
        "pass_s": [6.1, 5.9, 6.0],
        "query_s": {"a": [1.0, 1.2, 1.1], "b": [4.0, 4.1, 3.9]},
        "peak_rss_mb": 900.0,
        "attempted": 12,
        "failed": failed,
        "per_layer": per_layer or {},
    }


def test_benchmark_json_names_workloads_and_metrics():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert declared == END_TO_END
    per_layer = {m["name"] for m in SPEC["per_layer"]}
    assert "fail_ratio" in per_layer
    for wl in WORKLOADS.values():
        assert {f"query.{q}.s" for q in wl.queries} <= per_layer


def test_every_end_to_end_metric_reported_with_unit():
    line = result_line(_run_record(), SPEC, trace=False)
    assert line["correct"] and line["attempted"] == 12 and line["failed"] == 0
    assert {n: m["unit"] for n, m in line["metrics"].items()} == END_TO_END
    assert line["metrics"]["pass_s"]["value"] == 6.0
    # geometric mean of the per-query medians 1.1 and 4.0
    assert line["metrics"]["query_geomean_s"]["value"] == pytest.approx((1.1 * 4.0) ** 0.5)


def test_every_per_layer_metric_reported_with_unit():
    line = result_line(_run_record(per_layer={"queries.build_s": 2.5}), SPEC, trace=True)
    assert {n: m["unit"] for n, m in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]
    }
    assert line["metrics"]["queries.build_s"]["value"] == 2.5
    assert line["metrics"]["fail_ratio"]["value"] == 0.0


def test_pass_metrics_cover_the_declared_layer_names():
    t = 1000.0
    spans = [
        {"name": "query", "start": t, "end": t + 3, "parent": None, "query": "a", "pass": 0},
        {"name": "build", "start": t, "end": t + 1, "parent": 0, "query": "a", "pass": 0},
        {"name": "session.load_table", "start": t, "end": t + 0.2, "parent": 1,
         "query": "a", "pass": 0},
        {"name": "operators.fit.fit_poly", "start": t + 0.2, "end": t + 0.9, "parent": 1,
         "query": "a", "pass": 0},
        {"name": "eager.collect", "start": t + 0.3, "end": t + 0.8, "parent": 3,
         "query": "a", "pass": 0},
        {"name": "action", "start": t + 1, "end": t + 3, "parent": 0, "query": "a", "pass": 0},
    ]
    jobs = [
        {"jobId": 0, "submissionTime": (t + 0.4) * 1e3, "completionTime": (t + 0.7) * 1e3,
         "stageIds": [0]},
        {"jobId": 1, "submissionTime": (t + 1.5) * 1e3, "completionTime": (t + 2.5) * 1e3,
         "stageIds": [1, 2]},
    ]
    stages = [
        {"stageId": 0, "status": "COMPLETE", "numCompleteTasks": 4, "executorRunTime": 800},
        {"stageId": 1, "status": "COMPLETE", "numCompleteTasks": 8, "executorRunTime": 2000},
        {"stageId": 2, "status": "SKIPPED", "numCompleteTasks": 0},
    ]
    execs = [{
        "id": 0, "submitted": t + 1.5,
        "nodes": [
            {"name": "BroadcastExchange", "metrics": [
                {"name": "data size", "accumulatorId": 1, "metricType": "size"},
                {"name": "time to build", "accumulatorId": 2, "metricType": "timing"}]},
            {"name": "HashAggregate", "metrics": [
                {"name": "time in aggregation build", "accumulatorId": 3,
                 "metricType": "timing"}]},
        ],
        "values": {"1": "2.0 MiB", "2": "15 ms",
                   "3": "total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 0 ms, 1 s (...))"},
    }]
    m = tracing.pass_metrics(
        spans, tracing.self_times(spans), 0, (t, t + 3), jobs, stages, execs
    )
    assert m["queries.build_s"] == pytest.approx(1.0)
    assert m["queries.build_share"] == pytest.approx(1 / 3)
    assert m["queries.build_jobs"] == 1 and m["action.jobs"] == 1
    assert m["queries.eager_actions"] == 1
    assert m["operators.fit.s"] == pytest.approx(0.2)  # 0.7 s minus the 0.5 s collect
    assert m["spark.stages"] == 2 and m["spark.tasks"] == 12
    assert m["spark.job_busy_s"] == pytest.approx(1.3)
    assert m["spark.driver_gap_s"] == pytest.approx(1.7)
    assert m["broadcast.count"] == 1 and m["broadcast.bytes"] == 2 * 2**20
    assert m["compute.agg_s"] == pytest.approx(1.5)
    assert m["compute.join_build_s"] == pytest.approx(0.015)
    fixed = {
        d["name"] for d in SPEC["per_layer"]
        if not d["name"].startswith(("operators.", "sources.", "query."))
    } - {
        "fail_ratio", "session.get_spark_s", "host.calib_s", "host.cpu_calib_s",
        "trace.overhead", "peak_rss_mb",
    }
    assert fixed <= set(m)


def test_same_seed_same_query_order():
    qs = WORKLOADS["timeseries_sf0.01"].queries
    assert pass_orders(qs, 7, 20) == pass_orders(qs, 7, 20)
    assert pass_orders(qs, 7, 20) != pass_orders(qs, 8, 20)
    assert all(sorted(o) == sorted(qs) for o in pass_orders(qs, 7, 20))


class _FakeFrame:
    def select(self, *a):
        return self

    def agg(self, *a):
        return self

    def collect(self):
        return [(3, 42)]


def _materialize(df):
    return df.select("h").agg("n").collect()[0][0]


def _runner(expected):
    from worker import Runner

    return Runner(None, "/nowhere", expected, {"q": lambda s, d: _FakeFrame()}, _materialize)


def test_matching_hash_passes():
    r = _runner({"q": {"rows": 3, "hash": 42}})
    r.run_pass(["q", "q"])
    assert (r.attempted, r.failures) == (2, [])


def test_wrong_expected_hash_raises_fail_ratio():
    r = _runner({"q": {"rows": 3, "hash": 41}})
    r.run_pass(["q"])
    run = _run_record(failed=len(r.failures))
    run["attempted"] = r.attempted
    assert fail_ratio(run) == 1.0
    assert not result_line(run, SPEC, trace=False)["correct"]


def test_failing_query_is_counted():
    r = _runner({})
    r.queries = {"q": lambda s, d: 1 / 0}
    r.run_pass(["q"])
    assert r.attempted == 1 and "ZeroDivisionError" in r.failures[0]


def test_parse_metric_and_self_time():
    assert tracing.parse_metric("1,234") == 1234
    assert tracing.parse_metric("12 ms") == pytest.approx(0.012)
    assert tracing.parse_metric("2.5 KiB") == 2560
    assert tracing.parse_metric("total (min, med, max)\n1.2 m (1 ms, 2 ms, 3 ms)") == 72
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert end_to_end(_run_record())["setup_s"] == 20.5


def test_refuses_a_tree_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tpch_sf0.01x10", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_every_layer_metric_names_the_end_to_end_metric_it_moves():
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)["metrics"]
    assert list(layers) == [m["name"] for m in SPEC["per_layer"]]
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    for name, entry in layers.items():
        assert entry["moves"] is None or entry["moves"] in e2e, name
        assert set(entry["on"]) | set(entry["flat_on"]) <= set(WORKLOADS), name
