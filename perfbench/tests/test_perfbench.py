"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The smoke tests run every workload on the smallest testdata scale and a
tiny grid (about a minute each) and check that every metric the
benchmark names is printed with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from tracing import parse_event_log  # noqa: E402


def _run(args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_benchmark_json_names_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_prints_every_metric(workload, trace):
    out = _run(["--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--smoke"])
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    units = run.PER_LAYER_UNITS if trace else run.END_TO_END_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        # the layer phases account for the traced pass
        assert 0.9 <= values["trace.layer_sum_frac"] <= 1.1
        if workload == "relational":
            assert values["python.plan_nodes"] == 0
        else:
            assert values["python.plan_nodes"] > 0
    else:
        assert all(v > 0 for v in values.values())
    assert "fail_frac" in out.stdout


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(["--workload", "track_profile", "--seed", "1", "--seconds", "1",
                "--trace", "0"], cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


def _event(**kw):
    return json.dumps(kw) + "\n"


def test_event_log_parser_merges_task_metrics_into_stages(tmp_path):
    group = "perfbench|1|q|exec"
    task = {"Executor Run Time": 700, "Executor CPU Time": 5 * 10**8,
            "JVM GC Time": 20, "Executor Deserialize Time": 10,
            "Result Serialization Time": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 2**20},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
            "Disk Bytes Spilled": 0}
    lines = [
        _event(Event="SparkListenerJobStart", **{"Job ID": 0,
               "Properties": {"spark.jobGroup.id": group}}),
        _event(Event="SparkListenerStageSubmitted", **{
            "Stage Info": {"Stage ID": 3, "Stage Attempt ID": 0},
            "Properties": {"spark.jobGroup.id": group}}),
    ]
    for i in range(2):
        lines.append(_event(
            Event="SparkListenerTaskEnd", **{
                "Stage ID": 3, "Stage Attempt ID": 0,
                "Task End Reason": {"Reason": "Success"},
                "Task Info": {"Launch Time": 1000, "Finish Time": 1800,
                              "Getting Result Time": 0},
                "Task Metrics": task}))
    # the completion event carries no task metrics: it must not reset them
    lines.append(_event(Event="SparkListenerStageCompleted", **{
        "Stage Info": {"Stage ID": 3, "Stage Attempt ID": 0,
                       "Number of Tasks": 2, "Accumulables": []}}))
    (tmp_path / "events_1_app").write_text("".join(lines))
    m = parse_event_log(str(tmp_path))[(1, "q", "exec")]
    assert m["jobs"] == 1 and m["stages"] == 1 and m["tasks"] == 2
    assert m["executor_run_s"] == pytest.approx(1.4)
    assert m["executor_cpu_s"] == pytest.approx(1.0)
    assert m["scheduler_delay_s"] == pytest.approx(0.18)
    assert m["shuffle_read_mb"] == pytest.approx(2.0)
    assert m["python_plan_nodes"] == 0
