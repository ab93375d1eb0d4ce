"""Tiny-scale smoke test of the benchmark.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload of BENCHMARK.json at 2% input size, untraced and
traced, and checks the result line against the metric lists; also checks
the pure helpers and that a tree without the engine fails without a result.
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

import harness  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(cwd, workload, trace, scale="0.02"):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", scale],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_result_line(workload, trace):
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, out.stdout[-3000:]
    assert res["attempted"] >= 1
    spec = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in spec}
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), name


def test_fails_without_engine(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: exit non-zero and
    print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(tmp_path, BENCH["workloads"][0]["name"], 0)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_per_layer_names_match_benchmark_json():
    assert tracing.per_layer_names() == [m["name"] for m in BENCH["per_layer"]]


def test_tail_percentile():
    assert harness.tail_percentile(10) is None
    assert harness.tail_percentile(20) == 50
    assert harness.tail_percentile(40) == 75
    assert harness.tail_percentile(1000) == 99
    assert harness.percentile([3.0, 1.0, 2.0, 4.0], 50) == 2.0


def test_rollup_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "operators.asof#3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "other"}},
    ]
    for stage, ms, reason in [(0, 10, "Success"), (1, 30, "Success"),
                              (1, 90, "Success"), (1, 30, "TaskKilled"),
                              (2, 500, "Success")]:
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {
                "Executor Run Time": ms, "Executor CPU Time": ms * 10**6,
                "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": 2**20,
                                         "Fetch Wait Time": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
            },
        })
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    got = tracing.rollup_event_log(
        str(tmp_path), {"operators.asof#3": ("operators.asof", 3)}
    )
    m = got[("operators.asof", 3)]
    assert m["jobs"] == 1
    assert m["failed_tasks"] == 1
    assert m["cpu_s"] == pytest.approx(0.16)
    assert m["shuffle_read_mb"] == pytest.approx(4.0)
    assert m["fetch_wait_s"] == pytest.approx(0.008)
    # heaviest stage is stage 1: tasks 30, 90, 30 ms
    assert m["task_skew"] == pytest.approx(3.0)
