"""Smoke test of the benchmark: every workload end to end at a tiny size,
every answer checked, no failed op, untraced and traced; a traced run
reports every per-layer metric.

    python3 -m pytest perfbench/smoke_test.py -q

Run from the root of a checkout; it takes several minutes (one Spark
session per run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import E2E, LAYER_METRICS  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
REGISTERED = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--docs", "80"],
        cwd=ROOT, check=True, capture_output=True, text=True, timeout=600,
    ).stdout.strip().splitlines()
    return out, json.loads(out[-1])


def test_benchmark_json_matches_the_code():
    assert REGISTERED == list(WORKLOADS)
    assert [m["name"] for m in BENCH["end_to_end"]] == list(E2E)
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == list(LAYER_METRICS)


@pytest.mark.parametrize("workload", REGISTERED)
def test_workload_end_to_end(workload):
    lines, last = _run(workload, 0)
    assert last["correct"] and last["failed"] == 0, [x for x in lines if x.startswith("failure")]
    assert last["attempted"] >= 1
    assert "metric failed_frac 0 ratio" in lines
    assert list(last["metrics"]) == list(E2E)
    assert all(m["value"] > 0 for m in last["metrics"].values())


@pytest.mark.parametrize("workload", REGISTERED)
def test_traced_run_reports_every_layer(workload):
    lines, last = _run(workload, 1)
    assert last["correct"] and last["failed"] == 0
    assert [(k, v["unit"]) for k, v in last["metrics"].items()] == list(LAYER_METRICS)
    assert last["metrics"]["spark.tasks.failed"]["value"] == 0
    trace = [x.split()[2] for x in lines if x.startswith("info trace ")]
    assert trace and os.path.exists(os.path.join(ROOT, trace[0]))


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
