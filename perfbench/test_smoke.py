"""Smoke test of the benchmark: every workload, untraced and traced, at
the smoke size (a few dozen documents), checks its outputs and prints
every declared metric with its unit.

    python3 -m pytest perfbench/test_smoke.py -q
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

sys.path.insert(0, ROOT)
from perfbench.workloads import WORKLOADS  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_prints_every_metric(workload, trace):
    res = _run(workload, trace)
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if not trace:
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in declared)


def test_workloads_declared():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
