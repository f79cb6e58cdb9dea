"""Self-test of the benchmark: each workload once at a tiny size, in both
modes, through the real command; then once more with one output
corrupted, which the correctness checks must catch.

    python3 -m pytest perfbench/test_selftest.py -q -p no:cacheprovider

Takes a few minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lake_lifecycle", "query_sweep")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, *extra: str) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace), "--small", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


def test_spec_names_the_workloads():
    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", (0, 1))
def test_every_named_metric_with_its_unit(workload, trace):
    code, out = _run(workload, trace)
    assert code == 0 and out is not None
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    named = _spec()["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in named}
    for m in named:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(out["metrics"][m["name"]]["value"], (int, float))
    if not trace:
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in named)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_fails_the_run(workload):
    code, out = _run(workload, 0, "--corrupt")
    assert code != 0
    assert out is not None and not out["correct"] and out["failed"] >= 1
