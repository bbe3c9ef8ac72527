"""Smoke test of the benchmark at tiny input sizes.

Checks that every metric BENCHMARK.json names is printed with its unit
on every workload, that the traced run attributes jobs to the reads and
finds the planted near-copies, and that a planted state corruption fails
the run. Takes several minutes (one Spark session per run)::

    python3 -m pytest cdcbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in spec} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    result = bench(workload, 0)
    assert_metrics(result, SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_layer_metrics(workload):
    result = bench(workload, 1)
    assert_metrics(result, SPEC["per_layer"])
    m = {name: v["value"] for name, v in result["metrics"].items()}
    assert m["engine.read.jobs"] > 0
    assert m["spark.jobs_per_window"] > 0
    assert 0.5 < m["trace.window_cover_share"] <= 1.0
    if workload == "churn_index":
        assert m["index.pairs"] > 0
        assert m["index.ingest.jobs"] > 0
    if workload == "churn_cdc":
        assert m["ivm.advance_jobs"] > 0
        assert m["merge.change_rows"] > 0


def test_planted_corruption_fails_the_run():
    result = bench(WORKLOADS[0], 0, "--plant-corruption")
    assert result["correct"] is False
    assert result["failed"] > 0
