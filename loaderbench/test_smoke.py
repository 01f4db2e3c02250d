"""Smoke tests for the benchmark itself: every workload and every gate on
tiny inputs, traced, so the per-layer path runs too.

    python3 -m pytest loaderbench/test_smoke.py -q

Each case starts two Spark sessions (untraced baseline, then traced);
the whole file takes a few minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import E2E, per_layer_names  # noqa: E402


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)


def test_benchmark_json_matches_runner() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(E2E)
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()


@pytest.mark.parametrize("workload", ["backfill", "live_tail", "query_mix"])
def test_smoke_workload_traced(workload: str) -> None:
    out = _run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1",
               "--smoke")
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["gate_problems"]
    assert result["attempted"] >= 1
    assert list(result["metrics"]) == per_layer_names()
    assert record["untraced"]["correct"]
    assert set(record["untraced"]["metrics"]) == set(E2E)
    assert all(v["value"] > 0 for v in record["untraced"]["metrics"].values())


def test_refuses_without_program(tmp_path) -> None:
    """Outside a checkout that holds the program, fail fast and print nothing."""
    bench = tmp_path / "loaderbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_text(open(os.path.join(HERE, f)).read())
    out = subprocess.run([sys.executable, str(bench / "run.py"), "--workload", "backfill",
                          "--seed", "1", "--seconds", "1"], cwd=tmp_path,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert out.stdout == ""
