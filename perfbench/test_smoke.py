"""Smoke test of every workload at sf0.001, untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts a fresh run of the benchmark (about a minute) and
checks the result line against BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    DECLARED = json.load(_fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = DECLARED["command"] + [
        "--workload", workload, "--seed", "5", "--seconds", "1",
        "--trace", str(trace), "--sf", "0.001",
    ]
    cmd[0] = sys.executable
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in DECLARED["workloads"]])
def test_workload_smoke(workload: str, trace: int) -> None:
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = json.loads(lines[-2])["report"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in DECLARED[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    values = {k: v["value"] for k, v in result["metrics"].items()}
    assert all(isinstance(v, (int, float)) for v in values.values())
    # Every end-to-end metric, and every layer this workload enters,
    # is measured on the current code. Nothing spills at this scale,
    # and a short pass may see no GC pause inside a task.
    wl = WORKLOADS[workload]
    may_be_zero = {"exec.spill_mb", "exec.jvm_gc_s"}
    must_move = [n for n in wl.traced_layers() if n not in may_be_zero] if trace else values
    assert [n for n in must_move if not values[n] > 0] == []
    kinds = [c["kind"] for c in report["curve"]]
    assert kinds[0] == "cold"
    assert kinds.index("measured") == 1 + wl.warmup_passes
    assert kinds.count("measured") == wl.measured_passes
    assert report["error_rate"] == 0


def test_fails_without_the_program(tmp_path) -> None:
    """With only BENCHMARK.json and the benchmark's own files, the run
    must fail without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in DECLARED["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"),
        )
    proc = _run(str(tmp_path), DECLARED["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
