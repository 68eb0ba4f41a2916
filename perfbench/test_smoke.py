"""Smoke check of the benchmark at a small size.

    python3 -m pytest perfbench/test_smoke.py -q     # from the repository root

Runs every workload briefly, untraced and traced, and asserts that the
result line has exactly the contract's keys, that every workload emits
exactly the metrics named in BENCHMARK.json, each with its declared unit,
and that every output check passed. Also asserts that the benchmark fails, without printing a result, in a directory
holding only BENCHMARK.json and the benchmark.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMOKE_SECONDS = "1"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _run(cwd: str, workload: str, trace: int, seed: int = 7):
    spec = _spec()
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", SMOKE_SECONDS, "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=180)


LISTED = [w["name"] for w in _spec()["workloads"]]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", LISTED)
def test_workload(workload: str, trace: int) -> None:
    spec = _spec()
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stderr[-4000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{workload}: {m['name']} missing"
        assert got["unit"] == m["unit"], (m["name"], got["unit"])
        assert isinstance(got["value"], (int, float))
        assert math.isfinite(got["value"])
        if not trace:
            assert got["value"] > 0, (m["name"], got["value"])
    if trace:
        assert result["metrics"]["trace.overhead_ratio"]["value"] > 0


def test_bare_directory_fails() -> None:
    """Only BENCHMARK.json and the benchmark's paths: must fail cleanly."""
    spec = _spec()
    bare = os.path.join(ROOT, ".perfbench_run", "smoke_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, spec["workloads"][0]["name"], 0)
        assert proc.returncode != 0
        lines = proc.stdout.strip().splitlines()
        assert not lines or '"metrics"' not in lines[-1]
    finally:
        shutil.rmtree(bare, ignore_errors=True)
