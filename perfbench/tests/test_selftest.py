"""Self-test of the benchmark: every workload at the tiny size prints
every metric named in BENCHMARK.json with its unit, and a deliberately
wrong expected output is counted as a failed request.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Run from the repository root; it takes a few minutes (one Spark start
per run).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--seed", "3", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _units(result: dict) -> dict[str, str]:
    return {name: m["unit"] for name, m in result["metrics"].items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_wrong_digest(workload):
    out = _result(_run("--workload", workload, "--trace", "0", "--size", "tiny", "--wrong-digest"))
    assert _units(out) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())
    # exactly the request whose expected output was made wrong fails
    assert out["failed"] == 1
    assert out["correct"] is False
    assert out["attempted"] > 1


def test_traced_run_prints_every_per_layer_metric():
    out = _result(_run("--workload", WORKLOADS[0], "--trace", "1", "--size", "tiny"))
    assert out["correct"] is True and out["failed"] == 0
    assert _units(out) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def test_refuses_to_run_without_the_program():
    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    for path in SPEC["paths"]:
        shutil.copytree(ROOT / path, bare / path, ignore=shutil.ignore_patterns("__pycache__"))
    try:
        proc = _run("--workload", WORKLOADS[0], "--trace", "0", cwd=bare)
        assert proc.returncode != 0
        assert '"metrics"' not in proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
