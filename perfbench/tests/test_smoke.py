"""Smoke test of the benchmark harness on the ``tiny`` fixture.

Runs each workload once untraced and once traced and checks that each run
prints every metric of its section of ``BENCHMARK.json`` (``end_to_end``
untraced, ``per_layer`` traced) with its unit, and that the answer checks
ran and passed. Takes a few minutes:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.Popen:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "4",
                             "--trace", str(trace), "--profile", "tiny"]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    return subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True)


@pytest.fixture(scope="module")
def outputs() -> dict[tuple[str, int], tuple[dict, dict]]:
    """(workload, trace) → (result line, detail line); the two runs of a
    workload go side by side."""
    out = {}
    for w in WORKLOADS:
        procs = {t: run(w, t) for t in (0, 1)}
        for t, p in procs.items():
            stdout, stderr = p.communicate(timeout=900)
            assert p.returncode == 0, stderr[-3000:]
            lines = stdout.strip().splitlines()
            detail = json.loads(lines[-2].removeprefix("perfbench-detail "))
            out[w, t] = json.loads(lines[-1]), detail
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_printed_with_its_unit(outputs, workload, trace, section):
    """Each workload prints every metric of its section, and no other."""
    units = {m["name"]: m["unit"] for m in SPEC[section]}
    result, _ = outputs[workload, trace]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    for m in result["metrics"].values():
        assert set(m) == {"value", "unit"}
        assert isinstance(m["value"], (int, float))
    assert {k: m["unit"] for k, m in result["metrics"].items()} == units


def test_answer_checks_ran_and_passed(outputs):
    for (w, t), (result, detail) in outputs.items():
        assert detail["checks"] > 0, (w, t)
        assert detail["problems"] == [], (w, t)
        assert result["correct"] is True, (w, t)
        assert result["attempted"] >= 1 and result["failed"] == 0, (w, t)


def test_fails_without_the_program(tmp_path):
    """Holding only BENCHMARK.json and the benchmark, a run exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = run(WORKLOADS[0], 0, cwd=str(tmp_path))
    stdout, _ = p.communicate(timeout=180)
    assert p.returncode != 0
    assert stdout.strip() == ""
