"""The benchmark command: its output names are exactly BENCHMARK.json's,
and it refuses to run without the engine next to it."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.tests.conftest import ROOT


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["etl_full", "feed_and_suite"])
@pytest.mark.parametrize("trace", [0, 1])
def test_output_names_match_benchmark_json(workload, trace):
    spec = _spec()
    key = "per_layer" if trace else "end_to_end"
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec[key]}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == want
    for name, unit in want.items():  # the human-readable lines name each metric
        assert any(line.startswith(f"{name} ") and line.endswith(f" {unit}") for line in lines)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_full", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
