"""Self-test of the benchmark on tiny inputs (about 10 minutes on 4 cores).

    python -m pytest perfbench/test_perfbench.py -q

Checks that every workload prints every metric of BENCHMARK.json with its
unit, that the correctness gate catches a planted wrong expectation, that
the status-store census repeats exactly, and that the benchmark refuses to
run without the program beside it.
"""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
TINY = ["--scale", "0.1", "--seconds", "1"]


def bench(root: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *SPEC["command"][1:], *args],
        cwd=root, capture_output=True, text=True, timeout=600,
    )


def result(*args: str) -> dict:
    p = bench(ROOT, *args)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def units(metrics: list[dict]) -> dict:
    return {m["name"]: m["unit"] for m in metrics}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(workload):
    r = result("--workload", workload, "--seed", "3", "--trace", "0", *TINY)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    got = {k: v["unit"] for k, v in r["metrics"].items()}
    assert got == units(SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_planted_miscount_is_caught():
    r = result(
        "--workload", WORKLOADS[0], "--seed", "3", "--trace", "0",
        "--plant-miscount", *TINY,
    )
    assert not r["correct"]
    assert r["failed"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_trace_metrics_and_census_repeat(workload):
    runs = [
        result("--workload", workload, "--seed", "3", "--trace", "1", *TINY)
        for _ in range(2)
    ]
    for r in runs:
        assert r["correct"]
        assert {k: v["unit"] for k, v in r["metrics"].items()} == units(SPEC["per_layer"])
    jobs = [r["metrics"]["pipeline.spark_jobs"]["value"] for r in runs]
    assert jobs[0] == jobs[1] > 0


def test_refuses_without_program():
    # a bare copy of the benchmark, inside the checkout's work dir
    tmp_path = Path(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(tmp_path, ignore_errors=True)
    tmp_path.mkdir(parents=True)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, p), tmp_path / p,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    p = bench(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
              "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
