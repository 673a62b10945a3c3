"""Smoke test of the benchmark at the smallest input scale.

    python3 -m pytest perfbench/test_smoke.py -q

Every workload in BENCHMARK.json must print every metric it names, with
its unit, in both modes, and pass its output checks; the curation
workload must print its own layers too; and without the engine's
sources next to it the benchmark must fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
            "--seconds", "1", "--trace", str(trace), "--scale", "0.001",
        ],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2, proc.stdout
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_named_metric_with_its_unit(workload, trace):
    out = result(run(workload, trace))
    want = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())


def test_curation_layers():
    sys.path.insert(0, HERE)
    from run import CURATE_LAYER

    out = result(run("curate_near_dedup", 1))
    for name, unit in CURATE_LAYER.items():
        assert out["metrics"][name]["unit"] == unit
    assert out["metrics"]["dedup.lsh_candidates"]["value"] > 0
    assert out["metrics"]["dedup.components_jobs"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    skip = shutil.ignore_patterns("_work", "__pycache__")
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=skip)
    proc = run(BENCH["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
