"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest kgbench -q

The smoke tests run every workload on tiny inputs (about half a minute
each); the metric names and units they print must be those declared in
BENCHMARK.json.
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
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def bench(*args: str, cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run([sys.executable, os.path.join("kgbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=300)
    return p.returncode, p.stdout


def result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_declared_metrics_match_the_code():
    import probes

    assert BENCH["command"] == ["python3", "kgbench/run.py"]
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == probes.PER_LAYER


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_prints_every_metric(workload, trace):
    code, out = bench("--workload", workload, "--seed", "5", "--seconds", "1",
                      "--trace", trace, "--size", "tiny")
    assert code == 0
    res = result(out)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    declared = BENCH["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in declared}
    for m in declared:     # the table above the JSON line names each one
        assert f"  {m['name']} " in out
    assert "failed_frac" in out
    if trace == "1":
        # the layer spans directly under an iteration cover its wall
        assert res["metrics"]["trace.coverage"]["value"] >= 0.95


@pytest.mark.parametrize("workload", ["wide_fact", "near_dup"])
def test_corrupted_output_counts_as_failed(workload):
    code, out = bench("--workload", workload, "--seed", "5", "--seconds", "1",
                      "--trace", "0", "--size", "tiny", "--corrupt")
    assert code == 0
    res = result(out)
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    code, out = bench("--workload", "wide_fact", "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=str(tmp_path))
    assert code != 0
    assert '"metrics"' not in out
