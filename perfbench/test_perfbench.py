"""Self-test of the benchmark at toy sizes (about five minutes on four
cores; each case starts its own Spark):

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that every metric BENCHMARK.json names is emitted, that a clean
run counts no failed op, that a deliberately corrupted output counts
as a failed op, that the generators are deterministic, and that the
command fails without printing a result when the package is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


WORKLOADS = [w["name"] for w in _bench()["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_end_to_end_metrics(workload, tmp_path):
    res = _result(_run(str(tmp_path), "--workload", workload, "--seed", "3",
                       "--seconds", "1", "--trace", "0", "--toy"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    names = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == names
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_corrupted_run_counts_a_failed_op(workload, tmp_path):
    res = _result(_run(str(tmp_path), "--workload", workload, "--seed", "3",
                       "--seconds", "1", "--trace", "1", "--toy",
                       "--corrupt"))
    names = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == names
    assert res["failed"] >= 1 and not res["correct"]
    assert res["metrics"]["trace.overhead_ratio"]["value"] >= 1


def test_generators_are_deterministic(tmp_path):
    for workload in gen.GENERATORS:
        a, b = tmp_path / f"{workload}-a", tmp_path / f"{workload}-b"
        gen.generate(workload, 5, str(a), toy=True)
        gen.generate(workload, 5, str(b), toy=True)
        for name in sorted(os.listdir(a)):
            if name.endswith(".parquet"):
                assert pq.read_table(a / name).equals(
                    pq.read_table(b / name)), name
            else:
                assert (a / name).read_bytes() == (b / name).read_bytes()


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
