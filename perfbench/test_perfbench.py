"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py

The smoke tests run every workload end to end on tiny inputs (sf0.001, a
few hundred raw records), with tracing off and on, and check that the
printed metrics are exactly those ``BENCHMARK.json`` declares.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen_arxiv, gen_tables  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("write", [
    lambda d, seed: gen_tables.write_sf_tables(d, seed, 0.001),
    lambda d, seed: gen_tables.write_corpus(d, seed, 200, 100, 2),
    lambda d, seed: gen_arxiv.write_arxiv_raw(f"{d}/raw.jsonl", 200, seed),
], ids=["sf_tables", "corpus", "arxiv_raw"])
def test_generators_are_deterministic_per_seed(tmp_path, write):
    runs = {}
    for label, seed in [("a", 7), ("b", 7), ("c", 8)]:
        d = tmp_path / label
        d.mkdir()
        write(str(d), seed)
        runs[label] = _digest(str(d))
    assert runs["a"] == runs["b"]
    assert runs["a"] != runs["c"]


def test_benchmark_json_names_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == WORKLOADS


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_pass_is_correct_and_prints_declared_metrics(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    without printing a result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
