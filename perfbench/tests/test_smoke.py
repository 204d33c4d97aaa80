"""Tiny-scale smoke of every workload through the real entry point, plus the
contract that a directory without the engine fails without a result.

Each case starts a Spark session, so the module takes a few minutes. Run it
from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
# run.main with the link workload shrunk to 60 conversations
TINY = """
import sys
sys.path.insert(0, 'perfbench')
import run, workloads
workloads.LinkBatch.n_convs = 60
sys.exit(run.main(sys.argv[1:]))
"""


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    """One run through ``run.main``; checks the result line and the stamp."""
    r = subprocess.run(
        [sys.executable, "-c", TINY, "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert r.returncode == 0
    lines = r.stdout.strip().splitlines()
    record, result = json.loads(lines[-2])["record"], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], record["problems"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert record["workload"] == workload and record["seed"] == 7
    assert record["scoring_path"] == "text_sim_java"
    return result


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_workload_reports_every_end_to_end_metric(workload):
    metrics = _run(workload, 0)["metrics"]
    assert set(metrics) == {m["name"] for m in _spec()["end_to_end"]}
    for m in _spec()["end_to_end"]:
        assert metrics[m["name"]]["unit"] == m["unit"]
        assert metrics[m["name"]]["value"] > 0
    # a run removes everything it wrote except the cached oracle hashes
    cache = os.path.join(ROOT, ".bench_build", "perfbench")
    assert [f for f in os.listdir(cache) if not f.startswith("oracle-")] == []


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_traced_run_reports_every_layer_metric(workload):
    metrics = _run(workload, 1)["metrics"]
    assert {n: m["unit"] for n, m in metrics.items()} == {
        m["name"]: m["unit"] for m in _spec()["per_layer"]}
    traced = [n[:-len(".wall_s")] for n, m in metrics.items()
              if n.endswith(".wall_s") and m["value"] > 0]
    assert traced
    for layer in traced:
        assert metrics[f"{layer}.tasks"]["value"] > 0
        if f"{layer}.driver_s" in metrics:
            assert metrics[f"{layer}.wall_s"]["value"] >= metrics[f"{layer}.driver_s"]["value"]


def test_without_the_engine_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "link_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
