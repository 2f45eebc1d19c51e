"""Self-test of the benchmark: every workload on tiny inputs, untraced
and traced, through the same command the benchmark is run with.

    python -m pytest perfbench/tests -q      # from the repository root, ~8 min
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORKLOADS = ("backfill_commit", "pit_features", "corpus_dedup_prep")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, seed: int = 1) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return {"result": json.loads(lines[-1]), "context": json.loads(lines[-2])}


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_reports_every_metric_and_verifies(workload, trace):
    out = _run(workload, trace)
    res = out["result"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, out["context"]["failed_ops"]
    expected = _spec()["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    assert set(got) == {m["name"] for m in expected}
    for m in expected:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
    if not trace:
        assert got["ok_ops_ratio"]["value"] == 1.0
        assert got["setup_s"]["value"] > 0 and got["job_s"]["value"] > 0


def test_jobs_per_bucket_repeats_exactly():
    """The Spark job count of one run_bucket is a property of the plans
    layer, so it must read the same on every run; the value is recorded,
    not assumed (AQE may add jobs to the four per-bucket actions)."""
    counts = {
        _run("backfill_commit", 1, seed)["result"]["metrics"]["plans.jobs_per_bucket"]["value"]
        for seed in (1, 2)
    }
    assert len(counts) == 1, counts
    assert counts.pop() >= 4


def test_refuses_to_run_outside_a_checkout(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill_commit", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
