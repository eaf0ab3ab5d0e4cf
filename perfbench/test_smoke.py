"""Smoke test: every workload at a tiny size, in both modes.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that each run passes its own correctness checks, that it prints
every metric ``BENCHMARK.json`` names with its unit, and that without
the engine next to it the benchmark fails without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _bench(cwd: str, workload: str, trace: int):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_spec_matches_run_tables():
    assert [w["name"] for w in SPEC["workloads"]] == [
        "event_replay", "past_to_live"]
    assert {m["name"]: (m["unit"], m["better"])
            for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"])
            for m in SPEC["per_layer"]} == run.PER_LAYER
    assert max(m["bound"] for m in SPEC["end_to_end"]) == next(
        m["bound"] for m in SPEC["end_to_end"] if m["name"] == "setup_s")


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run(workload, trace):
    p = _bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, p.stderr[-3000:]
    assert res["attempted"] >= 1
    want = dict(run.PER_LAYER if trace else run.END_TO_END)
    if trace and workload == "curation_lake":
        want.update(run.CURATION_LAYER)
    assert {k: m["unit"] for k, m in res["metrics"].items()} == {
        k: u for k, (u, _) in want.items()}
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_fails_without_engine():
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero and prints no result."""
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _bench(bare, "event_replay", 0)
        assert p.returncode != 0
        assert '"correct"' not in p.stdout
    finally:
        shutil.rmtree(bare)
