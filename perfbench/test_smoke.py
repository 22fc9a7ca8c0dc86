"""Smoke test of the benchmark on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once with tracing off and once with it on, checks
that each metric ``BENCHMARK.json`` names is printed with its unit, that
a corrupted golden makes the run fail, and that the benchmark refuses to
run without the engine next to it. Takes a few minutes.
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
sys.path.insert(0, HERE)

import metrics  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None, proc


def test_spec_matches_code():
    assert [w["name"] for w in SPEC["workloads"]] == ["extract", "build_corpus", "corpus_query"]
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == {
        n: u for n, u, _ in metrics.END_TO_END}
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == {
        n: u for n, u, _ in metrics.PER_LAYER}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["extract", "build_corpus", "corpus_query"])
def test_every_metric_emitted(workload, trace):
    code, res, proc = bench("--workload", workload, "--smoke", "--seed", "0",
                            "--seconds", "1", "--trace", str(trace))
    assert code == 0, proc.stderr[-3000:]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_corrupted_golden_fails(tmp_path):
    with open(os.path.join(HERE, "goldens.json")) as f:
        goldens = json.load(f)
    goldens["smoke"]["extract"]["0"] = ["0:0"]
    bad = tmp_path / "goldens.json"
    bad.write_text(json.dumps(goldens))
    code, res, _ = bench("--workload", "extract", "--smoke", "--seed", "0",
                         "--seconds", "1", "--goldens", str(bad))
    assert code != 0
    assert res["correct"] is False and res["failed"] >= 1


def test_refuses_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _ = bench("--workload", "extract", "--seed", "0", "--seconds", "1",
                         cwd=str(tmp_path))
    assert code != 0 and res is None
