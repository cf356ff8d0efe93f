"""Smoke self-test of the benchmark at a tiny input scale (sf 0.001).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Run from the repository root. Each case starts the benchmark as a
subprocess, the way a user runs it, so one case takes about a minute.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = [w["name"] for w in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["workloads"]]


def _run(workload: str, *extra: str) -> tuple[int, dict, dict]:
    """Exit code, result line and run record of one tiny run."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--sf", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    record = next(json.loads(line.split(" ", 2)[2]) for line in p.stderr.splitlines()
                  if line.startswith("perfbench: run "))
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1]), record


@pytest.fixture(scope="module", params=WORKLOADS)
def runs(request):
    w = request.param
    return {"plain": _run(w, "--trace", "0"), "traced": _run(w, "--trace", "1")}


def test_end_to_end_metrics_named_with_units(runs):
    code, result, _ = runs["plain"]
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_per_layer_metrics_named_with_units(runs):
    code, result, _ = runs["traced"]
    assert code == 0 and result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == PER_LAYER


def test_traced_run_writes_its_spans(runs):
    spans = runs["traced"][2]["spans"]
    assert spans and all(s["end"] >= s["start"] for s in spans)
    assert "spans" not in runs["plain"][2]


def test_traced_and_untraced_outputs_identical(runs):
    assert runs["plain"][2]["output_digest"] == runs["traced"][2]["output_digest"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_injected_failure_counts(workload):
    code, result, _ = _run(workload, "--trace", "1", "--inject-failure")
    assert code != 0 and not result["correct"]
    assert result["failed"] >= 2  # one op in each of at least two timed passes
    assert result["metrics"]["fail_ratio"]["value"] == result["failed"] / result["attempted"]
