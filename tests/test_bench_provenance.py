"""``bench.py`` artifacts say which commit and CPU count produced them,
how many timed runs each key's median is over, and each key's fastest
run."""

from __future__ import annotations

import os
import subprocess

import bench


def test_provenance_names_commit_and_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    prov = bench._provenance()
    assert prov["cpus"] == "3"
    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=os.path.dirname(bench.__file__),
        capture_output=True, text=True,
    )
    if head.returncode == 0:
        assert prov["git_sha"] == head.stdout.strip()
        assert isinstance(prov["git_dirty"], bool)
    else:
        assert prov["git_sha"] is None and prov["git_dirty"] is None


def test_run_keys_counts_timed_runs(spark, sf_dir):
    timings, mins, n_runs, errors = bench._run_keys(spark, ["q_scan_table"], sf_dir)
    assert errors == {}
    assert set(timings) == {"q_scan_table"}
    assert set(mins) == {"q_scan_table"}
    assert 0 < mins["q_scan_table"] <= timings["q_scan_table"]
    # one timed run when the warm-up exceeded HEAVY_CUTOFF_S, else N_RUNS - 1
    assert set(n_runs) == {"q_scan_table"}
    assert n_runs["q_scan_table"] in (1, bench.N_RUNS - 1)
