"""Round-3 batch-71: group-vs-rest, freshness audit."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_freshness_audit,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_group_vs_rest_signs_consistent(spark, sf_dir):
    rows = REGISTRY["q_group_vs_rest"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["diff_den"] > 0
        if r["vs_rest"] == "above_rest":
            assert r["diff_num"] > 0
        elif r["vs_rest"] == "below_rest":
            assert r["diff_num"] < 0
        else:
            assert r["diff_num"] == 0
    # not every group can beat the rest of the population
    verdicts = {r["vs_rest"] for r in rows}
    assert "above_rest" in verdicts and "below_rest" in verdicts


def test_freshness_flags_latest(spark, sf_dir):
    rows = {r["tbl"]: r for r in q_freshness_audit(spark, sf_dir).collect()}
    assert set(rows) == {"orders", "lineitem", "events"}
    # events is the 2024 table; the TPC-H dates end in 2001
    assert rows["events"]["is_freshest"]
    assert not rows["orders"]["is_freshest"]
    ev = load_table(spark, sf_dir, "events")
    assert rows["events"]["n_rows"] == ev.count()
