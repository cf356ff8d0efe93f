"""Round-3 batch-78: decayed frequency, decile spread."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import REGISTRY, q_decayed_frequency
from etl_pipeline_project_spark.sources.readers import load_table


def test_decayed_score_bounds(spark, sf_dir):
    rows = q_decayed_frequency(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    assert len(rows) == ev.select("user_id").distinct().count()
    for r in rows:
        # each event weighs at most 2^20 and at least 0
        assert 0 <= r["decayed_score_fp"] <= r["n_events"] * 1_048_576
        assert r["decayed_score_fp"] > 0  # the corpus spans < 20 weeks


def test_decile_spread_order(spark, sf_dir):
    rows = REGISTRY["q_decile_spread"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["p10_cents"] <= r["p90_cents"]
        assert r["spread_ratio"] >= 1.0
        assert r["spread_ratio"] == r["p90_cents"] / r["p10_cents"]
