"""Round-3 batch-66: vocab drift, debounce, hierarchical shares."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_debounce,
    q_vocab_drift,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_vocab_drift_ranked(spark, sf_dir):
    rows = q_vocab_drift(spark, sf_dir).collect()
    assert len(rows) == 30
    mags = [abs(r["drift_num"]) for r in rows]
    assert mags == sorted(mags, reverse=True)
    for r in rows:
        assert r["drift_den"] > 0
        assert r["n0"] + r["n1"] > 0


def test_debounce_partition_of_input(spark, sf_dir):
    rows = {r["event_type"]: r for r in q_debounce(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    totals = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for t, r in rows.items():
        assert r["n_kept"] + r["n_debounced"] == totals[t]
        assert r["n_kept"] >= 1


def test_hierarchical_share_identities(spark, sf_dir):
    rows = REGISTRY["q_hierarchical_share"](spark, sf_dir).collect()
    # shares within each region sum to 1
    by_region: dict[str, float] = {}
    for r in rows:
        by_region[r["r_name"]] = by_region.get(r["r_name"], 0.0) + r["share_of_region"]
        # multiplicative identity within float rounding
        assert abs(
            r["share_of_total"]
            - r["share_of_region"] * r["region_share_of_total"]
        ) < 1e-12
    for s in by_region.values():
        assert abs(s - 1.0) < 1e-9
    assert abs(sum(r["share_of_total"] for r in rows) - 1.0) < 1e-9


def test_model_score_partitions_points(spark, sf_dir):
    from etl_pipeline_project_spark.queries import q_model_score_broadcast

    r = q_model_score_broadcast(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    assert r["n_scored"] == ev.count()
    assert r["n_above_line"] + r["n_below_line"] + r["n_on_line"] == r["n_scored"]
    # a least-squares line splits points to both sides
    assert r["n_above_line"] > 0 and r["n_below_line"] > 0
    assert r["slope_den"] > 0
