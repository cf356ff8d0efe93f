"""Round-4 batches 84-85: rate-spike alerting, skew report, session
census, audience overlap."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_event_rate_alert,
    q_session_census,
    q_skew_report,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_event_rate_alert_baseline_window(spark, sf_dir):
    x = q_event_rate_alert(spark, sf_dir)
    # total hourly counts reconcile to the event count
    ev = load_table(spark, sf_dir, "events")
    assert x.agg(F.sum("n")).first()[0] == ev.count()
    # a spike requires a non-empty baseline by definition
    assert x.filter(F.col("spike") & (F.col("base_n") == 0)).count() == 0
    # the baseline never looks ahead: base_sum of a type's first hour is 0
    firsts = x.groupBy("event_type").agg(F.min("hr").alias("hr"))
    j = x.join(firsts, ["event_type", "hr"])
    assert j.filter(F.col("base_n") != 0).count() == 0


def test_skew_report_internal_consistency(spark, sf_dir):
    r = q_skew_report(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events")
    assert r["n_rows"] == ev.count()
    assert r["n_keys"] == ev.select("user_id").distinct().count()
    assert r["top1_rows"] <= r["top10_rows"] <= r["n_rows"]
    assert r["skewed"] == (r["top1_rows"] * r["n_keys"] > 5 * r["n_rows"])


def test_session_census_reconciles_events(spark, sf_dir):
    c = q_session_census(spark, sf_dir)
    rows = c.collect()
    ev = load_table(spark, sf_dir, "events")
    # every event belongs to exactly one session; bands ≤ 10 carry exact
    # event counts, the 10+ band is a floor
    n_from_bands = sum(
        r["events_band"] * r["n_sessions"] for r in rows if r["events_band"] < 10
    )
    n_10plus_min = sum(
        10 * r["n_sessions"] for r in rows if r["events_band"] == 10
    )
    assert n_from_bands + n_10plus_min <= ev.count()
    assert all(r["max_duration_s"] * r["n_sessions"] >= 0 for r in rows)


def test_audience_overlap_bounds(spark, sf_dir):
    o = REGISTRY["q_audience_overlap"](spark, sf_dir)
    rows = o.collect()
    # 5 event types -> 10 unordered pairs
    assert len(rows) == 10
    for r in rows:
        assert 0 < r["n_both"] <= min(r["n_a"], r["n_b"])
        assert 0.0 < r["jaccard"] <= 1.0
        union = r["n_a"] + r["n_b"] - r["n_both"]
        assert abs(r["jaccard"] - r["n_both"] / union) < 1e-12
