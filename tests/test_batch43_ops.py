"""Round-3 batch-43: ordered string agg, log2 histogram, seasonal
anomalies, PERMISSIVE ingestion, complete-mode streaming."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_scan_csv_permissive,
    q_seasonal_residual,
    q_stream_complete_agg,
    q_string_agg_ordered,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_string_agg_is_sorted_and_deterministic(spark, sf_dir):
    rows = {r["n_name"]: r for r in q_string_agg_ordered(spark, sf_dir).collect()}
    for r in rows.values():
        parts = r["segments"].split("|")
        assert parts == sorted(parts)
        assert len(parts) == r["n_customers"]
    again = {r["n_name"]: r["segments"] for r in q_string_agg_ordered(spark, sf_dir).collect()}
    assert again == {k: r["segments"] for k, r in rows.items()}


def test_log2_histogram_bucket_ranges(spark, sf_dir):
    rows = REGISTRY["q_log2_histogram"](spark, sf_dir).collect()
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r["n"] for r in rows) == n_orders
    for r in rows:
        b = r["log2_bucket"]
        # bucket b holds exactly the values in [2^b, 2^(b+1))
        assert 2**b <= r["lo_cents"] <= r["hi_cents"] < 2 ** (b + 1)


def test_seasonal_residual_covers_grid(spark, sf_dir):
    rows = q_seasonal_residual(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert 1 <= r["dow"] <= 7 and 0 <= r["hod"] <= 23
        assert r["n_anomalies"] <= r["n_events"]


def test_csv_permissive_quarantines_not_drops(spark, sf_dir):
    r = q_scan_csv_permissive(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    assert r["n_good"] == ev.count()
    assert r["n_corrupt"] == 5
    direct = ev.agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("c")
    ).first()["c"]
    assert r["value_cents"] == direct


def test_stream_complete_equals_batch(spark, sf_dir):
    out = {r["event_type"]: r["n_events"] for r in q_stream_complete_agg(spark, sf_dir).collect()}
    batch = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out == batch
