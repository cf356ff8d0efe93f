"""Round-3 batch-58: collations, day-time intervals, str_to_map."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_interval_daytime,
    q_str_to_map,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_collation_collapses_case_variants(spark, sf_dir):
    rows = {r["seg_ci"]: r for r in REGISTRY["q_collation_group"](spark, sf_dir).collect()}
    cust = load_table(spark, sf_dir, "customer")
    segs = {r["c_mktsegment"].lower() for r in cust.select("c_mktsegment").distinct().collect()}
    assert set(rows) == segs
    assert sum(r["n"] for r in rows.values()) == cust.count()
    # both case variants (upper for even keys, lower for odd) were merged
    for r in rows.values():
        assert r["n_case_variants"] == 2


def test_interval_daytime_bounds(spark, sf_dir):
    r = q_interval_daytime(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events")
    assert r["n"] == ev.count()
    # next-hour gap in (0s, 1h]
    assert 0 < r["min_us_to_hour"] <= r["max_us_to_hour"] <= 3_600_000_000
    # constant 36h lookback verifies exactly
    assert r["lookback_us"] == 36 * 3600 * 1_000_000
    assert 0 <= r["n_deadline_next_day"] <= r["n"]


def test_str_to_map_roundtrip(spark, sf_dir):
    out = {r["event_type"]: r for r in q_str_to_map(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    direct = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .collect()
    }
    assert set(out) == set(direct)
    for k in out:
        assert out[k]["n"] == direct[k]["n"]
        assert out[k]["n_users"] == direct[k]["n_users"]
