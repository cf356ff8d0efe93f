"""Round-3 batch-51: INTERSECT ALL, linear attribution, seasonality
index, feature assembly."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_attribution_linear,
    q_feature_assembly,
    q_seasonality_index,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_intersect_all_min_multiplicity(spark, sf_dir):
    out = (
        REGISTRY["q_set_intersect_all"](spark, sf_dir)
        .groupBy("nationkey")
        .count()
        .collect()
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c = {r["c_nationkey"]: r["count"] for r in cust.groupBy("c_nationkey").count().collect()}
    s = {r["s_nationkey"]: r["count"] for r in supp.groupBy("s_nationkey").count().collect()}
    for r in out:
        assert r["count"] == min(c[r["nationkey"]], s[r["nationkey"]])


def test_linear_attribution_conserves_revenue(spark, sf_dir):
    rows = q_attribution_linear(spark, sf_dir).collect()
    assert {r["event_type"] for r in rows} <= {"click", "view"}
    ev = load_table(spark, sf_dir, "events")
    # total attributed == total revenue of purchases that HAVE >=1 touch
    p = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", F.col("ts").alias("tts")
    )
    touched = (
        p.join(
            t,
            (F.col("pu") == F.col("user_id"))
            & (F.col("tts") <= F.col("pts"))
            & (F.unix_micros("pts") - F.unix_micros("tts") <= 86400000000),
            "left_semi",
        )
        .agg(F.sum("cents"))
        .first()[0]
    )
    assert sum(r["attributed_cents"] for r in rows) == touched


def test_seasonality_index_centers_on_one(spark, sf_dir):
    rows = q_seasonality_index(spark, sf_dir).collect()
    assert len(rows) == 7
    total_n = sum(r["n_orders"] for r in rows)
    # weighted mean of the index is exactly 1 by construction
    weighted = sum(r["seasonality_index"] * r["n_orders"] for r in rows) / total_n
    assert abs(weighted - 1.0) < 1e-9


def test_feature_assembly_invariants(spark, sf_dir):
    rows = q_feature_assembly(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    assert len(rows) == orders.select("o_custkey").distinct().count()
    for r in rows:
        assert r["recency_days"] >= 0
        assert r["tenure_days"] >= 0
        assert 1 <= r["n_active_years"]
        assert r["n_recent_orders"] <= r["frequency"]
        assert r["monetary_cents"] > 0
