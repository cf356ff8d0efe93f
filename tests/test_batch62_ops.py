"""Round-3 batch-62: unknown member, accumulating snapshot."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_accumulating_snapshot,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_unknown_member_reconciles(spark, sf_dir):
    rows = {r["segment"]: r for r in REGISTRY["q_unknown_member"](spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    # no fact row is lost: totals reconcile to the fact table
    assert sum(r["n_orders"] for r in rows.values()) == orders.count()
    assert "UNKNOWN" in rows
    assert rows["UNKNOWN"]["n_unknown"] == rows["UNKNOWN"]["n_orders"]
    # exactly the 1-in-7 missing members produce unknowns
    expected_unknown = orders.filter(F.col("o_custkey") % 7 == 0).count()
    assert rows["UNKNOWN"]["n_orders"] == expected_unknown
    for seg, r in rows.items():
        if seg != "UNKNOWN":
            assert r["n_unknown"] == 0


def test_accumulating_snapshot_milestones(spark, sf_dir):
    rows = q_accumulating_snapshot(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    assert len(rows) == ev.select("user_id").distinct().count()
    for r in rows:
        if r["signup_to_view_s"] is not None:
            assert r["signup_to_view_s"] > 0
        if r["click_to_purchase_s"] is not None:
            assert r["click_to_purchase_s"] > 0
    # the dense synthetic stream completes the funnel for most users
    complete = sum(1 for r in rows if r["funnel_complete"])
    assert complete > 0
