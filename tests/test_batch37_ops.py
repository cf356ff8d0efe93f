"""Round-3 batch-37: SAX symbolization, conversion-lag cohorts, FIFO
inventory costing."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_sax_symbolize,
    q_time_to_convert,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_sax_alphabet_and_lengths(spark, sf_dir):
    out = q_sax_symbolize(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    per_user = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in out.collect():
        assert len(r["sax"]) == r["n_points"] == per_user[r["user_id"]]
        assert set(r["sax"]) <= set("abcd")


def test_sax_quartiles_balanced(spark, sf_dir):
    # ntile(4) sizes differ by at most one within a series
    r = q_sax_symbolize(spark, sf_dir).first()
    from collections import Counter

    counts = Counter(r["sax"])
    assert max(counts.values()) - min(counts.values()) <= 1


def test_time_to_convert_invariants(spark, sf_dir):
    out = q_time_to_convert(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert r["n_converted"] > 0
        assert r["mean_delta_sec"] >= 0
        assert r["p50_delta_sec"] >= 0
        # median of a nonnegative distribution can't exceed 2x mean + 1
        # (loose sanity; exact equality is the oracle's job)
        assert r["p50_delta_sec"] <= 2 * r["mean_delta_sec"] + 1


def test_fifo_full_allocation(spark, sf_dir):
    # demand == supply (same rows), so every unit is allocated exactly once
    out = REGISTRY["q_inventory_fifo"](spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    total_qty = li.agg(F.sum(F.col("l_quantity").cast("long"))).first()[0]
    assert out.agg(F.sum("allocated_qty")).first()[0] == total_qty
    for r in out.collect():
        assert r["allocated_qty"] > 0
        assert r["fifo_cost_cents"] > 0
