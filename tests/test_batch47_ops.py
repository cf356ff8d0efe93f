"""Round-3 batch-47: revenue bridge, ABC classes, tier migration,
inter-arrival cadence."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_interarrival_histogram,
    q_price_volume_bridge,
    q_segment_migration,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_bridge_reconciles_exactly(spark, sf_dir):
    rows = q_price_volume_bridge(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # the decomposition must sum to the revenue delta with zero drift
        assert (
            r["volume_effect_cents"] + r["price_effect_cents"]
            == r["r1_cents"] - r["r0_cents"]
        )
        assert r["q0"] > 0 and r["q1"] > 0


def test_abc_partition_and_shares(spark, sf_dir):
    rows = {r["abc_class"]: r for r in REGISTRY["q_abc_classes"](spark, sf_dir).collect()}
    assert set(rows) <= {"A", "B", "C"}
    li = load_table(spark, sf_dir, "lineitem")
    n_parts = li.select("l_partkey").distinct().count()
    assert sum(r["n_parts"] for r in rows.values()) == n_parts
    assert abs(sum(r["revenue_share"] for r in rows.values()) - 1.0) < 1e-9
    # Pareto shape: A holds more revenue per part than C
    if "A" in rows and "C" in rows:
        a, c = rows["A"], rows["C"]
        assert a["cents"] / a["n_parts"] > c["cents"] / c["n_parts"]


def test_migration_matrix_covers_both_year_actives(spark, sf_dir):
    rows = q_segment_migration(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate")
    )
    both = (
        orders.filter(F.col("yr") == 1995)
        .select("o_custkey")
        .distinct()
        .join(
            orders.filter(F.col("yr") == 1996).select("o_custkey").distinct(),
            "o_custkey",
        )
        .count()
    )
    assert sum(r["n_customers"] for r in rows) == both
    for r in rows:
        assert 1 <= r["tier_1995"] <= 3 and 1 <= r["tier_1996"] <= 3


def test_interarrival_buckets_cover_all_gaps(spark, sf_dir):
    rows = {r["gap_bucket"]: r for r in q_interarrival_histogram(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    n_orders = orders.count()
    n_cust = orders.select("o_custkey").distinct().count()
    # each customer contributes (its order count - 1) gaps
    assert sum(r["n_gaps"] for r in rows.values()) == n_orders - n_cust
    bounds = {"0-7": (0, 7), "8-30": (8, 30), "31-90": (31, 90), "91-365": (91, 365)}
    for b, (lo, hi) in bounds.items():
        if b in rows:
            assert rows[b]["min_gap"] >= lo and rows[b]["max_gap"] <= hi
    if "365+" in rows:
        assert rows["365+"]["min_gap"] >= 366
