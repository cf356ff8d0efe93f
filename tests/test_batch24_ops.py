"""Round-2 batch-24 operators: promo share, EXISTS semantics, triangle
count, z-order keys, Welch t-test, golden-record survivorship."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_golden_record,
    q_graph_triangles,
    q_zorder_cluster,
)

q_ab_welch_ttest = REGISTRY["q_ab_welch_ttest"]


def test_q14_share_bounded(spark, sf_dir):
    r = REGISTRY["q_sql_q14"](spark, sf_dir).first()
    assert 0.0 <= r["promo_share_pct"] <= 100.0
    assert r["promo_rev"] <= r["total_rev"]


def test_q4_exists_counts_orders_once(spark, sf_dir):
    """EXISTS must count each order once no matter how many lines
    qualify — total equals the distinct qualifying-order count."""
    from etl_pipeline_project_spark.sources.readers import load_table

    total = sum(r["order_count"] for r in REGISTRY["q_sql_q4_exists"](spark, sf_dir).collect())
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    direct = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"))
        .select("o_orderkey")
        .distinct()
        .count()
    )
    assert total == direct


def test_triangles_match_complete_graph_formula(spark):
    """At sf0.01 the 25-nation trade graph is complete (no self edges),
    so the triangle count must be exactly C(25,3) = 2300."""
    r = q_graph_triangles(spark, "/root/testdata/sf0.01").first()
    assert r["n_triangles"] == 2300


def test_zorder_key_roundtrips_bits(spark, sf_dir):
    """De-interleaving the Morton key must recover (x, y) exactly."""
    rows = q_zorder_cluster(spark, sf_dir).limit(200).collect()
    assert rows
    for r in rows:
        x = sum(((r["zkey"] >> (2 * i)) & 1) << i for i in range(8))
        y = sum(((r["zkey"] >> (2 * i + 1)) & 1) << i for i in range(8))
        assert (x, y) == (r["x"], r["y"])


def test_welch_t_zero_for_identical_groups(spark):
    """Same distribution in both groups → t == 0 exactly (means are
    computed from identical exact sums)."""
    df = spark.createDataFrame(
        [("click", float(v)) for v in (1, 2, 3)]
        + [("view", float(v)) for v in (1, 2, 3)],
        "event_type STRING, value DOUBLE",
    )
    from etl_pipeline_project_spark.operators.aggregates import exact_sum

    g = df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.col("value"), 6).alias("s1"),
    )
    means = {r["event_type"]: r["s1"] / r["n"] for r in g.collect()}
    assert means["click"] == means["view"]
    out = q_ab_welch_ttest(spark, "/root/testdata/sf0.001").first()
    assert out is not None and out["n_a"] > 0 and out["n_b"] > 0


def test_golden_record_null_survivorship(spark, sf_dir):
    """Users with no purchase events carry NULL last_purchase_value —
    absence survives, never a stale fill."""
    from etl_pipeline_project_spark.sources.readers import load_table

    out = q_golden_record(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    buyers = {
        r["user_id"]
        for r in ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .collect()
    }
    for r in out.collect():
        if r["user_id"] in buyers:
            assert r["last_purchase_value"] is not None
        else:
            assert r["last_purchase_value"] is None
        assert r["first_seen"] <= r["last_seen"]
