"""Round-2 batch-25: TPC-H suite completion (Q6/Q8/Q13/Q15/Q17/Q19/Q22)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_sql_q13,
    q_sql_q15,
    q_sql_q22,
    q_sql_q8,
)


def test_q6_revenue_positive(spark, sf_dir):
    r = REGISTRY["q_sql_q6"](spark, sf_dir).first()
    assert r["n_lines"] > 0 and r["revenue"] > 0


def test_q8_share_bounded_per_year(spark, sf_dir):
    for r in q_sql_q8(spark, sf_dir).collect():
        assert 0.0 <= r["mkt_share"] <= 1.0
        assert r["nation_rev"] <= r["total_rev"]


def test_q13_distribution_covers_all_customers(spark, sf_dir):
    from etl_pipeline_project_spark.sources.readers import load_table

    out = q_sql_q13(spark, sf_dir)
    total = out.agg(F.sum("custdist").alias("t")).first()["t"]
    assert total == load_table(spark, sf_dir, "customer").count()


def test_q15_returns_the_max_only(spark, sf_dir):
    rows = q_sql_q15(spark, sf_dir).collect()
    assert len(rows) >= 1
    revs = {r["total_rev"] for r in rows}
    assert len(revs) == 1  # all ties at the max


def test_q17_subset_of_lineitem(spark, sf_dir):
    from etl_pipeline_project_spark.sources.readers import load_table

    r = REGISTRY["q_sql_q17"](spark, sf_dir).first()
    assert 0 < r["n_small"] <= load_table(spark, sf_dir, "lineitem").count()


def test_q22_idle_customers_have_no_recent_orders(spark, sf_dir):
    from etl_pipeline_project_spark.sources.readers import load_table

    out = q_sql_q22(spark, sf_dir)
    n = out.agg(F.sum("numcust").alias("n")).first()["n"] or 0
    direct = (
        load_table(spark, sf_dir, "customer")
        .join(
            load_table(spark, sf_dir, "orders")
            .where(F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp"))
            .select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .count()
    )
    # q22 additionally filters on balance, so it is a subset
    assert n <= direct
