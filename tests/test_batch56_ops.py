"""Round-3 batch-56: pre-agg before join, 4-4-5 fiscal calendar, dynamic
partition overwrite."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_dynamic_partition_overwrite,
    q_fiscal_445,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_preagg_equals_postagg(spark, sf_dir):
    out = {r["c_mktsegment"]: r for r in REGISTRY["q_preagg_before_join"](spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    direct = {
        r["c_mktsegment"]: r
        for r in orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert set(out) == set(direct)
    for k in out:
        assert out[k]["n_customers"] == direct[k]["n_customers"]
        assert out[k]["n_orders"] == direct[k]["n_orders"]
        assert out[k]["cents"] == direct[k]["cents"]


def test_fiscal_periods_valid(spark, sf_dir):
    rows = q_fiscal_445(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    assert sum(r["n_orders"] for r in rows) == orders.count()
    for r in rows:
        assert 1 <= r["fiscal_period"] <= 12
    # every represented fiscal year covers multiple periods
    years = {}
    for r in rows:
        years.setdefault(r["fiscal_year"], set()).add(r["fiscal_period"])
    full_years = [ps for y, ps in years.items() if len(ps) >= 10]
    assert full_years  # the 7-year span has complete fiscal years


def test_dynamic_overwrite_touches_only_1996(spark, sf_dir):
    rows = {r["yr"]: r for r in q_dynamic_partition_overwrite(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders").withColumn("yr", F.year("o_orderdate"))
    per_year = {r["yr"]: r["n"] for r in orders.groupBy("yr").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(rows) == set(per_year)
    for yr, r in rows.items():
        assert r["n_rows"] == per_year[yr]
        assert r["n_restated"] == (per_year[yr] if yr == 1996 else 0)
