"""Round-4 batch-87: existence matrix, multi-measure pivot."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_pivot_multi_agg,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_existence_matrix_partitions_customers(spark, sf_dir):
    m = REGISTRY["q_join_existence_matrix"](spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    assert m.agg(F.sum("n_customers")).first()[0] == cust.count()
    # customers without orders can't have urgent/1998 flags set
    bad = m.filter(
        ~F.col("has_orders") & (F.col("has_urgent") | F.col("has_1998"))
    ).count()
    assert bad == 0


def test_pivot_multi_agg_reconciles(spark, sf_dir):
    p = q_pivot_multi_agg(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    assert p.agg(F.sum("urgent_n")).first()[0] == urgent.count()
    want_cents = urgent.agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
    ).first()[0]
    assert p.agg(F.sum("urgent_cents")).first()[0] == want_cents
