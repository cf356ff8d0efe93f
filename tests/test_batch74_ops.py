"""Round-3 batch-74: composition shares, max concurrency."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_max_concurrency,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_composition_shares_sum_to_one_per_year(spark, sf_dir):
    rows = REGISTRY["q_composition_shares"](spark, sf_dir).collect()
    by_year: dict[int, float] = {}
    for r in rows:
        by_year[r["yr"]] = by_year.get(r["yr"], 0.0) + r["share"]
    for s in by_year.values():
        assert abs(s - 1.0) < 1e-9
    orders = load_table(spark, sf_dir, "orders")
    assert sum(r["n"] for r in rows) == orders.count()


def test_max_concurrency_sweep(spark, sf_dir):
    r = q_max_concurrency(spark, sf_dir).first()
    orders = load_table(spark, sf_dir, "orders")
    n_cust = orders.select("o_custkey").distinct().count()
    assert r["n_spans"] == n_cust
    # concurrency is bounded by the number of spans and positive
    assert 1 <= r["max_concurrent"] <= n_cust
    # customers order across the full range: nearly all spans overlap
    assert r["max_concurrent"] > n_cust // 2
    assert r["n_breakpoints"] <= 2 * n_cust
