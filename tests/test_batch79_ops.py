"""Round-3 batch-79: one-hot encoding, per-column checksums."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_column_checksums,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_onehot_rows_sum_to_counts(spark, sf_dir):
    rows = REGISTRY["q_onehot_encode"](spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    assert len(rows) == orders.select("o_custkey").distinct().count()
    for r in rows:
        cats = (
            r["n_urgent"] + r["n_high"] + r["n_medium"] + r["n_notspec"] + r["n_low"]
        )
        # indicators partition the orders: exactly one fires per row
        assert cats == r["n_orders"]


def test_column_checksums_localize_drift(spark, sf_dir):
    rows = {r["col"]: r for r in q_column_checksums(spark, sf_dir).collect()}
    assert set(rows) == {
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice_cents",
        "o_orderdate",
    }
    n = load_table(spark, sf_dir, "orders").count()
    for r in rows.values():
        assert r["n_nonnull"] == n
        # checksum crosses the wire as an exact decimal string
        assert int(r["checksum"]) > 0
    # different columns produce different fingerprints
    sums = [r["checksum"] for r in rows.values()]
    assert len(set(sums)) == len(sums)
