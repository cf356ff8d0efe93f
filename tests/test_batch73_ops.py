"""Round-3 batch-73: item similarity, 2-hop neighborhoods."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import REGISTRY
from etl_pipeline_project_spark.sources.readers import load_table


def test_item_similarity_bounds(spark, sf_dir):
    rows = REGISTRY["q_item_similarity"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["part_a"] < r["part_b"]
        assert r["s_ab"] <= r["s_union"]
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["jaccard"] == r["s_ab"] / r["s_union"]


def test_two_hop_supersets_direct(spark, sf_dir):
    rows = REGISTRY["q_graph_2hop"](spark, sf_dir).collect()
    assert rows
    li = load_table(spark, sf_dir, "lineitem")
    n_parts = li.select("l_partkey").distinct().count()
    for r in rows:
        assert 1 <= r["n_1hop"] < n_parts
        # 2-hop set excludes self but is bounded by the part universe
        assert 1 <= r["n_2hop"] <= n_parts - 1
