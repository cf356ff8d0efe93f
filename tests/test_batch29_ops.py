"""Round-3 batch-29: Bollinger bands, classifier eval metrics, NDCG."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_eval_metrics,
    q_ndcg_bm25,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_bollinger_only_full_windows(spark, sf_dir):
    out = REGISTRY["q_bollinger_bands"](spark, sf_dir)
    assert out.filter(F.col("n") != 20).count() == 0
    # breaches are rare by construction (2-sigma): under a third of rows
    total = out.count()
    if total:
        assert out.filter(F.col("breach")).count() < total / 3


def test_bollinger_row_count_matches_window_arithmetic(spark, sf_dir):
    out = REGISTRY["q_bollinger_bands"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    expected = per_user.select(
        F.sum(F.greatest(F.col("n") - 19, F.lit(0))).alias("t")
    ).first()["t"]
    assert out.count() == expected


def test_eval_metrics_counts_consistent(spark, sf_dir):
    rows = q_eval_metrics(spark, sf_dir).collect()
    n_queries = (
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100).count()
    )
    # every query contributes exactly once as tp or fn of its true class
    assert sum(r["tp"] + r["fn"] for r in rows) == n_queries
    for r in rows:
        if r["precision_ppm"] is not None:
            assert 0 <= r["precision_ppm"] <= 1_000_000
        assert 0 <= r["recall_ppm"] <= 1_000_000


def test_ndcg_bounded(spark, sf_dir):
    r = q_ndcg_bm25(spark, sf_dir).first()
    assert 0 < r["n_ranked"] <= 10
    assert r["dcg"] <= r["idcg"]
    assert 0.0 <= r["ndcg_10"] <= 1.0
