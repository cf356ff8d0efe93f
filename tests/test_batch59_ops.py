"""Round-3 batch-59: negative sampling, monotonic ids, dedup policies."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_dedup_policy_matrix,
    q_negative_sampling,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_negative_sampling_shape_and_integrity(spark, sf_dir):
    r = q_negative_sampling(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events")
    n_pos = ev.filter(F.col("event_type") == "purchase").count()
    assert r["n_positives"] == n_pos
    assert r["n_pairs"] == 2 * n_pos
    # dense part-key range: every drawn negative must resolve
    assert r["n_dangling"] == 0
    assert r["n_distinct_negs"] > 1


def test_negative_sampling_deterministic(spark, sf_dir):
    a = q_negative_sampling(spark, sf_dir).first()
    b = q_negative_sampling(spark, sf_dir).first()
    assert a == b


def test_monotonic_ids_unique(spark, sf_dir):
    r = REGISTRY["q_monotonic_ids"](spark, sf_dir).first()
    assert r["ids_unique"]
    assert r["n_rows"] == load_table(spark, sf_dir, "orders").count()


def test_dedup_policies_disagree_on_multirow_keys(spark, sf_dir):
    r = q_dedup_policy_matrix(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events")
    n_keys = ev.select("user_id", "event_type").distinct().count()
    assert r["n_keys"] == n_keys
    singletons = (
        ev.groupBy("user_id", "event_type")
        .count()
        .filter(F.col("count") == 1)
        .count()
    )
    # keep-first and keep-last agree exactly on singleton keys
    assert singletons <= r["n_first_eq_last"] <= n_keys
    # with many rows per key, the policies cannot all coincide everywhere
    assert r["n_first_eq_last"] < n_keys
    assert r["n_first_eq_best"] < n_keys
