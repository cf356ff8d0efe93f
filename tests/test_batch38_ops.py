"""Round-3 batch-38: VARIANT, LATERAL, scalar subqueries, try-arith,
join hints, observed metrics."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_hint_suite,
    q_observe_metrics,
    q_variant_json,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_variant_json_matches_string_path(spark, sf_dir):
    out = {r["event_type"]: r for r in q_variant_json(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    truth = {
        r["event_type"]: r["s"]
        for r in ev.groupBy("event_type")
        .agg(F.sum(F.get_json_object("props", "$.k").cast("long")).alias("s"))
        .collect()
    }
    for t, r in out.items():
        assert r["sum_k"] == truth[t]
        assert r["min_k"] <= r["max_k"]


def test_lateral_topk_equals_window_topk(spark, sf_dir):
    out = REGISTRY["q_lateral_topk"](spark, sf_dir)
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_name")
    )
    ref = (
        cust.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "c_name", "c_acctbal")
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))


def test_scalar_subquery_bounds(spark, sf_dir):
    out = REGISTRY["q_scalar_subquery_corr"](spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    per_cust = {
        r["o_custkey"]: r["n"]
        for r in orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in out.collect():
        # strictly-above-average count is positive and below the total
        assert 0 < r["n_above_avg"] < per_cust[r["o_custkey"]]


def test_try_arith_null_accounting(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    div_nulls = ev.filter(F.col("user_id") % 3 == 0).count()
    overflow = ev.filter(F.col("event_id") >= 2).count()
    out = REGISTRY["q_try_arith"](spark, sf_dir)
    agg = out.agg(
        F.sum("n_div_null").alias("d"), F.sum("n_overflow").alias("o")
    ).first()
    assert agg["d"] == div_nulls
    assert agg["o"] == overflow


def test_hint_forces_sort_merge_join(spark, sf_dir):
    plan = q_hint_suite(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_observe_metrics_match_direct_aggregate(spark, sf_dir):
    r = q_observe_metrics(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events")
    assert r["n_rows"] == ev.count()
    assert (
        r["n_purchases"]
        == ev.filter(F.col("event_type") == "purchase").count()
    )
