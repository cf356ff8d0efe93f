"""Round-3 batch-53: bucketed agg, salted agg, DPP, checkpoint resume."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_agg_bucketed,
    q_join_dpp,
    q_stream_checkpoint_resume,
)
from etl_pipeline_project_spark.sources.readers import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_agg_zero_exchange_before_keyed_agg(spark, sf_dir):
    df = q_agg_bucketed(spark, sf_dir)
    plan = _plan(df)
    # only the tiny histogram rollup shuffles; the keyed agg reads buckets
    assert len(re.findall(r"Exchange hashpartitioning\(l_orderkey", plan)) == 0
    li = load_table(spark, sf_dir, "lineitem")
    out = {r["n_lines"]: r["n_orders"] for r in df.collect()}
    assert sum(k * v for k, v in out.items()) == li.count()


def test_salted_agg_equals_direct(spark, sf_dir):
    out = {r["event_type"]: r for r in REGISTRY["q_agg_salted_skew"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    direct = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert set(out) == set(direct)
    for k in out:
        assert out[k]["n"] == direct[k]["n"]
        assert out[k]["cents"] == direct[k]["cents"]


def test_dpp_prunes_partitions(spark, sf_dir):
    df = q_join_dpp(spark, sf_dir)
    plan = _plan(df)
    assert "dynamicpruning" in plan.lower()
    rows = {r["yr"]: r["n_orders"] for r in df.collect()}
    assert set(rows) == {1996, 1999}
    orders = load_table(spark, sf_dir, "orders")
    for yr, n in rows.items():
        assert n == orders.filter(F.year("o_orderdate") == yr).count()


def test_checkpoint_resume_exactly_once(spark, sf_dir):
    out = q_stream_checkpoint_resume(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    assert out.count() == ev.count()
    # exactly once: no event_id appears twice
    assert out.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0
    # re-invocation adds nothing (third availableNow run inside the query)
    again = q_stream_checkpoint_resume(spark, sf_dir)
    assert again.count() == ev.count()
