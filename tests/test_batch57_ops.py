"""Round-3 batch-57: smoothed rates, nested pruning, entity sampling."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_entity_sample,
    q_nested_schema_pruning,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_smoothing_pulls_toward_prior(spark, sf_dir):
    for r in REGISTRY["q_rate_smoothed"](spark, sf_dir).collect():
        prior = 1 / 20
        raw, sm = r["raw_rate"], r["smoothed_rate"]
        # smoothed lies between the raw rate and the prior mean
        assert min(raw, prior) - 1e-12 <= sm <= max(raw, prior) + 1e-12
        assert r["n_purchases"] <= r["n_events"]


def test_nested_pruning_reads_two_leaves(spark, sf_dir):
    df = q_nested_schema_pruning(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: (struct<profile:[^\n]*)", plan)
    assert m, plan[:500]
    schema = m.group(1)
    # only the two touched leaves survive; payload fields are pruned
    assert "nation" in schema and "balance" in schema
    assert "payload" not in schema and "segment" not in schema
    # values reconcile with the flat table
    cust = load_table(spark, sf_dir, "customer")
    total = sum(r["n_customers"] for r in df.collect())
    assert total == cust.count()


def test_entity_sample_keeps_complete_histories(spark, sf_dir):
    r = q_entity_sample(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events")
    draw = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 2),
            16,
            10,
        ).cast("int")
        % 10
        == 0
    )
    kept_users = ev.filter(draw).select("user_id").distinct()
    # every kept user's FULL event history is present
    expected_events = ev.join(kept_users, "user_id").count()
    assert r["n_events_kept"] == expected_events
    assert r["n_users_kept"] == kept_users.count()
    assert 0 < r["n_users_kept"] < r["n_users_total"]
