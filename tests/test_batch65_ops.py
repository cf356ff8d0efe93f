"""Round-3 batch-65: empty relation, UNION DISTINCT, inline dims,
try_cast matrix."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    _try_cast_bigint_sql,
    q_empty_relation,
    q_inline_dim_join,
    q_try_cast_matrix,
    q_union_distinct,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_empty_relation_schema_survives(spark, sf_dir):
    df = q_empty_relation(spark, sf_dir)
    assert df.count() == 0
    assert df.columns == ["o_orderpriority", "n"]
    # the contradiction folds the plan to an empty local relation: no scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan


def test_union_distinct_is_distinct(spark, sf_dir):
    out = q_union_distinct(spark, sf_dir)
    assert out.count() == out.distinct().count()
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    expect = {r["c_nationkey"] for r in cust.select("c_nationkey").distinct().collect()} | {
        r["s_nationkey"] for r in supp.select("s_nationkey").distinct().collect()
    }
    assert {r["nationkey"] for r in out.collect()} == expect


def test_inline_dim_covers_domain(spark, sf_dir):
    rows = q_inline_dim_join(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    # policy map covers every priority: counts reconcile to the fact table
    assert sum(r["n_orders"] for r in rows) == orders.count()
    assert all(r["n_priorities"] == 1 for r in rows)


def test_try_cast_degradation_counts(spark, sf_dir):
    r = q_try_cast_matrix(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events")
    assert r["n"] == ev.count()
    # every props JSON carries an integer k; no event_type is numeric
    assert r["n_k_parsed"] == r["n"]
    assert r["n_type_parsed"] == 0
    assert r["n_date_parsed"] == r["n"]


def test_try_cast_guard_equals_try_cast_on_adversarial_strings(spark):
    """The exception-free guard must give exactly try_cast's answer,
    including DEL (0x7F), which the cast trims like other controls."""
    battery = [
        "123", " 123 ", "+7", "-7", "", " ", "+", "-", "abc", "12a", "1 2",
        "\t42\n", "\x0042\x1f", "123\x7f", "\x7f123", "\x7f-5\x7f", "\x7f",
        "1\x7f2", "\x80123", "123\u00a0", "\u0661\u0662", "9223372036854775807",
        "9223372036854775808", "-9223372036854775808", "00000000000000000001",
        "1e3", "1.0", "0x10", None,
    ]
    df = spark.createDataFrame([(s,) for s in battery], "s string")
    rows = df.select(
        "s",
        F.expr(_try_cast_bigint_sql("s")).alias("guard"),
        F.expr("try_cast(s AS BIGINT)").alias("try_cast"),
    ).collect()
    assert [(r["s"], r["guard"]) for r in rows] == [(r["s"], r["try_cast"]) for r in rows]
    assert {r["s"]: r["guard"] for r in rows}["123\x7f"] == 123
