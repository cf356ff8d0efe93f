"""Round-3 batch-41: exact allocation, Benford audit, RFM segmentation,
association rules, survival risk table, duplicate-shingle coverage,
range-partition planning."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_alloc_largest_remainder,
    q_benford_digits,
    q_dup_ngram_coverage,
    q_partition_bounds,
    q_rfm_segments,
    q_survival_table,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_alloc_sums_to_budget_exactly(spark, sf_dir):
    rows = q_alloc_largest_remainder(spark, sf_dir).collect()
    # Hamilton apportionment: units sum to the budget with zero drift
    assert sum(r["alloc_units"] for r in rows) == 1_000_000
    # each nation's share is within one unit of the exact proportional quota
    tot = sum(r["cents"] for r in rows)
    for r in rows:
        exact = r["cents"] * 1_000_000 / tot
        assert abs(r["alloc_units"] - exact) < 1.0


def test_benford_counts_cover_all_orders(spark, sf_dir):
    out = q_benford_digits(spark, sf_dir).collect()
    digits = {r["leading_digit"] for r in out}
    assert digits <= set(range(1, 10))
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r["n"] for r in out) == n_orders
    assert abs(sum(r["frac"] for r in out) - 1.0) < 1e-12


def test_rfm_quintiles_partition_customers(spark, sf_dir):
    out = q_rfm_segments(spark, sf_dir).collect()
    for r in out:
        assert 1 <= r["r_q"] <= 5 and 1 <= r["f_q"] <= 5 and 1 <= r["m_q"] <= 5
    n_cust = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r["n_customers"] for r in out) == n_cust


def test_assoc_confidence_and_lift_bounds(spark, sf_dir):
    for r in REGISTRY["q_assoc_confidence"](spark, sf_dir).collect():
        assert r["part_a"] < r["part_b"]
        assert r["s_ab"] >= 3
        assert r["s_ab"] <= min(r["s_a"], r["s_b"])
        assert 0.0 < r["confidence"] <= 1.0
        assert r["lift"] > 0.0


def test_survival_table_monotone_risk_set(spark, sf_dir):
    rows = sorted(
        q_survival_table(spark, sf_dir).collect(), key=lambda r: r["duration_days"]
    )
    n_cust = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    # risk set at the smallest duration is every subject
    assert rows[0]["n_at_risk"] == n_cust
    # n_at_risk strictly decreases and always covers this row's exits
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_at_risk"] < prev["n_at_risk"]
        assert prev["n_at_risk"] - cur["n_at_risk"] == (
            prev["n_events"] + prev["n_censored"]
        )
    assert sum(r["n_events"] + r["n_censored"] for r in rows) == n_cust


def test_dup_ngram_coverage_fractions(spark, sf_dir):
    out = q_dup_ngram_coverage(spark, sf_dir)
    assert out.filter(
        (F.col("dup_frac") < 0) | (F.col("dup_frac") > 1)
    ).count() == 0
    # synthetic word-soup corpus: shared 3-grams exist across documents
    assert out.filter(F.col("n_dup_shingles") > 0).count() > 0
    docs_with_3_words = (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(F.split("text", " ")) >= 3)
        .count()
    )
    assert out.count() == docs_with_3_words


def test_partition_bounds_equi_depth(spark, sf_dir):
    rows = sorted(
        q_partition_bounds(spark, sf_dir).collect(), key=lambda r: r["partition_id"]
    )
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r["n_rows"] for r in rows) == n_orders
    assert [r["partition_id"] for r in rows] == list(range(1, len(rows) + 1))
    # boundaries are increasing; depth is balanced up to the largest tie group
    his = [r["hi_cents"] for r in rows]
    assert his == sorted(his)
    target = n_orders / 8
    for r in rows:
        assert r["n_rows"] < 2 * target + 1
