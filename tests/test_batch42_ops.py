"""Round-3 batch-42: KMV sketch, union-by-name, l-diversity, text
round-trip, LTV cohort curves."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_kmv_distinct,
    q_scan_text_roundtrip,
    q_union_by_name,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_kmv_estimate_within_tolerance(spark, sf_dir):
    r = q_kmv_distinct(spark, sf_dir).first()
    assert r["k"] == min(256, r["exact_distinct"])
    assert len(r["kth_hash"]) == 32
    if r["k"] < 256:
        # under-full sketch degrades to the exact count
        assert r["est_distinct"] == r["exact_distinct"]
    else:
        # KMV relative standard error ~ 1/sqrt(k-2) ≈ 6.3%; allow 4 sigma
        rel_err = abs(r["est_distinct"] - r["exact_distinct"]) / r["exact_distinct"]
        assert rel_err < 0.25


def test_kmv_deterministic(spark, sf_dir):
    a = q_kmv_distinct(spark, sf_dir).first()
    b = q_kmv_distinct(spark, sf_dir).first()
    assert a["kth_hash"] == b["kth_hash"]
    assert a["est_distinct"] == b["est_distinct"]


def test_union_by_name_null_fill(spark, sf_dir):
    out = q_union_by_name(spark, sf_dir)
    assert set(out.columns) == {"o_orderkey", "o_totalprice", "src", "o_orderdate"}
    amounts = out.filter(F.col("src") == "amount")
    dates = out.filter(F.col("src") == "dates")
    assert amounts.filter(F.col("o_orderdate").isNotNull()).count() == 0
    assert amounts.filter(F.col("o_totalprice").isNull()).count() == 0
    assert dates.filter(F.col("o_totalprice").isNotNull()).count() == 0
    assert dates.filter(F.col("o_orderdate").isNull()).count() == 0


def test_l_diversity_bounds(spark, sf_dir):
    out = REGISTRY["q_l_diversity"](spark, sf_dir).collect()
    # priority domain has 5 values; l_distinct within [1, 5]
    for r in out:
        assert 1 <= r["l_distinct"] <= 5
        assert r["is_l_diverse"] == (r["l_distinct"] >= 3)
        assert r["l_distinct"] <= r["n_orders"]


def test_text_roundtrip_matches_source(spark, sf_dir):
    out = {r["source"]: r for r in q_scan_text_roundtrip(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    direct = {
        r["source"]: r
        for r in docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("sum_chars"),
        )
        .collect()
    }
    assert set(out) == set(direct)
    for s, r in out.items():
        assert r["n_docs"] == direct[s]["n_docs"]
        assert r["sum_chars"] == direct[s]["sum_chars"]
        assert r["n_ids"] == direct[s]["n_docs"]


def test_ltv_curve_monotone_per_cohort(spark, sf_dir):
    rows = REGISTRY["q_ltv_cohort_curve"](spark, sf_dir).collect()
    by_cohort: dict[int, list] = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_m"], []).append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r["month_idx"])
        # month 0 always exists (the acquisition month itself)
        assert rs[0]["month_idx"] == 0
        cum = [r["cum_cents"] for r in rs]
        assert cum == sorted(cum)
        assert all(c > 0 for c in cum)
