"""Round-2 batch-22 operators: TPC-H classics, basket mining, exact
moments, k-anonymity, deterministic hash split, JSON staging."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_hash_split,
    q_scan_json_roundtrip,
)


def test_q1_sums_are_consistent(spark, sf_dir):
    """avg_qty must equal sum_qty / count_order exactly (it is computed
    that way — a final division of exact sums, not a running mean)."""
    rows = REGISTRY["q_sql_q1"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["avg_qty"] == r["sum_qty"] / r["count_order"]
        assert r["sum_base_price"] >= r["sum_disc_price"]


def test_q3_topk_is_sorted_and_bounded(spark, sf_dir):
    rows = REGISTRY["q_sql_q3"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_q18_threshold_holds(spark, sf_dir):
    rows = REGISTRY["q_sql_q18"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["sum_qty"] > 250 for r in rows)


def test_market_basket_pairs_ordered_with_support(spark, sf_dir):
    rows = REGISTRY["q_market_basket"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["p1"] < r["p2"] and r["n_orders"] >= 2 for r in rows)


def test_moments_match_numpy_exact(spark, sf_dir):
    """Skew/kurtosis from integer power sums must equal the direct
    two-pass numpy computation to double precision."""
    import numpy as np

    from etl_pipeline_project_spark.sources.readers import load_table

    out = {r["l_returnflag"]: r for r in REGISTRY["q_moments_skew_kurt"](spark, sf_dir).collect()}
    pdf = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity")
        .toPandas()
    )
    for flag, grp in pdf.groupby("l_returnflag"):
        q = grp["l_quantity"].to_numpy()
        m2 = ((q - q.mean()) ** 2).mean()
        skew = ((q - q.mean()) ** 3).mean() / m2**1.5
        r = out[flag]
        assert abs(r["variance"] - m2) < 1e-6 * max(1.0, m2)
        assert abs(r["skewness"] - skew) < 1e-6


def test_k_anonymize_conserves_rows(spark, sf_dir):
    from etl_pipeline_project_spark.sources.readers import load_table

    total = load_table(spark, sf_dir, "customer").count()
    agg = REGISTRY["q_k_anonymize"](spark, sf_dir).agg(
        F.sum(F.col("released_rows") + F.col("suppressed_rows")).alias("t")
    ).first()
    assert agg["t"] == total


def test_hash_split_matches_python_md5(spark, sf_dir):
    """The split assignment is pinned to md5(doc_id) — recompute one
    bucket in pure Python and check membership is identical."""
    from etl_pipeline_project_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(50).collect()
    expected = {"train": 0, "val": 0, "test": 0}
    for r in docs:
        b = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16) % 100
        expected["train" if b < 80 else "val" if b < 90 else "test"] += 1
    out = {r["split"]: r["n_docs"] for r in q_hash_split(spark, sf_dir).collect()}
    full = sum(out.values())
    assert full == load_table(spark, sf_dir, "documents").count()
    # the 50-doc sample must be consistent with an 80/10/10-ish split
    assert expected["train"] >= expected["val"] and expected["train"] >= expected["test"]


def test_json_roundtrip_lossless(spark, sf_dir):
    from etl_pipeline_project_spark.sources.readers import load_table

    out = q_scan_json_roundtrip(spark, sf_dir)
    n = out.agg(F.sum("n_docs").alias("n")).first()["n"]
    assert n == load_table(spark, sf_dir, "documents").count()
