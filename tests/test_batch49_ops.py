"""Round-3 batch-49: normalized dedup, session paths, peaks, VWAP,
run-length compression."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_dedup_normalized,
    q_session_paths,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_dedup_normalized_monotone(spark, sf_dir):
    r = q_dedup_normalized(spark, sf_dir).first()
    # normalization can only merge more texts, never fewer
    assert r["n_norm_dups"] >= r["n_raw_dups"]
    assert r["n_extra_from_normalization"] == r["n_norm_dups"] - r["n_raw_dups"]
    assert 0 <= r["n_raw_dups"] < r["n_docs"]


def test_session_paths_cover_users(spark, sf_dir):
    rows = q_session_paths(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_users"] for r in rows) == n_users
    types = {"error", "view", "purchase", "signup", "click"}
    for r in rows:
        for step in r["path"].split(">"):
            assert step in types


def test_peak_detect_labels(spark, sf_dir):
    rows = sorted(REGISTRY["q_peak_detect"](spark, sf_dir).collect(), key=lambda r: r["day"])
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    n_days = ev.select(F.col("ts").cast("date")).distinct().count()
    # boundary days are excluded
    assert len(rows) == n_days - 2
    assert {r["extremum"] for r in rows} <= {"peak", "trough", "none"}
    # adjacent strict peaks are impossible
    for a, b in zip(rows, rows[1:]):
        assert not (a["extremum"] == "peak" and b["extremum"] == "peak")


def test_vwap_bounds(spark, sf_dir):
    rows = REGISTRY["q_vwap"](spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    ).first()
    for r in rows:
        assert bounds["lo"] * 100 <= r["vwap_cents"] <= bounds["hi"] * 100
        assert r["vwap_cents"] == r["notional_num"] / r["volume"]


def test_history_compress_invariants(spark, sf_dir):
    rows = REGISTRY["q_history_compress"](spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    per_user = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {r["user_id"] for r in rows} == set(per_user)
    for r in rows:
        assert r["n_events"] == per_user[r["user_id"]]
        assert 1 <= r["n_runs"] <= r["n_events"]
        assert r["longest_run"] >= 1
