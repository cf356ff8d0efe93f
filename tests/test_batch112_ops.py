"""Round-5 batch 112: Brier score, expected calibration error, Qini
curve, risk-coverage curve."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_expected_calibration_error,
    q_qini_curve,
    q_risk_coverage,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_brier_recompute_and_floor(spark, sf_dir):
    r = REGISTRY["q_brier_score"](spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    rows = ev.select("value", "event_type").collect()
    sq = 0
    pos = 0
    for e in rows:
        p = math.floor(e["value"] * 2000)
        y = 1_000_000 if e["event_type"] == "purchase" else 0
        sq += (p - y) ** 2
        pos += y
    assert r["n"] == len(rows)
    assert r["sq_err_micro2"] == sq
    assert abs(r["brier"] - sq / len(rows) / 1e12) < 1e-12
    pbar = pos / len(rows) / 1e6
    assert abs(r["uncertainty"] - pbar * (1 - pbar)) < 1e-12
    assert 0 <= r["brier"] <= 1


def test_ece_contributions_partition(spark, sf_dir):
    rows = q_expected_calibration_error(spark, sf_dir).collect()
    assert sorted(r["bin"] for r in rows) == list(range(1, 11))
    n_total = rows[0]["n_bin"] * 0 + sum(r["n_bin"] for r in rows)
    for r in rows:
        gap = abs(
            r["pos"] / r["n_bin"] - r["sum_p_micro"] / r["n_bin"] / 1e6
        )
        assert abs(r["bin_gap"] - gap) < 1e-9
        assert abs(r["ece_contrib"] - gap * r["n_bin"] / n_total) < 1e-9
    ece = sum(r["ece_contrib"] for r in rows)
    assert 0 <= ece <= 1


def test_qini_curve_monotone_population(spark, sf_dir):
    rows = sorted(q_qini_curve(spark, sf_dir).collect(), key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 11))
    # cumulative counts are nondecreasing and end at the full population
    for prev, cur in zip(rows, rows[1:]):
        assert cur["cum_nt"] >= prev["cum_nt"]
        assert cur["cum_nc"] >= prev["cum_nc"]
        assert cur["cum_ct"] >= prev["cum_ct"]
        assert cur["cum_cc"] >= prev["cum_cc"]
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    assert rows[-1]["cum_nt"] + rows[-1]["cum_nc"] == n_users
    for r in rows:
        assert abs(
            r["qini_y"]
            - (r["cum_ct"] - r["cum_cc"] * r["cum_nt"] / max(r["cum_nc"], 1))
        ) < 1e-9
        # integer carrier agrees in sign with the float y
        if r["qini_num"] != 0:
            assert (r["qini_num"] > 0) == (r["qini_y"] > 0)


def test_risk_coverage_curve(spark, sf_dir):
    rows = sorted(q_risk_coverage(spark, sf_dir).collect(), key=lambda r: r["decile"])
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    assert rows[-1]["covered"] == n
    assert abs(rows[-1]["coverage"] - 1.0) < 1e-12
    # full-coverage risk equals the base error rate
    base_err = docs.filter(F.col("lang") != "en").count() / n
    assert abs(rows[-1]["risk"] - base_err) < 1e-12
    for r in rows:
        assert 0 <= r["risk"] <= 1
        assert abs(r["risk"] - r["cum_errs"] / r["covered"]) < 1e-12
        assert abs(r["coverage"] - r["covered"] / n) < 1e-12
