"""Round-5 batch 99: CUPED, MDE power analysis, quantile treatment
effects, post-stratified ATE."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_mde_power,
    q_post_stratified_ate,
    q_quantile_treatment_effect,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_cuped_adjustment_properties(spark, sf_dir):
    rows = {r["grp"]: r for r in REGISTRY["q_cuped"](spark, sf_dir).collect()}
    assert sorted(rows) == [0, 1]
    thetas = {r["theta"] for r in rows.values()}
    assert len(thetas) == 1  # theta is pooled, identical per group
    theta = thetas.pop()
    assert math.isfinite(theta)
    # weighted adjusted means preserve the pooled outcome mean:
    # sum n_g * (adj_g - y_g) = -theta * sum n_g (xbar_g - xbar) = 0
    drift = sum(
        r["n_users"] * (r["mean_y_adj"] - r["mean_y"]) for r in rows.values()
    )
    scale = sum(abs(r["n_users"] * r["mean_y"]) for r in rows.values())
    assert abs(drift) < 1e-9 * max(1.0, scale)


def test_mde_power_formula(spark, sf_dir):
    rows = q_mde_power(spark, sf_dir).collect()
    z = 1.959963984540054 + 0.8416212335729143
    for r in rows:
        assert r["sd"] > 0
        expect = z * math.sqrt(2 * r["sd"] ** 2 / (r["n"] // 2))
        assert abs(r["mde_abs"] - expect) < 1e-9 * expect
        assert abs(r["mde_rel"] - r["mde_abs"] / r["mean"]) < 1e-12
    # more data -> smaller relative MDE across segments (sanity: the
    # largest-n segment cannot have the largest mde_abs/sd ratio)
    by_n = sorted(rows, key=lambda r: r["n"])
    assert by_n[-1]["mde_abs"] / by_n[-1]["sd"] <= by_n[0]["mde_abs"] / by_n[0]["sd"]


def test_qte_matches_independent_quantiles(spark, sf_dir):
    rows = {r["p"]: r for r in q_quantile_treatment_effect(spark, sf_dir).collect()}
    assert sorted(rows) == [25, 50, 75, 90]
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vals = {
        grp: sorted(
            r["value"]
            for r in ev.filter(F.col("user_id") % 2 == grp).select("value").collect()
        )
        for grp in (0, 1)
    }
    for p, r in rows.items():
        for grp, col in ((1, "q_treat"), (0, "q_ctrl")):
            xs = vals[grp]
            # smallest value with cum*100 >= p*n  ==  xs[ceil(p*n/100)-1]
            k = -(-p * len(xs) // 100)
            assert r[col] == xs[k - 1]
        assert abs(r["qte"] - (r["q_treat"] - r["q_ctrl"])) < 1e-12
    # quantiles are monotone in p within each arm
    qs = [rows[p]["q_treat"] for p in (25, 50, 75, 90)]
    assert qs == sorted(qs)


def test_post_stratified_ate_recompute(spark, sf_dir):
    row = q_post_stratified_ate(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cells = {
        (r["stratum"], r["grp"]): r
        for r in ev.groupBy(
            F.col("event_type").alias("stratum"),
            (F.col("user_id") % 2).cast("int").alias("grp"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    strata = sorted({k[0] for k in cells})
    assert row["n_strata"] == len(strata)
    n_total = sum(r["n"] for r in cells.values())
    assert row["n_total"] == n_total
    ate = sum(
        (cells[(s, 1)]["n"] + cells[(s, 0)]["n"])
        / n_total
        * (
            cells[(s, 1)]["s"] / cells[(s, 1)]["n"]
            - cells[(s, 0)]["s"] / cells[(s, 0)]["n"]
        )
        for s in strata
    )
    assert abs(row["ate"] - ate) < 1e-6
    # naive pooled diff differs from the stratified estimate's inputs
    assert math.isfinite(row["naive_diff"])
