"""Round-5 batch 111: inspection paradox, Wilson interval, Palma ratio,
Mann-Kendall trend."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_inspection_paradox,
    q_mann_kendall,
    q_palma_ratio,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_inspection_paradox_ratio_is_one_plus_cv2(spark, sf_dir):
    r = q_inspection_paradox(spark, sf_dir).first()
    # the observer mean always dominates the plain mean
    assert r["observer_mean_gap_sec"] >= r["mean_gap_sec"]
    assert r["paradox_ratio"] >= 1
    # identity: ratio == 1 + CV^2 of the gaps
    mean = r["sg"] / r["n_gaps"]
    var = r["sgg"] / r["n_gaps"] - mean * mean
    assert abs(r["paradox_ratio"] - (1 + var / (mean * mean))) < 1e-9
    assert abs(r["observer_mean_gap_sec"] - r["sgg"] / r["sg"]) < 1e-9


def test_wilson_interval_properties(spark, sf_dir):
    rows = REGISTRY["q_wilson_interval"](spark, sf_dir).collect()
    for r in rows:
        # 1-ULP float overshoot is possible at the p=0/1 boundaries
        eps = 1e-12
        assert -eps <= r["wilson_lo"] <= r["p_hat"] + eps
        assert r["p_hat"] - eps <= r["wilson_hi"] <= 1 + eps
        # recompute from first principles
        z, n, p = 1.959963984540054, r["n"], r["x"] / r["n"]
        center = (p + z * z / (2 * n)) / (1 + z * z / n)
        rad = (
            z
            * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
            / (1 + z * z / n)
        )
        assert abs(r["wilson_lo"] - (center - rad)) < 1e-9
        assert abs(r["wilson_hi"] - (center + rad)) < 1e-9


def test_palma_ratio_masses(spark, sf_dir):
    r = q_palma_ratio(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vals = sorted(
        (
            x["v"]
            for x in ev.groupBy("user_id")
            .agg(F.sum(F.floor(F.col("value") * 1000000).cast("long")).alias("v"))
            .collect()
        ),
        reverse=True,
    )
    n = len(vals)
    top = sum(v for i, v in enumerate(vals, 1) if i * 10 <= n)
    bot = sum(v for i, v in enumerate(vals, 1) if (n - i) * 10 < n * 4)
    assert r["n_users"] == n
    assert r["top10_micro"] == top
    assert r["bottom40_micro"] == bot
    assert abs(r["palma"] - top / bot) < 1e-12


def test_mann_kendall_recompute(spark, sf_dir):
    rows = q_mann_kendall(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    for r in rows[:2]:
        xs = [
            x["n"]
            for x in ev.filter(F.col("event_type") == r["event_type"])
            .groupBy(F.expr("unix_timestamp(ts) div 86400").alias("d"))
            .count()
            .withColumnRenamed("count", "n")
            .orderBy("d")
            .collect()
        ]
        n = len(xs)
        s = sum(
            (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        assert r["n"] == n
        assert r["s_stat"] == s
        assert r["n_pairs"] == n * (n - 1) // 2
        assert r["var18_num"] == n * (n - 1) * (2 * n + 5)
        cc = 1 if s > 0 else -1 if s < 0 else 0
        z = (s - cc) / math.sqrt(n * (n - 1) * (2 * n + 5) / 18)
        assert abs(r["z"] - z) < 1e-9
        assert r["trending"] == (abs(r["z"]) > 1.959963984540054)
