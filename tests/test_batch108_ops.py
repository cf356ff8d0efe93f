"""Round-5 batch 108: Benjamini-Hochberg FDR, Page-Hinkley drift,
Simpson-reversal detector, storage tiering."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_page_hinkley,
    q_storage_tiering,
)
from etl_pipeline_project_spark.sources.readers import load_table

BH_CRIT = [2.8070337683438114, 2.5758293035489, 2.432379058584449,
           2.3263478740408408, 2.2414027276049464, 2.17009037758456,
           2.1083583991691093, 2.053748910631822, 2.0046544617650963,
           1.9599639845400536]


def test_bh_stepup_and_dominates_bonferroni(spark, sf_dir):
    rows = sorted(REGISTRY["q_benjamini_hochberg"](spark, sf_dir).collect(), key=lambda r: r["bh_rank"])
    assert [r["bh_rank"] for r in rows] == list(range(1, 11))
    zs = [abs(r["z"]) for r in rows]
    assert zs == sorted(zs, reverse=True)
    for r in rows:
        assert r["crit_z"] == BH_CRIT[r["bh_rank"] - 1]
    # step-up rule: rejected iff rank <= largest passing rank
    k_star = max((r["bh_rank"] for r in rows if abs(r["z"]) >= r["crit_z"]), default=0)
    for r in rows:
        assert r["rejected"] == (r["bh_rank"] <= k_star)
        # BH dominates Bonferroni: anything Bonferroni rejects, BH rejects
        if r["bonferroni_sig"]:
            assert r["rejected"]


def test_page_hinkley_fold_recompute(spark, sf_dir):
    rows = q_page_hinkley(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    for r in rows[:2]:
        daily = sorted(
            (x["d"], x["n"])
            for x in ev.filter(F.col("event_type") == r["event_type"])
            .groupBy(F.expr("unix_timestamp(ts) div 86400").alias("d"))
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        )
        n = s = m = 0.0
        m_min = 0.0
        ph_max = 0.0
        for _, x in daily:
            n += 1
            s += x
            m = m + x - s / n - 0.5
            m_min = min(m_min, m)
            ph_max = max(ph_max, m - m_min)
        assert r["n_days"] == len(daily)
        assert abs(r["m_final"] - m) < 1e-9 * max(1.0, abs(m))
        assert abs(r["ph_max"] - ph_max) < 1e-9 * max(1.0, ph_max)
        assert r["drift_alarm"] == (r["ph_max"] > 20.0)


def test_simpson_signs_are_integer_cross_products(spark, sf_dir):
    rows = REGISTRY["q_simpson_detect"](spark, sf_dir).collect()
    pooled = {(r["pooled_sign_num"]) for r in rows}
    assert len(pooled) == 1  # one pooled sign broadcast to every stratum
    pn_t = sum(r["n_t"] for r in rows)
    pn_c = sum(r["n_c"] for r in rows)
    px_t = sum(r["x_t"] for r in rows)
    px_c = sum(r["x_c"] for r in rows)
    assert pooled.pop() == px_t * pn_c - px_c * pn_t
    for r in rows:
        assert r["stratum_sign_num"] == r["x_t"] * r["n_c"] - r["x_c"] * r["n_t"]
        assert r["reversed"] == (
            r["stratum_sign_num"] * r["pooled_sign_num"] < 0
        )


def test_storage_tiering_partitions_corpus(spark, sf_dir):
    rows = {r["tier"]: r for r in q_storage_tiering(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    assert sum(r["n_rows"] for r in rows.values()) == n
    assert set(rows) <= {"hot", "warm", "cold"}
    # the 30-day corpus must populate all three tiers
    assert set(rows) == {"hot", "warm", "cold"}
    assert rows["hot"]["n_days"] <= 8
    assert rows["hot"]["action"] == "keep-on-ssd"
    assert rows["cold"]["action"] == "archive-columnar-max-compression"
    for r in rows.values():
        assert r["share_ppm"] == r["n_rows"] * 1_000_000 // n
