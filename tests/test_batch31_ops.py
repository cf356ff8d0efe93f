"""Round-3 batch-31: hopping windows, KS two-sample test."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import REGISTRY, q_agg_window_hopping
from etl_pipeline_project_spark.sources.readers import load_table


def test_hopping_contributions_are_4x_events(spark, sf_dir):
    out = q_agg_window_hopping(spark, sf_dir)
    n_events = load_table(spark, sf_dir, "events").count()
    total = out.agg(F.sum("n_events").alias("t")).first()["t"]
    assert total == 4 * n_events  # 1-day window / 6-hour slide = 4 overlaps


def test_hopping_window_starts_are_6h_aligned(spark, sf_dir):
    out = q_agg_window_hopping(spark, sf_dir)
    misaligned = out.filter(
        (F.minute("window_start") != 0)
        | (F.second("window_start") != 0)
        | (F.hour("window_start") % 6 != 0)
    )
    assert misaligned.count() == 0


def test_ks_stat_bounded(spark, sf_dir):
    r = REGISTRY["q_ks_test"](spark, sf_dir).first()
    assert 0.0 <= r["d_stat"] <= 1.0
    assert r["d_num"] <= r["n_a"] * r["n_b"]


def test_ks_identical_samples_give_zero(spark):
    import pandas as pd

    pdf = pd.DataFrame({"v": [1.0, 2.0, 3.0] * 2, "is_b": [0, 0, 0, 1, 1, 1]})
    sdf = spark.createDataFrame(pdf)
    from pyspark.sql import Window

    per_value = sdf.groupBy("v").agg(
        F.sum(1 - F.col("is_b")).alias("ca"), F.sum("is_b").alias("cb")
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = per_value.select(
        F.sum("ca").over(wcum).alias("cum_a"),
        F.sum("cb").over(wcum).alias("cum_b"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    d = cum.agg(
        F.max(
            F.abs(F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na"))
        ).alias("d_num")
    ).first()
    assert d["d_num"] == 0
