from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.operators.aggregates import (
    count_distinct_by,
    rollup_by,
    sum_by_dim,
    windowed_daily,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_approx_distinct_close_to_exact(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    rows = count_distinct_by(li, ["l_returnflag"], "l_partkey").collect()
    for r in rows:
        exact, approx = r["n_l_partkey"], r["approx_n_l_partkey"]
        assert abs(approx - exact) <= 0.1 * exact, (exact, approx)


def test_sum_by_dim_matches_global_total(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    per_dim = sum_by_dim(orders, ["o_orderstatus"], "o_totalprice")
    total = per_dim.agg(F.sum("sum_o_totalprice")).collect()[0][0]
    expected = orders.agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(38,10)")), 2).cast("double")
    ).collect()[0][0]
    assert abs(total - expected) < 1e-4


def test_rollup_has_grand_total(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    out = rollup_by(orders, ["o_orderstatus", "o_orderpriority"], "o_totalprice")
    grand = out.filter((F.col("g_o_orderstatus") == 1) & (F.col("g_o_orderpriority") == 1))
    assert grand.count() == 1


def test_windowed_daily_counts_sum_to_total(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    daily = windowed_daily(ev, "ts", "value")
    assert daily.agg(F.sum("n_events")).collect()[0][0] == ev.count()


def test_approx_percentile_close_to_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    rows = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact"),
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("approx"),
    ).collect()
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= 0.02 * r["exact"], (r["exact"], r["approx"])


def test_weighted_exact_sum_matches_per_row_exact_sum(spark):
    """r13: Σ count·value through weighted_exact_sum must be BIT-identical
    to exact_sum over the count-exploded rows (decimal distributivity;
    the (13,0)×(24,10) casts keep the product at precision 38 so Spark's
    precision-loss rescaling never fires)."""
    import random
    import struct

    from etl_pipeline_project_spark.operators.aggregates import (
        exact_sum,
        weighted_exact_sum,
    )

    rng = random.Random(7)
    rows = [
        (
            rng.choice(["a", "b", "c"]),
            rng.randint(1, 9),
            # mix magnitudes and signs, incl. values with non-terminating
            # binary fractions and near the scale-10 rounding boundary
            rng.choice([1.0, -1.0]) * rng.random() * 10 ** rng.randint(-8, 6),
        )
        for _ in range(400)
    ] + [("a", 3, 0.1), ("b", 2, -123456.00000000005), ("c", 1, 1e-10)]
    df = spark.createDataFrame(rows, "g string, c int, v double")
    grouped = df.groupBy("g").agg(weighted_exact_sum(F.col("c"), F.col("v"), 6).alias("s"))
    exploded = df.select(
        "g", F.explode(F.expr("array_repeat(v, c)")).alias("v")
    ).groupBy("g").agg(exact_sum(F.col("v"), 6).alias("s"))
    got = {r["g"]: r["s"] for r in grouped.collect()}
    want = {r["g"]: r["s"] for r in exploded.collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert struct.pack("d", got[k]) == struct.pack("d", want[k]), (k, got[k], want[k])


def test_get_spark_pins_ansi(spark):
    """weighted_exact_sum fails loud out of its domain only under ANSI, so
    get_spark sets it rather than relying on the Spark default."""
    from etl_pipeline_project_spark.session import get_spark

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        assert get_spark(shuffle_partitions=parts).conf.get("spark.sql.ansi.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
