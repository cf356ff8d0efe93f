"""Round-4 hardening tests.

`asof_join_grouped` is a streaming sort-merge whose executor memory is one
Arrow batch regardless of key skew — exercised here with a pathological
distribution (one key holding 90% of all rows) against the
window-composition form as the oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.operators.joins import (
    asof_join,
    asof_join_grouped,
)


def _skewed_frames(spark):
    """10k left rows: key 'hot' holds 9k (90%), ten cold keys 100 each.
    Right side: every 7th row is a quote carrying its ts as the value."""
    n_hot, n_cold_keys, n_cold = 9000, 10, 100
    rows = spark.range(n_hot).select(
        F.lit("hot").alias("k"),
        F.col("id").alias("seq"),
    )
    cold = spark.range(n_cold_keys * n_cold).select(
        F.concat(F.lit("cold_"), (F.col("id") % n_cold_keys).cast("string")).alias("k"),
        (F.col("id") + 1_000_000).alias("seq"),
    )
    base = rows.unionByName(cold).withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("seq") % 86000)
    )
    left = base.select(F.monotonically_increasing_id().alias("lid"), "k", "ts")
    right = base.filter(F.col("seq") % 7 == 0).select(
        "k", "ts", F.col("seq").cast("double").alias("val")
    )
    return left, right


def test_asof_grouped_skewed_key_matches_composition(spark):
    left, right = _skewed_frames(spark)
    left = left.localCheckpoint()  # pin monotonically_increasing_id
    comp = asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts",
        left_id="lid", right_cols=["val"],
    ).select("lid", "r_val")
    stream = asof_join_grouped(
        left, right, key="k", left_ts="ts", right_ts="ts", right_value="val"
    ).select("lid", "r_val")
    a = {r["lid"]: r["r_val"] for r in comp.collect()}
    b = {r["lid"]: r["r_val"] for r in stream.collect()}
    assert len(a) == 10000 and a == b


def test_asof_grouped_small_batches_force_cross_batch_state(spark):
    """Shrink Arrow batches so a single key spans many batches — the
    carried (key, value) state must survive batch boundaries."""
    left, right = _skewed_frames(spark)
    left = left.localCheckpoint()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
    try:
        comp = asof_join(
            left, right, key="k", left_ts="ts", right_ts="ts",
            left_id="lid", right_cols=["val"],
        ).select("lid", "r_val")
        stream = asof_join_grouped(
            left, right, key="k", left_ts="ts", right_ts="ts", right_value="val"
        ).select("lid", "r_val")
        a = {r["lid"]: r["r_val"] for r in comp.collect()}
        b = {r["lid"]: r["r_val"] for r in stream.collect()}
        assert a == b
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_cents_mod97_matches_sql_on_negatives_and_half_cents(spark):
    """The registered UDF must agree with CAST(ROUND(v*100,0) AS BIGINT) % 97
    on negative values (SQL % follows the dividend sign) and exact half-cent
    inputs (SQL ROUND is half-away-from-zero, pandas round is half-even)."""
    from etl_pipeline_project_spark.functions.udfs import cents_mod97_udf

    vals = [1.0, -1.0, 0.985, -0.985, 2.5, -2.5, 0.125, -0.125,
            123.456, -123.456, 0.0, None, 970.005, -970.005]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    got = df.select(
        "value", cents_mod97_udf("value").alias("udf_mod")
    )
    want = df.selectExpr(
        "value",
        "CAST(ROUND(value * 100, 0) AS BIGINT) % 97 AS sql_mod",
    )
    j = got.join(want, ["value"], "inner") if None not in vals else (
        got.join(want, got["value"].eqNullSafe(want["value"]))
        .select(got["value"], "udf_mod", "sql_mod")
    )
    rows = j.collect()
    assert len(rows) >= len(vals)
    for r in rows:
        assert r["udf_mod"] == r["sql_mod"], (r["value"], r["udf_mod"], r["sql_mod"])


def test_avro_connector_gates_or_roundtrips(spark):
    """Avro connector flips on jar presence: round-trips when the
    spark-avro jar is on the classpath, raises an actionable
    NotImplementedError otherwise (this container ships without it)."""
    import pytest as _pytest

    from etl_pipeline_project_spark.sources.lakehouse import (
        avro_available,
        read_avro,
        write_avro,
    )
    from etl_pipeline_project_spark.sources.readers import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "region")
    path = "/root/repo/.scratch/avro_gate_test"
    if avro_available(spark):
        write_avro(df, path)
        assert read_avro(spark, path).count() == df.count()
    else:
        with _pytest.raises(NotImplementedError):
            write_avro(df, path)
        with _pytest.raises(NotImplementedError):
            read_avro(spark, path)
