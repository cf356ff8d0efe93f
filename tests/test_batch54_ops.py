"""Round-3 batch-54: map lambdas, SQL-registered UDF, watermark
incremental, dead-letter routing."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_incremental_watermark,
    q_lambda_map_suite,
    q_udf_sql_registered,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_map_suite_entry_strings(spark, sf_dir):
    for r in q_lambda_map_suite(spark, sf_dir).limit(100).collect():
        entries = r["doubled_entries"].split(",")
        assert len(entries) == r["n_keys"]
        for e in entries:
            k, v = e.split("=")
            # value = 2 * len(key)
            assert int(v) == 2 * len(k)
        if r["urgent_keys"]:
            assert all("URGENT" in k for k in r["urgent_keys"].split(","))


def test_sql_registered_udf_matches_native(spark, sf_dir):
    out = {r["event_type"]: r["mod_sum"] for r in q_udf_sql_registered(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    direct = {
        r["event_type"]: r["m"]
        for r in ev.groupBy("event_type")
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long") % 97).alias("m"))
        .collect()
    }
    assert out == direct


def test_watermark_incremental_exactly_once(spark, sf_dir):
    r = q_incremental_watermark(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events")
    assert r["n_total"] == ev.count()
    assert r["n_batch3"] == 0
    cut = F.lit("2024-01-20 00:00:00").cast("timestamp")
    assert r["n_batch2"] == ev.filter(F.col("ts") >= cut).count()


def test_dead_letter_partition_of_input(spark, sf_dir):
    rows = {r["route"]: r["n_rows"] for r in REGISTRY["q_dead_letter_route"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    assert sum(rows.values()) == ev.count()
    for route in rows:
        assert route == "clean" or route.startswith("dlq:")
