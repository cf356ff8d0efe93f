"""Round-3 batch-32: catalog uniqueness sweep, partition-layout migration."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_partition_migration,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_uniqueness_covers_all_tables(spark, sf_dir):
    rows = {r["table_name"]: r for r in REGISTRY["q_dq_uniqueness"](spark, sf_dir).collect()}
    assert len(rows) == 10
    # the audit's reason to exist: it catches the one genuine PK violation
    # in the testdata — (l_orderkey, l_linenumber) is NOT unique
    for name, r in rows.items():
        if name == "lineitem":
            assert not r["pk_unique"] and r["n_dup_rows"] > 0
        else:
            assert r["pk_unique"], name
            assert r["n_dup_rows"] == 0


def test_partition_migration_matches_unpartitioned(spark, sf_dir):
    out = {
        r["event_type"]: (r["n_events"], r["sum_value"])
        for r in q_partition_migration(spark, sf_dir).collect()
    }
    from etl_pipeline_project_spark.operators.aggregates import money_sum

    direct = {
        r["event_type"]: (r["n_events"], r["sum_value"])
        for r in load_table(spark, sf_dir, "events")
        .filter(
            (F.col("ts").cast("date") >= F.lit("2024-01-01").cast("date"))
            & (F.expr("weekday(ts)") == 0)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value")).alias("sum_value"),
        )
        .collect()
    }
    assert out == direct


def test_partition_migration_prunes_partitions(spark, sf_dir):
    df = q_partition_migration(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
