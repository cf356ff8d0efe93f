"""Round-3 batch-45: Python DataSource, SQL pipe syntax, GROUP BY ALL,
full-clause MERGE matrix."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_scan_python_datasource,
    q_sql_pipe,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_python_datasource_partitioned_scan(spark, sf_dir):
    rows = {r["mod7"]: r for r in q_scan_python_datasource(spark, sf_dir).collect()}
    assert set(rows) == set(range(7))
    assert sum(r["n"] for r in rows.values()) == 1000
    # arithmetic ground truth, computed independently
    ids = list(range(1000))
    for m in range(7):
        mine = [x for x in ids if x % 7 == m]
        assert rows[m]["n"] == len(mine)
        assert rows[m]["sum_score"] == sum((x * x) % 101 for x in mine)
        assert rows[m]["min_id"] == mine[0] and rows[m]["max_id"] == mine[-1]


def test_python_datasource_parallelism(spark, sf_dir):
    from etl_pipeline_project_spark.sources.pydatasource import register

    register(spark)
    df = spark.read.format("pagednumbers").option("n", "100").option("parts", "4").load()
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 100


def test_sql_pipe_equals_nested_sql(spark, sf_dir):
    out = {r["l_returnflag"]: r for r in q_sql_pipe(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("date")
    )
    direct = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
        if r["n"] > 10
    }
    assert {k: r["n_lines"] for k, r in out.items()} == direct


def test_group_by_all_keys(spark, sf_dir):
    out = REGISTRY["q_group_by_all"](spark, sf_dir)
    assert out.groupBy("o_orderpriority", "o_orderstatus", "yr").count().filter(
        F.col("count") > 1
    ).count() == 0
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert out.agg(F.sum("n")).first()[0] == n_orders


def test_merge_matrix_all_clauses_fire(spark, sf_dir):
    rows = {r["action"]: r for r in REGISTRY["q_merge_all_clauses"](spark, sf_dir).collect()}
    assert set(rows) == {"update", "delete_matched", "insert", "delete_by_source"}
    # deletes carry no surviving value
    assert rows["delete_matched"]["sum_new_cents"] is None
    assert rows["delete_by_source"]["sum_new_cents"] is None
    assert rows["update"]["sum_new_cents"] > 0
    assert rows["insert"]["sum_new_cents"] > 0
