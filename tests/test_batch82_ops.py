"""Round-4 batches 82-83: shard packing, degree histogram, partition
checksums, as-of currency conversion, progressive brackets."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_currency_convert,
    q_partition_checksums,
    q_shard_manifest,
    q_tax_brackets,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_shard_manifest_partitions_every_doc_once(spark, sf_dir):
    m = q_shard_manifest(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    agg = m.agg(
        F.sum("n_docs").alias("n"), F.sum("shard_bytes").alias("b")
    ).first()
    want = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("b")
    ).first()
    assert agg["n"] == want["n"] and agg["b"] == want["b"]
    # shard ids are dense from 0 within each source
    per_src = m.groupBy("source").agg(
        F.min("shard_id").alias("lo"),
        F.max("shard_id").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    bad = per_src.filter(
        (F.col("lo") != 0) | (F.col("n") != F.col("hi") + 1)
    ).count()
    assert bad == 0


def test_shard_manifest_budget_crossing(spark, sf_dir):
    """Every shard except a source's last must have crossed the 4 KiB
    budget once its final doc was added (shards close as soon as the
    budget is crossed: cumulative-before < budget*(id+1) <= cumulative-
    after holds by the div construction)."""
    m = q_shard_manifest(spark, sf_dir)
    w_last = m.groupBy("source").agg(F.max("shard_id").alias("last_id"))
    non_last = m.join(w_last, "source").filter(
        F.col("shard_id") != F.col("last_id")
    )
    # a non-last shard's cumulative end must reach past its budget line
    # (otherwise the next doc would still belong to it)
    cum = (
        m.withColumn(
            "cum_end",
            F.sum("shard_bytes").over(
                Window.partitionBy("source").orderBy("shard_id")
            ),
        )
        .join(w_last, "source")
        .filter(F.col("shard_id") != F.col("last_id"))
    )
    bad = cum.filter(F.col("cum_end") < 4096 * (F.col("shard_id") + 1)).count()
    assert bad == 0


def test_bipartite_degree_totals(spark, sf_dir):
    d = REGISTRY["q_bipartite_degree"](spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    n_parts = li.select("l_partkey").distinct().count()
    assert d.agg(F.sum("n_parts")).first()[0] == n_parts
    # degree-weighted part count = number of distinct (part, supplier) edges
    n_edges = li.select("l_partkey", "l_suppkey").distinct().count()
    assert d.agg(F.sum(F.col("degree") * F.col("n_parts"))).first()[0] == n_edges


def test_partition_checksums_one_row_per_year(spark, sf_dir):
    c = q_partition_checksums(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    years = orders.select(F.year("o_orderdate").alias("yr")).distinct().count()
    assert c.count() == years
    assert c.agg(F.sum("n_rows")).first()[0] == orders.count()


def test_currency_convert_bounds(spark, sf_dir):
    x = q_currency_convert(spark, sf_dir)
    # rates are 80..86 per 100: converted is 80-86% of original, with up
    # to 1 cent of floor-division loss per order in the group
    bad = x.filter(
        (F.col("converted_cents") > F.col("cents") * 86 / 100 + F.col("n_orders"))
        | (F.col("converted_cents") < F.col("cents") * 80 / 100 - F.col("n_orders"))
    ).count()
    assert bad == 0
    orders = load_table(spark, sf_dir, "orders")
    assert x.agg(F.sum("n_orders")).first()[0] == orders.count()


def test_tax_brackets_reconcile_exactly(spark, sf_dir):
    """The marginal decomposition must re-add to the exact total — the
    contract that makes tiered reports trustworthy."""
    b = q_tax_brackets(spark, sf_dir)
    total_in_brackets = b.agg(F.sum("cents_in_bracket")).first()[0]
    orders = load_table(spark, sf_dir, "orders")
    total_cents = orders.agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
    ).first()[0]
    assert total_in_brackets == total_cents
    assert b.count() == 4
