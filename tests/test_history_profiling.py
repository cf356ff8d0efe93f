"""Semantics tests for the profiling and LLM-pipeline operators (the oracle gate checks cross-engine equality;
these check the *invariants* the operators promise)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.operators.profiling import profile_columns
from etl_pipeline_project_spark.operators.similarity import centroid_fixed_point
from etl_pipeline_project_spark.operators.text_analysis import chunk_text, ngram_pairs
from etl_pipeline_project_spark.sources.readers import load_table


def test_profile_counts_match_direct_aggregates(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    prof = {r["column_name"]: r for r in profile_columns(cust, ["c_custkey", "c_mktsegment"]).collect()}
    n = cust.count()
    assert prof["c_custkey"]["n_rows"] == n
    assert prof["c_custkey"]["n_distinct"] == cust.select("c_custkey").distinct().count()
    assert prof["c_mktsegment"]["n_null"] == cust.filter(F.col("c_mktsegment").isNull()).count()


def test_chunks_reconstruct_document_prefixes(spark, sf_dir):
    """Stride < size ⇒ consecutive chunks overlap by (size − stride) and
    concatenating each chunk's first `stride` chars rebuilds the text."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    chunks = docs.select("doc_id", "text", F.inline(chunk_text("text", 200, 150)))
    rebuilt = (
        chunks.withColumn("piece", F.substring("chunk", 1, 150))
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("chunk_id", "piece"))).getField("piece")
            ).alias("rebuilt"),
            F.first("text").alias("text"),
        )
    )
    assert rebuilt.filter(F.col("rebuilt") != F.col("text")).count() == 0


def test_ngram_pairs_count(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    got = docs.select(
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_toks"),
        F.size(ngram_pairs("text")).alias("n_bigrams"),
    )
    # k tokens ⇒ k−1 bigrams (0 for degenerate docs)
    bad = got.filter(
        F.col("n_bigrams") != F.greatest(F.col("n_toks") - 1, F.lit(0))
    ).count()
    assert bad == 0


def test_centroid_partition_invariant(spark, sf_dir):
    """Fixed-point accumulation is order-independent: repartitioning the
    input must produce bit-identical centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = centroid_fixed_point(emb, "label")
    b = centroid_fixed_point(emb.repartition(13, "vec_id"), "label")
    diff = (
        a.select("label", "dim", "centroid")
        .exceptAll(b.select("label", "dim", "centroid"))
        .count()
    )
    assert diff == 0
