"""Round-3 batch-27: hashing-trick features, int8 quantization,
domain-mix sampling, numeric histogram."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_domain_mix_sample,
    q_embed_quantize_int8,
    q_feature_hash,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_feature_hash_conserves_tokens(spark, sf_dir):
    out = q_feature_hash(spark, sf_dir)
    total = out.agg(F.sum("n_tokens").alias("t")).first()["t"]
    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    direct = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t")).count()
    )
    assert total == direct
    # buckets are within range
    assert out.filter((F.col("bucket") < 0) | (F.col("bucket") >= 64)).count() == 0


def test_quantize_codes_bounded_and_scale_positive(spark, sf_dir):
    out = q_embed_quantize_int8(spark, sf_dir)
    assert out.count() == load_table(spark, sf_dir, "embeddings").count()
    bad = out.filter(
        (F.col("q_min") < -127)
        | (F.col("q_max") > 127)
        | (F.col("scale") <= 0)
        | (F.col("q_sumsq") < 0)
    )
    assert bad.count() == 0
    # the max-|x| component always quantizes to ±127, so every vector
    # touches the clamp boundary on at least one side
    assert out.filter((F.col("q_max") == 127) | (F.col("q_min") == -127)).count() == out.count()


def test_domain_mix_rates_hold_approximately(spark, sf_dir):
    rows = q_domain_mix_sample(spark, sf_dir).collect()
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_total"]
        if r["rate_bp"] == 10000:
            assert r["n_kept"] == r["n_total"]  # keep-all sources keep all


def test_histogram_mass_conserved(spark, sf_dir):
    out = REGISTRY["q_numeric_histogram"](spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    assert out.agg(F.sum("n").alias("n")).first()["n"] == li.count()
    # bin bounds honored: min/max cents within [bin_lo*100, (bin_lo+5000)*100)
    bad = out.filter(
        (F.col("min_cents") < F.col("bin_lo") * 100)
        | (F.col("max_cents") >= (F.col("bin_lo") + 5000) * 100)
    )
    assert bad.count() == 0
