"""Spark's compiled-codegen cache holds the engine's working set: a key
that ran once does not compile its generated classes again."""

from __future__ import annotations

from etl_pipeline_project_spark.queries import REGISTRY
from etl_pipeline_project_spark.session import CODEGEN_CACHE_ENTRIES

# the perfbench query_mix sample: at sf0.001 one round compiles ~140
# classes, more than Spark's default cache of 100 holds
KEYS = [
    "q_vocab_coverage",
    "q_palma_ratio",
    "q_hash_split",
    "q_epoch_plan",
    "q_join_asof_grouped",
    "q_agg_cube",
    "q_pagerank_nations",
    "q_ltv_cohort_curve",
]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_get_spark_sizes_the_codegen_cache(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_second_round_of_keys_compiles_nothing(spark, sf_dir):
    def run_round() -> int:
        before = _compiles(spark)
        for key in KEYS:
            REGISTRY[key](spark, sf_dir).write.mode("overwrite").format("noop").save()
        return _compiles(spark) - before

    run_round()
    assert run_round() == 0
