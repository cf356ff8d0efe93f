"""SparkSession factory.

Centralizes the engine's execution profile so every entry point (tests,
bench, driver contract, pipelines) runs with the same semantics:

- UTC session timezone — the reference mixes tz-aware API timestamps with
  naive manual-entry timestamps (SURVEY §1.4 Q6); we normalize everything
  to UTC so results are stable and DuckDB-comparable.
- AQE on — runtime shuffle coalescing + skew-join handling, the 100 TB
  safety net for the star-schema joins.
- Arrow on — vectorized pandas interchange for the Pandas-UDF operators.
- ANSI on — overflow and invalid casts fail the query instead of turning
  into NULLs; the exact-sum contract of `weighted_exact_sum` relies on it.
- shuffle.partitions sized to cores for local mode (driver/bench override
  via SPARK_GRAFT_CPUS); a real cluster deployment would size this to
  ~2-3× total cores and rely on AQE coalescing.
- codegen cache sized to the registry — Spark keeps compiled
  whole-stage classes in a cache keyed by their source text, 100 entries
  by default. One round of the non-streaming registry compiles ~4,450
  distinct classes, so at 100 every interleaved key recompiled (and the
  JVM re-JIT-compiled) code it had compiled a pass before. 5,000 entries
  hold the whole round, at ~50 KB per entry: a full round kept ~140 MB
  more old gen, ~37 MB more metaspace and ~37 MB more code cache than
  at 100 (after a full GC, sf0.01, 4 cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# entries of Spark's compiled-codegen cache (`spark.sql.codegen.cache.maxEntries`)
CODEGEN_CACHE_ENTRIES = 5000


def get_spark(
    app_name: str = "etl_pipeline_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Driver testdata stores some timestamps as parquet TIMESTAMP(NANOS),
        # which Spark's vectorized reader rejects; read them as long nanos and
        # convert at scan time (sources.readers.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
