"""foreachBatch keyed upsert — the MERGE-WHEN-NOT-MATCHED path.

The reference's incremental load appends only never-seen keys
(`data/transformation_db.py:91-121`). Its streaming twin (SURVEY §2.H) is
``foreachBatch`` + MERGE; without Delta/Iceberg jars in this container
(guide: "stub connectors behind an import-try") the merge is emulated on
parquet as an append-only insert-if-absent: a batch writes only its rows
whose key the target lacks, never rewrites merged rows, and a replayed
batch anti-joins to nothing (exactly-once per key by idempotence).

The target is never compacted: it gains one set of part files per batch,
and each merge lists them and scans their key column. Compaction is the
caller's concern (the Delta form would run ``OPTIMIZE``).

On a Delta deployment `merge_batch` collapses to
``DeltaTable.merge().whenNotMatchedInsertAll()`` — the call sites don't
change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.errors.exceptions.captured import AnalysisException

from etl_pipeline_project_spark.operators.joins import anti_incremental


def merge_batch(batch: DataFrame, target_path: str, key: str) -> None:
    """Insert-if-absent merge of one micro-batch into a parquet target."""
    batch = batch.dropDuplicates([key])
    # Probe the target through Spark, not os.path — the target may live on
    # HDFS/S3 where a local-filesystem check is always false. The target has
    # the batch's schema, so no footer is read to infer it.
    try:
        existing = batch.sparkSession.read.schema(batch.schema).parquet(target_path)
    except AnalysisException:
        fresh = batch
    else:
        fresh = anti_incremental(batch, existing, key)
    fresh.write.mode("append").parquet(target_path)


def foreach_batch_merge(target_path: str, key: str):
    """Adapter for ``writeStream.foreachBatch`` — exactly-once keyed sink."""

    def apply(batch: DataFrame, epoch_id: int) -> None:  # noqa: ARG001
        merge_batch(batch, target_path, key)

    return apply
