"""Catalog / DDL surface.

The reference declares its schemas as idempotent ``CREATE TABLE IF NOT
EXISTS`` DDL at both storage tiers (`data/transformation_db.py:11-89`,
`data/transformation_dw.py:6-120`). The engine's equivalent is Spark
catalog DDL over parquet locations: same idempotency, same explicit
schemas (schemas.py), but the catalog entries are queryable by every
SQL entry point (``spark.sql``/``spark.table``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T


def _ddl_columns(schema: T.StructType) -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)


def ensure_table(
    spark: SparkSession,
    name: str,
    schema: T.StructType,
    *,
    location: str | None = None,
    fmt: str = "parquet",
) -> None:
    """Idempotent CREATE TABLE IF NOT EXISTS (reference
    `data/transformation_db.py:87-89` executes its DDL the same way)."""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS `{name}` ({_ddl_columns(schema)}) USING {fmt}{loc}"
    )
