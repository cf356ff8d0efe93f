"""Stateless row/column operators: project, rename, NOT-NULL filter.

Reference behaviors re-expressed:

- Tolerant projection (`data/transformation_db.py:104-105`:
  ``df[[c for c in select_columns if c in df.columns]]``) → `select_existing`.
- Bulk rename (`data/transformation_db.py:100-101` with the mapping at
  `:133-139`; mart renames at `data/transformation_dw.py:166-173` etc.) →
  ``withColumnsRenamed``.
- NOT-NULL enforcement before load (`data/transformation_dw.py:153,175-177,
  254-256,...`: ``dropna(subset=...)``) → ``na.drop(subset=...)``, i.e. a
  plain conjunctive IS NOT NULL filter that Catalyst pushes to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def select_existing(df: DataFrame, columns: list[str]) -> DataFrame:
    """Project `columns`, silently skipping ones the frame doesn't have —
    the reference's tolerance for schema drift across staged files."""
    present = [c for c in columns if c in df.columns]
    return df.select(*present)


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Bulk rename; keys absent from the frame are ignored (pandas rename
    semantics, which the reference relies on)."""
    effective = {k: v for k, v in mapping.items() if k in df.columns}
    return df.withColumnsRenamed(effective)


def drop_null_rows(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """NOT-NULL row filter enforcing the mart DDL procedurally."""
    return df.na.drop(subset=subset) if subset else df.na.drop()
