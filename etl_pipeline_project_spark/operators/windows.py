"""Window functions: ranked top-k per group, sessions.

Generalizes the reference's deterministic keep-one-per-key dedup
(SURVEY §1.4 Q3 / §2.G): ``row_number`` over an explicit ordering is the
same machinery with k=1. Top-k per group shuffles once on the group key;
within-partition sort is bounded by group size (skewed groups fall to
AQE's skew splitting).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group: list[str] | str,
    order: list[Column | str],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """k best rows per group under a declared (deterministic) ordering."""
    groups = [group] if isinstance(group, str) else list(group)
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order]
    w = Window.partitionBy(*groups).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def sessionize(
    df: DataFrame,
    *,
    key: str,
    ts: str,
    gap_seconds: int,
    tiebreak: str,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous event of the same key exceeds ``gap_seconds``. The classic
    lag + cumulative-sum window pair — one shuffle on the key, then two
    in-partition window passes over the same sort order (Catalyst fuses
    them into one Window operator). Session ids are 1-based per key."""
    w = Window.partitionBy(key).orderBy(F.col(ts), F.col(tiebreak))
    prev = F.lag(F.unix_timestamp(F.col(ts))).over(w)
    is_new = F.when(
        prev.isNull() | (F.unix_timestamp(F.col(ts)) - prev > gap_seconds), 1
    ).otherwise(0)
    run = Window.partitionBy(key).orderBy(F.col(ts), F.col(tiebreak)).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("session_id", F.sum(is_new).over(run).cast("long"))
