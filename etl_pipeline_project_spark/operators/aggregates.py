"""Aggregations — the analytics layer the reference's star schema exists for.

The reference computes no aggregate anywhere (SURVEY §2.G) — its mart's
money facts (`data/transformation_dw.py:92-116`) are built *to be*
aggregated. These operators provide that layer as plain hash aggregates:
Catalyst always plans partial (map-side) + final aggregation, so the
shuffle carries one row per (partition, group), not per input row — the
property that makes groupBy viable at 100 TB.

Money sums are computed in DECIMAL: exact, order-independent (double
summation is neither, which breaks distributed reproducibility — partial
aggregation order varies run to run).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Exact, associative accumulator type for money-ish doubles. 38-10 leaves
# 28 integral digits — ample headroom for 100 TB-scale sums.
_ACC = "decimal(38,10)"


def money_sum(col: Column) -> Column:
    """Exact decimal SUM of a double column, surfaced as a double.

    The decimal accumulation makes the sum associative/order-independent
    (double summation is neither — partial-aggregate order varies run to
    run). The result is rounded to cents and narrowed to DECIMAL(38,2)
    *before* the double cast: a scale-2 decimal converts to double with a
    single correctly-rounded division, which is bit-identical across
    engines, whereas wide-scale int128→double conversion can differ by
    1 ULP (observed Spark vs DuckDB).
    """
    return F.round(F.sum(col.cast(_ACC)), 2).cast("decimal(38,2)").cast("double")


def exact_sum(col: Column, scale: int = 2) -> Column:
    """``money_sum`` generalized to any narrowing scale — exact decimal
    accumulation (order-independent under distributed partial
    aggregation), rounded and narrowed to ``decimal(38,scale)`` before
    the final double cast so the conversion is a single correctly-rounded
    division (engine-portable). scale=4 serves squared/product terms
    (2dp × 2dp inputs) in moment-based statistics."""
    return (
        F.round(F.sum(col.cast(_ACC)), scale)
        .cast(f"decimal(38,{scale})")
        .cast("double")
    )


def weighted_exact_sum(count: Column, value: Column, scale: int = 2) -> Column:
    """``exact_sum`` over a pre-grouped frame: each row stands for
    ``count`` identical source rows of ``value`` — Σ count·value computed
    so the result is BIT-IDENTICAL to running :func:`exact_sum` over the
    ungrouped rows (r13, guide §2.3/§2.4: aggregate the duplicates away
    first, then weight — the decimal work moves from one op per source
    row to one op per distinct value).

    Exactness argument: the per-row decimal is the same
    ``cast(value AS decimal(38,10))`` the ungrouped sum uses; decimal
    multiplication by an integer count equals count-fold decimal
    addition, so the weighted sum is term-for-term the ungrouped sum.
    The multiply must NOT trigger Spark's precision-loss rule (which
    rescales and silently rounds — observed 1e-8 drift): casting the
    operands to ``decimal(13,0) × decimal(24,10)`` keeps the result type
    at precision 13+24+1 = 38, scale 10 — exact. Domain: count < 1e13
    and |value| < 1e14, i.e. ten trillion duplicates of one value —
    ~25× a 100 TB corpus; outside it the cast fails LOUD under ANSI
    (never silent divergence), and the unweighted decimal(38,10) sum
    itself overflows at a comparable magnitude."""
    d = value.cast(_ACC).cast("decimal(24,10)")
    return (
        F.round(F.sum(count.cast("decimal(13,0)") * d), scale)
        .cast(f"decimal(38,{scale})")
        .cast("double")
    )


def sum_by_dim(
    df: DataFrame,
    dims: list[str],
    amount: str,
    *,
    count_col: str = "n_rows",
    sum_col: str | None = None,
    avg_col: str | None = None,
) -> DataFrame:
    """Grouped SUM / COUNT / AVG of a fact amount by dimension keys."""
    sum_col = sum_col or f"sum_{amount}"
    avg_col = avg_col or f"avg_{amount}"
    amt = F.col(amount)
    # avg as exact-decimal sum ÷ count: order-independent and engine-portable
    # (native decimal AVG result types differ across engines).
    return df.groupBy(*dims).agg(
        money_sum(amt).alias(sum_col),
        (money_sum(amt) / F.count(F.lit(1))).alias(avg_col),
        F.count(F.lit(1)).alias(count_col),
    )


def count_distinct_by(df: DataFrame, dims: list[str], target: str) -> DataFrame:
    """Exact + approximate distinct counts per group (generalizes the
    reference's dedup-everywhere pattern, SURVEY §2.D). Exact
    count-distinct plans a two-phase expand+agg; the HLL approximation is
    the 100 TB path (one pass, fixed memory), exposed alongside."""
    return df.groupBy(*dims).agg(
        F.countDistinct(target).alias(f"n_{target}"),
        F.approx_count_distinct(target).alias(f"approx_n_{target}"),
    )
