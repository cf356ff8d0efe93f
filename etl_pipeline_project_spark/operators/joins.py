"""Joins: left-enrichment and the incremental anti-join.

Reference behaviors re-expressed:

- Fact⟕dim enrichment (`data/transformation_dw.py:266-271`: tweets merged
  with ``places[['place_id','name']]`` how='left') → broadcast left join.
  Dimension tables are small by construction; broadcasting removes the
  shuffle of the (large) fact side entirely — at 100 TB the fact scan
  streams through map tasks with a hash probe, no exchange.
- Incremental "only new keys" load (`data/transformation_db.py:109-113`:
  pull ALL existing ids into a Python set, filter with ``.isin``) — O(table)
  driver memory, the reference's worst scale hazard (SURVEY §1.4 Q7) → a
  true ``left_anti`` join that never touches the driver. Catalyst/AQE picks
  broadcast when the key side is small, shuffled hash otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def left_enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: Column | list[str] | str,
    *,
    dim_cols: list[str] | None = None,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Left join a (small) dimension onto a (large) fact.

    ``dim_cols`` projects the dim before the join — the reference does the
    same manually (`data/transformation_dw.py:267`); under Catalyst the
    projection also prunes the dim scan.
    """
    d = dim.select(*dim_cols) if dim_cols else dim
    if broadcast_dim:
        d = F.broadcast(d)
    return fact.join(d, on, "left")


def anti_incremental(staged: DataFrame, existing: DataFrame, key: list[str] | str) -> DataFrame:
    """Keep staged rows whose key is not already loaded
    (`data/transformation_db.py:109-116`, scalably)."""
    keys = [key] if isinstance(key, str) else list(key)
    return staged.join(existing.select(*keys), keys, "left_anti")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    *,
    salt_parts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting for skewed keys.

    A hot key sends all its rows to one reducer in a plain shuffle join;
    salting splits the big side's hot key across ``salt_parts`` reducers
    and replicates the other side's matching rows once per salt value.
    AQE's skew-join handles moderate skew automatically — this is the
    explicit form for extreme single-key skew (SURVEY §4.2). The salt is
    derived from a hash of the whole left row (deterministic across
    retries — ``rand()`` would break task re-execution).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt_parts))
    l_salted = left.withColumn("__salt", salt)
    r_salted = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_parts)]))
    )
    return l_salted.join(r_salted, [key, "__salt"], how).drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    left_id: str,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join: for every left row, the single right row with
    the greatest ``right_ts <= left_ts`` for the same key (DuckDB/pandas
    ``ASOF JOIN`` / ``merge_asof`` semantics). Spark has no native as-of
    join; this is the composition form (SURVEY §2.C "absent" row):
    range-join → per-left-row ``row_number`` → keep latest → left join back
    so unmatched left rows survive.

    Exact and oracle-checkable, but the inner range join materializes all
    (left, earlier-right) pairs per key — fine for bounded key groups. For
    heavily-skewed keys at 100 TB use `asof_join_grouped` (streaming
    sort-merge; memory bounded by one Arrow batch regardless of skew).
    """
    rc = right_cols or [right_ts]
    r = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__rts"),
        *[F.col(c).alias(f"r_{c}") for c in rc],
    )
    matched = (
        left.select(F.col(left_id).alias("__lid"), F.col(key).alias("__k"), F.col(left_ts).alias("__lts"))
        .join(r, "__k")
        .filter(F.col("__rts") <= F.col("__lts"))
    )
    w = Window.partitionBy("__lid").orderBy(F.col("__rts").desc())
    best = (
        matched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("__lid", *[f"r_{c}" for c in rc])
    )
    return left.join(best, left[left_id] == best["__lid"], "left").drop("__lid")


def asof_join_grouped(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    right_value: str,
) -> DataFrame:
    """As-of join, scale path: distributed sort-merge with streaming state.

    Both sides union into one stream tagged left/right, hash-partition on
    the key (one exchange), sort within partitions by ``(key, ts, side)``
    with right-before-left at equal timestamps (inclusive match), then a
    single ``mapInPandas`` pass forward-fills the last-seen right value per
    key. State carried across Arrow batches is one scalar pair, so **peak
    executor memory is one Arrow batch (~10k rows) regardless of key skew**
    — a key holding 90% of all rows streams through like any other
    (skew-tested in tests/test_batch2_ops.py).

    Equivalent to `asof_join` (and DuckDB ``ASOF JOIN``); when the right
    side has duplicate timestamps within a key, the largest value wins
    (deterministic tie-break via the sort order).
    """
    import pandas as pd

    rv = f"r_{right_value}"
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in left.schema.fields)
        + f", {rv} {dict(right.dtypes)[right_value]}"
    )
    left_cols = [f.name for f in left.schema.fields]
    # one stream: left rows carry their payload, right rows carry only
    # (ts, value); __side sorts right (0) before left (1) at equal ts so
    # the backward match is inclusive.
    rtype = dict(right.dtypes)[right_value]
    # Integral right_value: a nullable int64 Arrow column converts to pandas
    # as float64 — silently lossy above 2^53 (and the carried state_val
    # would inherit the float repr). Keep __rv null-FREE across the Arrow
    # boundary (0-filled) and carry validity in __rvn instead; merge_stream
    # reconstructs a nullable Int64 exactly. Non-integral types keep the
    # native nullable path (__rvn is then just isnull(__rv)).
    _integral = rtype in {"tinyint", "smallint", "int", "bigint", "long"}
    l_tagged = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        (
            F.lit(0).cast(rtype) if _integral else F.lit(None).cast(rtype)
        ).alias("__rv"),
        F.lit(True).alias("__rvn"),
        F.struct(*left_cols).alias("__row"),
    )
    r_tagged = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        (
            F.coalesce(F.col(right_value), F.lit(0).cast(rtype))
            if _integral
            else F.col(right_value)
        ).alias("__rv"),
        F.col(right_value).isNull().alias("__rvn"),
        F.lit(None).cast(l_tagged.schema["__row"].dataType).alias("__row"),
    )
    stream = (
        l_tagged.unionByName(r_tagged)
        .repartition(F.col("__k"))
        .sortWithinPartitions("__k", "__ts", "__side", "__rv")
    )

    def merge_stream(batches):
        # per-partition streaming state: last right (key, value) seen.
        state_key, state_val = None, None
        for pdf in batches:
            if pdf.empty:
                continue
            keys = pdf["__k"].to_numpy()
            if _integral:
                # exact int64 in, nullable Int64 out: __rv crossed Arrow
                # null-free, so no float64 coercion ever happened
                fill = pdf["__rv"].astype("Int64").mask(pdf["__rvn"].to_numpy())
            else:
                fill = pdf["__rv"].copy()
            # seed the forward-fill with carried state where the batch
            # continues the same key run
            if state_key is not None and keys[0] == state_key and pd.isna(fill.iloc[0]):
                fill.iloc[0] = state_val
            # forward-fill within key runs (batch rows arrive sorted by key)
            fill = fill.groupby(keys, sort=False).ffill()
            last_k = keys[-1]
            last_v = fill.iloc[-1]
            state_key, state_val = last_k, (None if pd.isna(last_v) else last_v)
            is_left = pdf["__side"].to_numpy() == 1
            if not is_left.any():
                continue
            rows = pd.DataFrame(list(pdf.loc[is_left, "__row"]))[left_cols]
            # positional assignment; .reset_index keeps the nullable
            # extension dtype (to_numpy would re-coerce Int64 to float64)
            rows[rv] = fill[is_left].reset_index(drop=True)
            yield rows

    return stream.mapInPandas(merge_stream, out_schema)


def fuzzy_match(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    text_col: str,
    max_distance: int,
    block_col: str | None = None,
) -> DataFrame:
    """Approximate string matching: levenshtein ≤ ``max_distance``
    between a small query set and a large corpus. The query side is
    broadcast (small by contract — entity-resolution probes, not a
    second corpus), so the corpus never shuffles; candidate pairs are
    pruned **before** the edit-distance evaluation by (a) an optional
    equality block (e.g. same brand/prefix) folded into the join key and
    (b) the length band |len(a) − len(b)| ≤ max_distance, which is a
    necessary condition for edit distance and removes the bulk of the
    cross product JVM-side. At 100 TB the cost is one broadcast
    map-side join pass; levenshtein runs only on band survivors."""
    from pyspark.sql.functions import broadcast

    q = queries.select(
        F.col(query_id).alias("q_id"),
        F.col(text_col).alias("q_text"),
        *([F.col(block_col).alias("q_block")] if block_col else []),
    )
    c = corpus.select(
        F.col(corpus_id).alias("c_id"),
        F.col(text_col).alias("c_text"),
        *([F.col(block_col).alias("c_block")] if block_col else []),
    )
    cond = F.col("q_id") != F.col("c_id")
    if block_col:
        cond = cond & (F.col("q_block") == F.col("c_block"))
    band = (
        F.abs(F.length("q_text") - F.length("c_text")) <= max_distance
    )
    dist = F.levenshtein("q_text", "c_text")
    return (
        c.join(broadcast(q), cond & band)
        .withColumn("edit_distance", dist)
        .filter(F.col("edit_distance") <= max_distance)
        .select("q_id", "c_id", "edit_distance")
    )


def coarse_bucket_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_buckets: int = 4096,
) -> DataFrame:
    """Semi join with a bloom-style coarse pre-filter: the dim side's keys
    hash into an ``n_buckets``-slot membership set that broadcasts to every
    fact partition and prunes non-matching rows *before* the exact join —
    the runtime-filter technique (Spark's own bloom-filter join rewrite,
    made explicit). The pre-filter passes a superset (hash-bucket
    collisions), so the exact semi join after it refines to the precise
    answer; correctness never depends on the filter.

    Scale shape: the membership set is one array of ≤ ``n_buckets`` ints
    (~32 KB at 4096) — broadcastable at any fact size; the fact side
    evaluates one hash + one ``array_contains`` per row, map-only, and the
    surviving fraction (≈ selectivity of the dim filter) is all that
    reaches the join shuffle. On a 100 TB fact table with a 1% dim, that's
    a ~99% shuffle-volume cut for one broadcast variable.
    """
    buckets = (
        dim.select(F.pmod(F.xxhash64(dim_key), F.lit(n_buckets)).alias("__b"))
        .distinct()
        .agg(F.sort_array(F.collect_set("__b")).alias("__bs"))
    )
    pruned = (
        fact.crossJoin(F.broadcast(buckets))
        .filter(
            F.array_contains(
                F.col("__bs"), F.pmod(F.xxhash64(fact_key), F.lit(n_buckets))
            )
        )
        .drop("__bs")
    )
    return pruned.join(
        F.broadcast(dim.select(F.col(dim_key).alias(fact_key)).distinct()),
        on=fact_key,
        how="leftsemi",
    )
