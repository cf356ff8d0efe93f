"""Window functions: ranked top-k per group, sessions, order statistics.

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


def global_order_stats(
    df: DataFrame,
    order: list[Column | str],
    *,
    rn_col: str = "_grn",
    n_col: str | None = None,
    cum_cols: dict[str, str] | None = None,
    max_cols_excl: dict[str, str] | None = None,
    min_cols_excl_rev: dict[str, str] | None = None,
    tot_sum_cols: dict[str, str] | None = None,
    num_parts: int | None = None,
) -> DataFrame:
    """Global ``row_number()`` (plus optional running sums / carried
    extrema and a total-count column) over a global order WITHOUT a
    single-partition exchange.

    ``row_number() OVER (ORDER BY ...)`` plans as
    ``Exchange SinglePartition -> Window`` — one reducer sorts the world,
    which is correct at test scale and a wall at 100 TB. This computes
    the identical numbers with distributed machinery (the two-pass
    global-rank pattern):

    1. range-repartition on the order — the SAME linear, sampled exchange
       a global ``orderBy`` uses (``Exchange rangepartitioning``);
    2. one per-range count/sum aggregate (#ranges rows — planner-sized);
    3. prefix offsets per range from a broadcast self-join over that tiny
       aggregate (BroadcastNestedLoopJoin over #ranges² pairs);
    4. a per-range local window keyed by the range id — every Window
       partition holds exactly one range, so no operator ever buffers
       more than one range's rows.

    The range frame is ``localCheckpoint``-ed: range-boundary sampling is
    order-sensitive upstream of a shuffle and ``spark_partition_id()`` is
    only meaningful if the offsets aggregate and the main frame observe
    ONE physical materialization — the checkpoint pins it (the same spill
    a single-reducer sort would have made, but partitioned). Lazy
    (round 12): the FIRST action — the offsets broadcast build, which
    computes every partition — materializes the blocks while doing work
    it had to do anyway, where ``eager=True`` spent a dedicated
    materialization job plus one extra read pass of the frame first
    (measured: one job fewer per call, same pinning guarantee). Timeout
    coupling (r12 ADVICE): the materialization now runs inside the
    BroadcastExchange build, which is bounded by
    ``spark.sql.broadcastTimeout`` (default 300 s) — deployments whose
    range frame takes longer than that to materialize must raise the
    timeout (the broadcast payload itself stays #ranges-sized).

    ``order`` must be a total order (unique per row), or callers must
    only consume tie-invariant results (e.g. the VALUE at a fixed global
    position, bucket populations by position) — the same determinism
    contract ``row_number`` itself has.

    ``cum_cols`` maps source column -> output column for inclusive
    running sums over the global order (``SUM(x) OVER (ORDER BY ...
    ROWS UNBOUNDED PRECEDING)``). ``max_cols_excl`` maps source column
    -> output column carrying the running MAX over STRICTLY PRIOR rows
    (``MAX(x) OVER (... ROWS BETWEEN UNBOUNDED PRECEDING AND 1
    PRECEDING)``; NULL when no prior non-null exists — nulls in the
    source are skipped, so a nullable struct column doubles as an
    ignore-nulls last-value carry). ``min_cols_excl_rev`` is the mirror:
    running MIN over STRICTLY FOLLOWING rows. ``n_col`` names a
    total-row-count column (``COUNT(*) OVER ()``) attached via a
    broadcast scalar. ``tot_sum_cols`` maps source -> output for the
    GLOBAL sum (``SUM(x) OVER ()``), folded into the same per-range
    aggregate and re-summed — identical totals to a fresh ``df.agg(sum)``
    without a second pass over the input (r13, guide §2.4 — the global
    twin of ``grouped_order_stats``'s ``grp_sum_cols``); sources MUST be
    exact (integral or decimal) types, since the per-range-partials
    re-association is only value-preserving for associative arithmetic.
    """
    cums = list((cum_cols or {}).items())
    maxes = list((max_cols_excl or {}).items())
    rmins = list((min_cols_excl_rev or {}).items())
    tsums = list((tot_sum_cols or {}).items())
    sess = df.sparkSession
    if num_parts is None:
        num_parts = int(sess.conf.get("spark.sql.shuffle.partitions"))
    ocols = [F.col(c) if isinstance(c, str) else c for c in order]
    part = (
        df.repartitionByRange(num_parts, *ocols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    per = part.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_pc"),
        *[F.sum(src).alias(f"_ps_{i}") for i, (src, _) in enumerate(cums)],
        *[F.max(src).alias(f"_pm_{i}") for i, (src, _) in enumerate(maxes)],
        *[F.min(src).alias(f"_pn_{i}") for i, (src, _) in enumerate(rmins)],
        *[F.sum(src).alias(f"_pt_{i}") for i, (src, _) in enumerate(tsums)],
    )
    b = per.select(
        F.col("_pid").alias("_pid_b"),
        F.col("_pc").alias("_pc_b"),
        *[F.col(f"_ps_{i}").alias(f"_ps_b_{i}") for i in range(len(cums))],
        *[F.col(f"_pm_{i}").alias(f"_pm_b_{i}") for i in range(len(maxes))],
        *[F.col(f"_pn_{i}").alias(f"_pn_b_{i}") for i in range(len(rmins))],
    )
    # prefix offsets (pid' < pid) for counts/sums/maxes; suffix (pid' >
    # pid) for the reversed mins — one tiny broadcast pass each. The cum
    # offsets deliberately stay NULL (no coalesce-to-0) when every prior
    # partition's sum is NULL: a per-partition SUM is NULL iff that
    # partition holds no non-null source row, so a NULL prefix offset
    # means "no prior non-null exists" — exactly the state in which
    # SUM(x) OVER (ROWS UNBOUNDED PRECEDING) itself returns NULL. The
    # three-way combine below uses that NULL-ness; coalescing here would
    # turn leading-NULL frames into 0 (the round-8 ADVICE divergence).
    off = (
        per.join(F.broadcast(b), F.col("_pid_b") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(
            F.coalesce(F.sum("_pc_b"), F.lit(0)).cast("long").alias("_off_c"),
            *[F.sum(f"_ps_b_{i}").alias(f"_off_{i}") for i in range(len(cums))],
            *[F.max(f"_pm_b_{i}").alias(f"_offm_{i}") for i in range(len(maxes))],
        )
    )
    w = Window.partitionBy("_pid").orderBy(*ocols)
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    wnext = w.rowsBetween(1, Window.unboundedFollowing)
    out = part.join(F.broadcast(off), "_pid")
    if rmins:
        offr = (
            per.join(F.broadcast(b), F.col("_pid_b") > F.col("_pid"), "left")
            .groupBy(F.col("_pid").alias("_pid_r"))
            .agg(*[F.min(f"_pn_b_{i}").alias(f"_offn_{i}") for i in range(len(rmins))])
        )
        out = out.join(F.broadcast(offr), out["_pid"] == offr["_pid_r"]).drop("_pid_r")
    out = out.withColumn(
        rn_col, (F.col("_off_c") + F.row_number().over(w)).cast("long")
    )
    for i, (src, dst) in enumerate(cums):
        # Three-way combine so nullable cum sources keep exact
        # SUM(x) OVER (ROWS UNBOUNDED PRECEDING) semantics: the local
        # running sum is NULL while the partition's frame holds no
        # non-null yet, in which case the answer is the prefix offset
        # (itself NULL iff no prior partition holds a non-null).
        local = F.sum(src).over(wrun)
        off_s = F.col(f"_off_{i}")
        out = out.withColumn(
            dst,
            F.when(local.isNull(), off_s)
            .when(off_s.isNull(), local)
            .otherwise(off_s + local),
        )

    def _combine(local: Column, other: Column, prefer_local_if_ge: bool) -> Column:
        keep = local >= other if prefer_local_if_ge else local <= other
        return (
            F.when(local.isNull(), other)
            .when(other.isNull(), local)
            .otherwise(F.when(keep, local).otherwise(other))
        )

    for i, (src, dst) in enumerate(maxes):
        out = out.withColumn(
            dst, _combine(F.max(src).over(wprev), F.col(f"_offm_{i}"), True)
        )
    for i, (src, dst) in enumerate(rmins):
        out = out.withColumn(
            dst, _combine(F.min(src).over(wnext), F.col(f"_offn_{i}"), False)
        )
    if n_col is not None or tsums:
        if tsums:
            # re-associated partial sums are only value-preserving for
            # exact arithmetic — reject float sources loudly
            types = dict(per.dtypes)
            for i in range(len(tsums)):
                dt = types[f"_pt_{i}"]
                if dt in ("float", "double"):
                    raise TypeError(
                        f"tot_sum_cols source {tsums[i][0]!r} sums to {dt}; "
                        "re-associated partials require an integral or "
                        "decimal source (cast first)"
                    )
        tot = per.agg(
            *([F.sum("_pc").cast("long").alias(n_col)] if n_col is not None else []),
            *[F.sum(f"_pt_{i}").alias(dst) for i, (_, dst) in enumerate(tsums)],
        )
        out = out.crossJoin(F.broadcast(tot))
    return out.drop(
        "_pid",
        "_off_c",
        *[f"_off_{i}" for i in range(len(cums))],
        *[f"_offm_{i}" for i in range(len(maxes))],
        *[f"_offn_{i}" for i in range(len(rmins))],
    )


def grouped_order_stats(
    df: DataFrame,
    group: list[str] | str,
    order: list[Column | str],
    *,
    rn_col: str | None = None,
    cum_cols: dict[str, str] | None = None,
    grp_n_col: str | None = None,
    grp_sum_cols: dict[str, str] | None = None,
    num_parts: int | None = None,
) -> DataFrame:
    """PER-GROUP ``row_number()`` / running sums / group totals over a
    within-group order, without ever hash-partitioning the input by the
    group key — the grouped sibling of :func:`global_order_stats`.

    ``rank() OVER (PARTITION BY enum ORDER BY v)`` plans as
    ``Exchange hashpartitioning(enum) -> Sort -> Window``: with a
    bounded-cardinality group (returnflag, weekday, event_type) every
    reducer buffers O(corpus / |enum|) rows — the round-8 scale-killer
    class divided by a small constant, which is still a wall at 100 TB
    (round-8 verdict, "what's wrong" item 1). This computes identical
    numbers with the two-pass machinery generalized to a composite key:

    1. range-repartition on ``(group..., order...)`` — one linear sampled
       exchange; a big group spreads over MANY contiguous ranges instead
       of one reducer;
    2. one aggregate keyed by ``(_pid, group)`` — its size is bounded by
       ``#ranges + #groups - 1`` rows (each range is a contiguous slab of
       the composite key space, so a group spans extra rows only where it
       crosses a range boundary);
    3. per-(group, range) prefix offsets via a window over that tiny
       aggregate, partitioned by group and ordered by range id — each
       window partition holds at most ``#ranges`` rows by construction,
       so this window is bounded regardless of corpus size;
    4. broadcast the offsets back onto the range-partitioned frame and
       run a local window keyed by ``(_pid, group)`` — no operator ever
       buffers more than one range's rows.

    The ``localCheckpoint`` pins one physical materialization for the
    same reason as :func:`global_order_stats` (range-boundary sampling
    is order-sensitive upstream of a shuffle and
    ``spark_partition_id()`` must agree across the offsets branch and
    the main frame); it is lazy for the same reason as there — the
    offsets build is a full-partition action and doubles as the
    materializer (round 12).

    Within each group, ``order`` must be a total order (unique per row in
    the group) or callers must only consume tie-invariant results — the
    callers in queries.py all feed DISTINCT-value tables keyed by
    ``(group, order)``, which are total by construction.

    ``cum_cols`` maps source -> output for inclusive per-group running
    sums (``SUM(x) OVER (PARTITION BY g ORDER BY ... ROWS UNBOUNDED
    PRECEDING)``), with exact NULL semantics for nullable sources (NULL
    until the group's first non-null). ``grp_n_col`` attaches the
    group's total row count (``COUNT(*) OVER (PARTITION BY g)``) via a
    broadcast of the per-group totals. ``grp_sum_cols`` maps source ->
    output for the group's TOTAL sum (``SUM(x) OVER (PARTITION BY g)``),
    folded into the same per-(range, group) aggregate and re-summed per
    group — identical integer totals to a fresh ``SUM(x) GROUP BY g``
    over the input, without a second scan of it (round 12, guide §2.4).
    ``grp_sum_cols`` sources MUST be exact (integral or decimal) types:
    the per-range-partials-then-re-sum re-associates the addition, which
    is only value-preserving for associative arithmetic — a float source
    would silently drift from the single-pass window sum (r12 ADVICE;
    every current caller passes longs).
    ``rn_col`` is the per-group 1-based row number.

    The broadcast side is the offsets frame: ``#ranges + #groups`` rows
    of a few longs. Bounded-enum groups (the motivating class) make it
    trivially tiny; even vocabulary-scaled groups stay broadcastable to
    millions of rows, and beyond that a plain per-group window never had
    a skew problem to begin with.
    """
    groups = [group] if isinstance(group, str) else list(group)
    cums = list((cum_cols or {}).items())
    gsums = list((grp_sum_cols or {}).items())
    sess = df.sparkSession
    if num_parts is None:
        num_parts = int(sess.conf.get("spark.sql.shuffle.partitions"))
    ocols = [F.col(c) if isinstance(c, str) else c for c in order]
    part = (
        df.repartitionByRange(num_parts, *[F.col(g) for g in groups], *ocols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    per = part.groupBy("_pid", *groups).agg(
        F.count(F.lit(1)).alias("_pc"),
        *[F.sum(src).alias(f"_ps_{i}") for i, (src, _) in enumerate(cums)],
        *[F.sum(src).alias(f"_pg_{i}") for i, (src, _) in enumerate(gsums)],
    )
    # prefix offsets per (group, range): a window over the (_pid, group)
    # aggregate partitioned by group — bounded by #ranges rows per
    # partition no matter how large the corpus. Cum offsets stay NULL
    # when no prior range of the group holds a non-null (see the
    # three-way combine below).
    woff = (
        Window.partitionBy(*groups)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = per.select(
        "_pid",
        *groups,
        F.coalesce(F.sum("_pc").over(woff), F.lit(0)).cast("long").alias("_off_c"),
        *[
            F.sum(f"_ps_{i}").over(woff).alias(f"_off_{i}")
            for i in range(len(cums))
        ],
    )
    w = Window.partitionBy("_pid", *groups).orderBy(*ocols)
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    out = part.join(F.broadcast(off), ["_pid", *groups])
    if rn_col is not None:
        out = out.withColumn(
            rn_col, (F.col("_off_c") + F.row_number().over(w)).cast("long")
        )
    for i, (src, dst) in enumerate(cums):
        local = F.sum(src).over(wrun)
        off_s = F.col(f"_off_{i}")
        out = out.withColumn(
            dst,
            F.when(local.isNull(), off_s)
            .when(off_s.isNull(), local)
            .otherwise(off_s + local),
        )
    if grp_n_col is not None or gsums:
        if gsums:
            # re-associated partial sums are only value-preserving for
            # exact arithmetic — reject float sources loudly (r12 ADVICE)
            types = dict(per.dtypes)
            for i in range(len(gsums)):
                dt = types[f"_pg_{i}"]
                if dt in ("float", "double"):
                    raise TypeError(
                        f"grp_sum_cols source {gsums[i][0]!r} sums to {dt}; "
                        "re-associated partials require an integral or "
                        "decimal source (cast first)"
                    )
        tot = per.groupBy(*groups).agg(
            *([F.sum("_pc").cast("long").alias(grp_n_col)] if grp_n_col else []),
            *[F.sum(f"_pg_{i}").alias(dst) for i, (_, dst) in enumerate(gsums)],
        )
        out = out.join(F.broadcast(tot), groups)
    return out.drop("_pid", "_off_c", *[f"_off_{i}" for i in range(len(cums))])
