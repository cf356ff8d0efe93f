"""Executed-plan audit — the scale-property checks, runnable per round.

Asserts the physical-plan properties that survive a 1000× scale-up:
predicate pushdown reaching parquet scans, column pruning, broadcast join
selection, TakeOrderedAndProject for sort+limit, partial aggregation.
Prints one line per check; exits non-zero on regression.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline_project_spark.queries import REGISTRY  # noqa: E402
from etl_pipeline_project_spark.session import get_spark  # noqa: E402



# ---- generic full-registry anti-scale-killer sweep (round 6) ----
# One check per registry key, on top of the hand-written shape checks
# above: the plan must contain NO CartesianProduct (fatal at 100 TB
# regardless of intent — every broadcast-grid/one-row-aggregate
# crossJoin in this repo plans as BroadcastNestedLoopJoin over a
# broadcast-bounded side, never CartesianProduct) and NO
# BatchEvalPython (row-at-a-time Python; the sanctioned Python edges
# — ArrowEvalPython, FlatMapGroupsInPandas, MapInPandas — are all
# Arrow-batched). q_udtf_split is the one documented exception: its
# docstring declares the UDTF row path deliberate (the vectorized
# fast path is q_doc_chunk's explode). The third generic rule bans a
# shuffle join keyed only by bounded enums (below).
#
# Windows are not gated generically: a plain window (including one fed
# by Exchange SinglePartition, or hash-partitioned by a bounded enum)
# beat the range-partitioned order-statistics form at every rung of the
# local scale ladder (sf0.01 -> sf3, CHANGES.md). Per-key checks assert
# instead that a key's window runs over its collapsed aggregate
# (windows_over_aggregate) where the key collapses its input first.
ROW_PYTHON_OK = {"q_udtf_split"}

# Columns the enum-JOIN rule treats as bounded-cardinality shuffle keys:
# the fixed enums of the TPC-H-ish testdata schema, common derived enum
# aliases, and the coarse blocking columns the similarity tier joins on
# (10 labels in the testdata; any IVF-style block count is tiny next to
# the cluster's core count).
ENUM_JOIN_COLS = {
    "l_returnflag", "l_linestatus", "l_shipmode", "l_shipinstruct",
    "o_orderstatus", "o_orderpriority", "c_mktsegment", "event_type",
    "weekday", "dow", "side", "_side", "flag", "grp", "bucket_kind",
    "label", "lb", "block", "_block_b", "plabel", "nlabel",
}

# Keys whose enum-keyed shuffle join is bounded by construction in a way
# the textual probe cannot prove — one-line justification each.
ENUM_JOIN_OK: dict[str, str] = {}


def _indent(line: str) -> int:
    m = re.search(r"[+:]- ", line)
    return m.start() if m else -1


def windows_over_aggregate(p: str) -> bool:
    """The plan has a Window, and below every Window the first
    aggregate-or-scan operator is an Aggregate: the window runs over a
    collapsed (distinct-value or per-entity) table, never raw scan rows."""
    lines = p.splitlines()
    found = False
    for i, ln in enumerate(lines):
        if not re.search(r"\bWindow \[", ln):
            continue
        found = True
        d = _indent(ln)
        for k in range(i + 1, len(lines)):
            dk = _indent(lines[k])
            if (dk != -1 and dk <= d) or re.search(r"Scan\b", lines[k]):
                return False
            if "Aggregate" in lines[k]:
                break
    return found


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")

    def plan(key: str) -> str:
        return REGISTRY[key](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    def final_plan(key: str) -> str:
        """Run the query, then read the FINAL adaptive plan: exchange reuse
        is an AQE runtime decision (stage dedup), invisible in the static
        initial plan."""
        df = REGISTRY[key](spark, sf_dir)
        # collect() drives THIS QueryExecution to completion (a .write would
        # spawn a separate execution and leave this plan un-finalized)
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    checks: list[tuple[str, bool, str]] = []

    p = plan("q_filter_predicate")
    checks.append(
        ("q_filter_predicate pushes filters to parquet", "PushedFilters: [" in p and "LessThan" in p, p[:200])
    )
    m = re.search(r"ReadSchema: (\S+)", plan("q_scan_project_ids"))
    checks.append(
        ("q_scan_project_ids prunes to one column", bool(m) and m.group(1) == "struct<o_orderkey:bigint>", str(m))
    )
    for key in ["q_join_left_equi", "q_join_anti_incremental", "q_mart_fact_twitter"]:
        p = plan(key)
        checks.append((f"{key} uses BroadcastHashJoin", "BroadcastHashJoin" in p, p[:200]))
    checks.append(
        ("q_sort_limit plans TakeOrderedAndProject", "TakeOrderedAndProject" in plan("q_sort_limit"), "")
    )
    p = plan("q_agg_sum_by_dim")
    checks.append(
        (
            "q_agg_sum_by_dim partial+final agg, single exchange",
            "partial" in p.lower() and len(re.findall(r"Exchange", p)) == 1,
            p[:200],
        )
    )
    p = plan("q_time_dimension")
    checks.append(
        (
            "q_time_dimension map-side distinct before single shuffle",
            len(re.findall(r"HashAggregate", p)) >= 2 and len(re.findall(r"Exchange", p)) == 1,
            p[:200],
        )
    )

    p = plan("q_text_pii_redact")
    checks.append(
        (
            "q_text_pii_redact is map-only (no Exchange — 100 TB scrub is one codegen'd pass)",
            "Exchange" not in p and "*(" in p,  # "*(n)" = whole-stage codegen span
            p[:200],
        )
    )
    p = plan("q_token_stats_by_source")
    checks.append(
        (
            "q_token_stats_by_source partial+final agg, single exchange",
            "partial" in p.lower() and len(re.findall(r"Exchange", p)) == 1,
            p[:200],
        )
    )

    p = plan("q_bloom_prune_semi")
    checks.append(
        (
            "q_bloom_prune_semi filters with the broadcast bucket array before the semi join",
            "array_contains" in p and "BroadcastHashJoin" in p and "LeftSemi" in p,
            p[:300],
        )
    )
    p = plan("q_outlier_zscore")
    checks.append(
        (
            "q_outlier_zscore reuses one user_id exchange for window + final agg",
            len(re.findall(r"Exchange hashpartitioning\(user_id", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_window_range_time")
    checks.append(
        (
            "q_window_range_time single exchange for the time-RANGE frame",
            len(re.findall(r"Exchange", p)) == 1 and "RangeFrame" in p,
            p[:300],
        )
    )
    p = plan("q_funnel")
    checks.append(
        (
            "q_funnel chains 3 windows + rollup on ONE user_id exchange",
            len(re.findall(r"Exchange hashpartitioning\(user_id", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_balanced_sample")
    checks.append(
        (
            "q_balanced_sample pushes the per-class limit into the window (WindowGroupLimit)",
            "WindowGroupLimit" in p,
            p[:300],
        )
    )
    p = plan("q_tfidf_top_terms")
    checks.append(
        (
            "q_tfidf_top_terms ends in TakeOrderedAndProject (top-k never centralizes)",
            "TakeOrderedAndProject" in p,
            p[:300],
        )
    )
    p = plan("q_length_histogram")
    checks.append(
        (
            "q_length_histogram partial+final agg, single exchange",
            "partial" in p.lower() and len(re.findall(r"Exchange", p)) == 1,
            p[:300],
        )
    )

    p = plan("q_text_repetition")
    checks.append(
        (
            "q_text_repetition is map-only (document-local mode, zero Exchange)",
            "Exchange" not in p,
            p[:300],
        )
    )
    p = plan("q_text_lm_quality")
    checks.append(
        (
            "q_text_lm_quality broadcasts the 38²-row LM (scoring side never shuffles for the join)",
            "BroadcastHashJoin" in p,
            p[:300],
        )
    )
    p = plan("q_sql_q21")
    checks.append(
        (
            "q_sql_q21 decorrelated EXISTS pair: lineitem shuffles once on the order key",
            len(re.findall(r"Exchange hashpartitioning\(l_orderkey", p)) == 1
            and "BroadcastHashJoin" in p,
            p[:300],
        )
    )

    p = plan("q_iqr_outliers")
    checks.append(
        (
            "q_iqr_outliers count-based quantile (no sort-based percentile buffer; broadcast fences), CDF window over the distinct-value aggregate",
            "percentile" not in p.lower()
            and "BroadcastHashJoin" in p
            and windows_over_aggregate(p),
            p[:300],
        )
    )
    p = plan("q_percentile_disc")
    checks.append(
        (
            "q_percentile_disc count-based quantile (no percentile aggregate in the plan), CDF window over the distinct-value aggregate",
            "percentile" not in p.lower()
            and "partial" in p.lower()
            and windows_over_aggregate(p),
            p[:300],
        )
    )
    p = plan("q_bitmap_distinct")
    checks.append(
        (
            "q_bitmap_distinct two thin partial-aggregable exchanges (no count-distinct expand)",
            len(re.findall(r"Exchange", p)) == 2
            and "partial" in p.lower()
            and "Expand" not in p,
            p[:300],
        )
    )
    p = plan("q_counter_increase")
    checks.append(
        (
            "q_counter_increase window + aggregate share ONE user_id exchange",
            len(re.findall(r"Exchange hashpartitioning\(user_id", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_autocorr_lag1")
    checks.append(
        (
            "q_autocorr_lag1 window + moment aggregate share ONE user_id exchange",
            len(re.findall(r"Exchange hashpartitioning\(user_id", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_table_checksum")
    checks.append(
        (
            "q_table_checksum partial+final agg, single exchange (reconciliation moves 4 scalars/group)",
            "partial" in p.lower() and len(re.findall(r"Exchange", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_holt_linear")
    checks.append(
        (
            "q_holt_linear folds each series inside its executor (single series-key exchange)",
            len(re.findall(r"Exchange hashpartitioning\(user_id", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_embed_quantize_int8")
    checks.append(
        (
            "q_embed_quantize_int8 map-only (zero Exchange — quantization is embarrassingly parallel)",
            "Exchange" not in p,
            p[:300],
        )
    )
    p = plan("q_domain_mix_sample")
    checks.append(
        (
            "q_domain_mix_sample map-side assignment + single audit exchange",
            "partial" in p.lower() and len(re.findall(r"Exchange", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_locf_fill")
    checks.append(
        (
            "q_locf_fill grid union + carry window on one series-key exchange pattern",
            len(re.findall(r"Exchange hashpartitioning\(user_id", p)) <= 2,
            p[:300],
        )
    )

    p = plan("q_attribution_last_touch")
    checks.append(
        (
            "q_attribution_last_touch tags via ONE user_id window exchange (no history self-join)",
            len(re.findall(r"Exchange hashpartitioning\(user_id", p)) == 1
            and "Join" not in p,
            p[:300],
        )
    )
    p = plan("q_spearman_rho")
    checks.append(
        (
            "q_spearman_rho rank maps from windows over the distinct-value"
            " aggregates, per-flag side moments broadcast, no percentile",
            windows_over_aggregate(p)
            and "BroadcastHashJoin" in p
            and "percentile" not in p.lower(),
            p[:300],
        )
    )
    p = plan("q_mann_whitney_u")
    checks.append(
        (
            "q_mann_whitney_u rank sums from a window over the (weekday, value) aggregate, never raw events",
            windows_over_aggregate(p),
            p[:300],
        )
    )
    p = plan("q_quantile_normalize")
    checks.append(
        (
            "q_quantile_normalize rank map from a window over the (event_type, v) aggregate + join-back",
            windows_over_aggregate(p),
            p[:300],
        )
    )
    p = plan("q_doc_keywords")
    checks.append(
        (
            "q_doc_keywords per-doc top-3 plans WindowGroupLimit (no full sort retention)",
            "WindowGroupLimit" in p,
            p[:300],
        )
    )
    p = plan("q_lateral_topk")
    checks.append(
        (
            "q_lateral_topk decorrelates to a window plan (single customer scan, no per-row subquery)",
            "Window" in p and len(re.findall(r"customer\.parquet", p)) <= 1,
            p[:300],
        )
    )
    p = plan("q_join_theta_bnl")
    checks.append(
        (
            "q_join_theta_bnl pure theta join → BroadcastNestedLoopJoin, never cartesian",
            "BroadcastNestedLoopJoin" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_vector_normalize")
    checks.append(
        (
            "q_vector_normalize map-only higher-order fold (zero Exchange)",
            "Exchange" not in p,
            p[:300],
        )
    )
    p = plan("q_boilerplate_strip")
    checks.append(
        (
            "q_boilerplate_strip boilerplate vocab broadcasts into map-side anti join",
            "BroadcastHashJoin" in p and "LeftAnti" in p,
            p[:300],
        )
    )
    p = plan("q_variant_json")
    checks.append(
        (
            "q_variant_json variant extraction stays in one partial+final aggregate",
            "partial" in p.lower() and len(re.findall(r"Exchange", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_cms_heavy_hitters")
    checks.append(
        (
            "q_cms_heavy_hitters top-10 plans TakeOrderedAndProject over broadcast-probed sketch",
            "TakeOrderedAndProject" in p and "BroadcastHashJoin" in p,
            p[:300],
        )
    )
    p = plan("q_sax_symbolize")
    checks.append(
        (
            "q_sax_symbolize ntile + ordered reassembly within ≤2 user_id exchanges",
            len(re.findall(r"Exchange hashpartitioning\(user_id", p)) <= 2,
            p[:300],
        )
    )
    p = plan("q_inventory_fifo")
    checks.append(
        (
            "q_inventory_fifo lot/demand cumsums partition on the part key",
            len(re.findall(r"Exchange hashpartitioning\((?:pk|l_partkey)", p)) >= 1,
            p[:300],
        )
    )

    p = plan("q_kmv_distinct")
    checks.append(
        (
            "q_kmv_distinct k-smallest via TakeOrdered, never a global sort",
            "TakeOrderedAndProject" in p and "Sort [hv" not in p,
            p[:300],
        )
    )
    p = plan("q_alloc_largest_remainder")
    checks.append(
        (
            "q_alloc_largest_remainder apportionment windows sit on the 25-row aggregate (fact table shuffles once on the join key)",
            len(re.findall(r"Exchange hashpartitioning\(c_nationkey", p)) <= 1,
            p[:300],
        )
    )
    p = plan("q_dup_ngram_coverage")
    checks.append(
        (
            "q_dup_ngram_coverage inverted-index plan: shuffles on the shingle key, no doc×doc join",
            len(re.findall(r"Exchange hashpartitioning\(s", p)) >= 1
            and "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
            p[:300],
        )
    )
    p = plan("q_ltv_cohort_curve")
    checks.append(
        (
            "q_ltv_cohort_curve cohort join reuses the o_custkey partitioning",
            len(re.findall(r"Exchange hashpartitioning\(o_custkey", p)) <= 2,
            p[:300],
        )
    )
    p = plan("q_union_by_name")
    checks.append(
        (
            "q_union_by_name shuffle-free partition concat with pruned branch scans",
            "Exchange" not in p and "Union" in p,
            p[:300],
        )
    )
    p = plan("q_partition_bounds")
    checks.append(
        (
            "q_partition_bounds collapses to distinct values map-side before the boundary window",
            len(re.findall(r"HashAggregate", p)) >= 2 and windows_over_aggregate(p),
            p[:300],
        )
    )

    p = plan("q_log2_histogram")
    checks.append(
        (
            "q_log2_histogram partial+final aggregate, single exchange",
            "partial" in p.lower() and len(re.findall(r"Exchange", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_lambda_array_suite")
    checks.append(
        (
            "q_lambda_array_suite map-only: zero exchanges, no Python UDF",
            "Exchange" not in p and "BatchEvalPython" not in p and "ArrowEval" not in p,
            p[:300],
        )
    )
    p = plan("q_auc_roc")
    checks.append(
        (
            "q_auc_roc rank stats on distinct scores (two HashAggregates), no row-level sort of the fact table",
            len(re.findall(r"HashAggregate", p)) >= 2 and windows_over_aggregate(p),
            p[:300],
        )
    )
    p = plan("q_dup_span_detect")
    checks.append(
        (
            "q_dup_span_detect inverted-index shape: shuffle on shingle, no doc-level cartesian",
            "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
            p[:300],
        )
    )
    p = plan("q_price_volume_bridge")
    checks.append(
        (
            "q_price_volume_bridge broadcasts the part dim",
            "BroadcastHashJoin" in p,
            p[:300],
        )
    )
    p = plan("q_vwap")
    checks.append(
        (
            "q_vwap single-pass weighted mean: one exchange, partial aggregation",
            "partial" in p.lower() and len(re.findall(r"Exchange", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_history_compress")
    checks.append(
        (
            "q_history_compress both windows + aggregate on one user_id exchange",
            len(re.findall(r"Exchange hashpartitioning\(user_id", p)) <= 1,
            p[:300],
        )
    )
    p = plan("q_scan_python_datasource")
    checks.append(
        (
            "q_scan_python_datasource scan enters the plan as a leaf source (no collect/parallelize)",
            "Scan" in p and "Exchange" in p,
            p[:300],
        )
    )

    p = plan("q_agg_bucketed")
    checks.append(
        (
            "q_agg_bucketed keyed aggregate reads buckets — zero l_orderkey exchange",
            len(re.findall(r"Exchange hashpartitioning\(l_orderkey", p)) == 0,
            p[:300],
        )
    )
    p = plan("q_join_dpp")
    checks.append(
        (
            "q_join_dpp fact scan carries a dynamicpruning partition filter",
            "dynamicpruning" in p.lower(),
            p[:300],
        )
    )
    p = plan("q_preagg_before_join")
    checks.append(
        (
            "q_preagg_before_join aggregates the fact table BELOW the join",
            p.lower().index("hashaggregate") > p.lower().index("join") or
            len(re.findall(r"HashAggregate", p)) >= 3,
            p[:300],
        )
    )
    m = re.search(r"ReadSchema: (struct<profile:[^\n]*)", plan("q_nested_schema_pruning"))
    checks.append(
        (
            "q_nested_schema_pruning scan reads only the two touched struct leaves",
            bool(m) and "payload" not in m.group(1) and "segment" not in m.group(1),
            str(m),
        )
    )
    p = plan("q_entity_sample")
    checks.append(
        (
            "q_entity_sample hash-draw is a map-side predicate (no sampling join)",
            "PushedFilters" in p or "Filter" in p,
            p[:300],
        )
    )
    p = plan("q_keyset_pagination")
    checks.append(
        (
            "q_keyset_pagination top-150 prefix is limit-pushed (TakeOrdered/WindowGroupLimit), never a full ranked materialization",
            "WindowGroupLimit" in p or "TakeOrderedAndProject" in p,
            p[:300],
        )
    )

    p = plan("q_role_playing_dim")
    checks.append(
        (
            "q_role_playing_dim both dim roles broadcast (2+ BroadcastHashJoins)",
            len(re.findall(r"BroadcastHashJoin", p)) >= 2,
            p[:300],
        )
    )
    p = plan("q_rolling_slope")
    checks.append(
        (
            "q_rolling_slope daily pre-agg + all four moment windows on one user_id exchange",
            len(re.findall(r"Exchange hashpartitioning\(user_id", p)) <= 1,
            p[:300],
        )
    )
    p = plan("q_accumulating_snapshot")
    checks.append(
        (
            "q_accumulating_snapshot one conditional-min pass: single exchange, partial aggregation",
            "partial" in p.lower() and len(re.findall(r"Exchange", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_preagg_before_join")
    checks.append(
        (
            "q_preagg_before_join join input is the aggregate, not the fact table",
            "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p,
            p[:300],
        )
    )

    # --- round-4 additions: batches 65-81 ---
    p = plan("q_column_checksums")
    checks.append(
        (
            "q_column_checksums ALL columns in ONE scan + ONE wide aggregate (not one scan per column)",
            len(re.findall(r"Scan parquet|FileScan", p)) == 1
            and len(re.findall(r"\bExchange", p)) == 1,
            p[:300],
        )
    )
    m = re.search(r"ReadSchema: (\S+)", plan("q_select_except"))
    checks.append(
        (
            "q_select_except prunes the scan to the three surviving columns (excluded expr never evaluated)",
            bool(m)
            and m.group(1).count(":") == 3
            and "o_comment" not in m.group(1),
            str(m),
        )
    )
    p = plan("q_temporal_cooccurrence")
    checks.append(
        (
            "q_temporal_cooccurrence hour-bucket basket: broadcast pair join, ≤2 exchanges, no cartesian",
            "BroadcastHashJoin" in p
            and "CartesianProduct" not in p
            and len(re.findall(r"\bExchange", p)) <= 2,
            p[:300],
        )
    )
    p = final_plan("q_backlog_curve")
    checks.append(
        (
            "q_backlog_curve sweep reuses the order-lifetime subtree at runtime (AQE stage dedup, fact join computed once)",
            p.count("ReusedExchange") >= 2,
            p[:300],
        )
    )
    p = final_plan("q_cte_reuse")
    checks.append(
        (
            "q_cte_reuse per-customer aggregate shuffles once for three consumers (ReusedExchange in the final plan)",
            p.count("ReusedExchange") >= 1,
            p[:300],
        )
    )
    p = plan("q_empty_relation")
    checks.append(
        (
            "q_empty_relation collapses to LocalTableScan at optimization time — zero file scans, zero exchanges",
            "LocalTableScan" in p
            and len(re.findall(r"Scan parquet|FileScan", p)) == 0
            and "Exchange" not in p,
            p[:300],
        )
    )
    p = plan("q_inline_dim_join")
    checks.append(
        (
            "q_inline_dim_join inline VALUES dim enters as a driver-local leaf and broadcasts",
            ("LocalTableScan" in p or "Scan ExistingRDD" in p)
            and "BroadcastHashJoin" in p,
            p[:300],
        )
    )
    p = plan("q_onehot_encode")
    checks.append(
        (
            "q_onehot_encode single partial+final aggregate (indicators are map-side expressions)",
            "partial" in p.lower() and len(re.findall(r"\bExchange", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_debounce")
    checks.append(
        (
            "q_debounce gap suppression: one user-series window exchange, no self-join",
            len(re.findall(r"Exchange hashpartitioning\(user_id", p)) == 1
            and "Join" not in p,
            p[:300],
        )
    )
    p = plan("q_minmax_scale")
    checks.append(
        (
            "q_minmax_scale lo/hi via broadcast aggregate, no window at all (round-9)",
            "windowspecdefinition" not in p and "BroadcastHashJoin" in p,
            p[:300],
        )
    )
    p = plan("q_mode_all_ties")
    checks.append(
        (
            "q_mode_all_ties frequency + max window + reassembly all on user_id exchanges only",
            len(re.findall(r"\bExchange", p)) <= 2
            and len(re.findall(r"Exchange hashpartitioning\(user_id", p)) >= 1,
            p[:300],
        )
    )
    p = plan("q_centered_ma")
    checks.append(
        (
            "q_centered_ma daily pre-agg + centered frame within ≤2 exchanges, one sort",
            len(re.findall(r"\bExchange", p)) <= 2
            and len(re.findall(r"\bSort \[", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_multi_offset_lags")
    checks.append(
        (
            "q_multi_offset_lags all three lag offsets share ONE sort",
            len(re.findall(r"\bSort \[", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_item_similarity")
    checks.append(
        (
            "q_item_similarity co-occurrence via basket join — no cartesian / nested-loop pair blow-up",
            "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
            p[:300],
        )
    )
    p = final_plan("q_graph_2hop")
    checks.append(
        (
            "q_graph_2hop edge list reused across hops (runtime ReusedExchange), no cartesian",
            p.count("ReusedExchange") >= 1 and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_decile_spread")
    checks.append(
        (
            "q_decile_spread count-based percentiles (no percentile buffer), CDF window over the distinct-value aggregate",
            "percentile" not in p.lower()
            and windows_over_aggregate(p),
            p[:300],
        )
    )
    p = plan("q_composition_shares")
    checks.append(
        (
            "q_composition_shares share-of-year window rides the aggregate output (one sort, ≤2 exchanges)",
            len(re.findall(r"\bSort \[", p)) == 1
            and len(re.findall(r"\bExchange", p)) <= 2,
            p[:300],
        )
    )
    p = plan("q_conversion_by_path")
    checks.append(
        (
            "q_conversion_by_path entry-path prefix is limit-pushed (WindowGroupLimit)",
            "WindowGroupLimit" in p,
            p[:300],
        )
    )
    p = plan("q_sla_compliance")
    checks.append(
        (
            "q_sla_compliance SLA dim + order dim both broadcast (fact side never shuffles for the joins)",
            len(re.findall(r"BroadcastHashJoin", p)) >= 2,
            p[:300],
        )
    )
    p = plan("q_model_score_broadcast")
    checks.append(
        (
            "q_model_score_broadcast model scalars broadcast to the scoring pass (no cartesian)",
            "BroadcastNestedLoopJoin" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )

    # --- round-4 batch 82-89 keys ---
    p = plan("q_shard_manifest")
    checks.append(
        (
            "q_shard_manifest one per-source exchange + ROWS-frame window + aggregate (one scan)",
            len(re.findall(r"\bExchange", p)) == 1
            and len(re.findall(r"Scan parquet|FileScan", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_partition_checksums")
    checks.append(
        (
            "q_partition_checksums one scan, one exchange (partition-axis drift localization)",
            len(re.findall(r"Scan parquet|FileScan", p)) == 1
            and len(re.findall(r"\bExchange", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_currency_convert")
    checks.append(
        (
            "q_currency_convert rate dim broadcasts; fact side shuffles once for the rollup",
            "BroadcastHashJoin" in p and len(re.findall(r"\bExchange", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_tax_brackets")
    checks.append(
        (
            "q_tax_brackets 4-row bracket dim broadcasts (BNL, never cartesian); one grouped aggregate",
            "BroadcastNestedLoopJoin" in p
            and "CartesianProduct" not in p
            and len(re.findall(r"\bExchange", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_event_rate_alert")
    checks.append(
        (
            "q_event_rate_alert hourly pre-agg + RANGE baseline window share the event_type exchanges (≤2, one sort)",
            len(re.findall(r"\bExchange", p)) <= 2
            and len(re.findall(r"\bSort \[", p)) == 1
            and "RangeFrame" in p,
            p[:300],
        )
    )
    p = final_plan("q_skew_report")
    checks.append(
        (
            "q_skew_report per-key exchange computed once (AQE reuse); top-10 via TakeOrdered, window-free (round-8)",
            "ReusedExchange" in p
            and "TakeOrderedAndProject" in p
            and "Window" not in p,
            p[:300],
        )
    )
    p = plan("q_embed_dim_stats")
    checks.append(
        (
            "q_embed_dim_stats single partial+final aggregate over the posexplode (map-side combine)",
            "partial" in p.lower() and len(re.findall(r"\bExchange", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_join_existence_matrix")
    checks.append(
        (
            "q_join_existence_matrix fact aggregates BEFORE the join (one fact shuffle, broadcast probe)",
            len(re.findall(r"Exchange hashpartitioning\(o_custkey", p)) == 1
            and "BroadcastHashJoin" in p,
            p[:300],
        )
    )
    p = final_plan("q_audience_overlap")
    checks.append(
        (
            "q_audience_overlap inverted-index shape: the distinct-membership subtree reuses at runtime (3 consumers, ≥1 ReusedExchange), sizes broadcast, no cartesian",
            p.count("ReusedExchange") >= 1
            and "CartesianProduct" not in p
            and "BroadcastHashJoin" in p,
            p[:300],
        )
    )
    p = plan("q_pivot_multi_agg")
    checks.append(
        (
            "q_pivot_multi_agg all value×measure cells in one partial+final aggregate pair",
            "partial" in p.lower() and len(re.findall(r"\bExchange", p)) <= 2,
            p[:300],
        )
    )

    # --- round-5 batches 95-97 ---
    p = plan("q_m4_downsample")
    checks.append(
        (
            "q_m4_downsample all four extreme-role windows share ONE exchange",
            len(re.findall(r"Exchange hashpartitioning", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_priority_sample")
    checks.append(
        (
            "q_priority_sample top-k via TakeOrderedAndProject, zero hash shuffles (only top rows move)",
            "TakeOrderedAndProject" in p
            and len(re.findall(r"Exchange hashpartitioning", p)) == 0,
            p[:300],
        )
    )
    p = plan("q_semi_additive_balance")
    checks.append(
        (
            "q_semi_additive_balance closing-balance argmax is WindowGroupLimit-pruned",
            "WindowGroupLimit" in p,
            p[:300],
        )
    )
    p = plan("q_lttb_downsample")
    checks.append(
        (
            "q_lttb_downsample per-bucket argmax WindowGroupLimit-pruned, no cartesian",
            "WindowGroupLimit" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_poisson_bootstrap")
    checks.append(
        (
            "q_poisson_bootstrap 32-replica fan-out is a broadcast loop inside the scan stage; one partial+final agg",
            "BroadcastNestedLoop" in p
            and "partial" in p.lower()
            and len(re.findall(r"Exchange hashpartitioning", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_rendezvous_hash")
    checks.append(
        (
            "q_rendezvous_hash node grid broadcast, no cartesian product",
            "BroadcastNestedLoop" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_bitemporal_join")
    checks.append(
        (
            "q_bitemporal_join 9-row anchor grid broadcast; per-cell argmax WindowGroupLimit-pruned",
            "BroadcastNestedLoop" in p
            and "WindowGroupLimit" in p
            and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_kfold_assign")
    checks.append(
        (
            "q_kfold_assign fold totals probe back via BroadcastHashJoin",
            "BroadcastHashJoin" in p,
            p[:300],
        )
    )
    p = plan("q_epoch_plan")
    checks.append(
        (
            "q_epoch_plan scalar corpus total broadcast (1-row BNLJ), no cartesian",
            "BroadcastNestedLoop" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )

    # --- round-5 batches 98-100 ---
    p = plan("q_diff_in_diff")
    checks.append(
        (
            "q_diff_in_diff all 2x2 cells in ONE pass: zero hash shuffles, one partial+final to a single row",
            "partial" in p.lower()
            and len(re.findall(r"Exchange hashpartitioning", p)) == 0
            and p.count("Exchange SinglePartition") == 1,
            p[:300],
        )
    )
    p = plan("q_ratio_delta_method")
    checks.append(
        (
            "q_ratio_delta_method two aggregates only (unit exchange + group exchange)",
            len(re.findall(r"Exchange hashpartitioning", p)) <= 2,
            p[:300],
        )
    )
    p = plan("q_neyman_allocation")
    checks.append(
        (
            "q_neyman_allocation scalar weight total broadcast, no cartesian",
            "BroadcastNestedLoop" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_term_pmi")
    checks.append(
        (
            "q_term_pmi capped vocab probes via BroadcastHashJoin, no cartesian",
            "BroadcastHashJoin" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = final_plan("q_cuped")
    checks.append(
        (
            "q_cuped unit-aggregate subtree computed ONCE at runtime (ReusedExchange)",
            p.count("ReusedExchange") >= 1,
            p[:300],
        )
    )
    p = plan("q_mde_power")
    checks.append(
        (
            "q_mde_power one partial+final aggregate, single exchange",
            "partial" in p.lower()
            and len(re.findall(r"Exchange hashpartitioning", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_quantile_treatment_effect")
    checks.append(
        (
            "q_quantile_treatment_effect 4-row p-grid broadcast, no cartesian, CDF window over the map-side value collapse",
            "BroadcastNestedLoop" in p
            and "CartesianProduct" not in p
            and "partial" in p.lower()
            and windows_over_aggregate(p),
            p[:300],
        )
    )
    p = plan("q_post_stratified_ate")
    checks.append(
        (
            "q_post_stratified_ate one fact scan: cells aggregate + strata fold only",
            len(re.findall(r"Exchange hashpartitioning", p)) == 2,
            p[:300],
        )
    )
    p = final_plan("q_shapley_attribution")
    checks.append(
        (
            "q_shapley_attribution per-user mask subtree reused at runtime; lattice joins broadcast",
            p.count("ReusedExchange") >= 1 and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_kmv_set_ops")
    checks.append(
        (
            "q_kmv_set_ops per-source bottom-k via WindowGroupLimit, no cartesian",
            "WindowGroupLimit" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_uplift_deciles")
    checks.append(
        (
            "q_uplift_deciles global rank window over the user-grain aggregate",
            windows_over_aggregate(p),
            p[:300],
        )
    )
    p = plan("q_two_proportion_ztest")
    checks.append(
        (
            "q_two_proportion_ztest user-grain aggregate then one-row reduce (1 hash + 1 single exchange)",
            len(re.findall(r"Exchange hashpartitioning", p)) == 1
            and p.count("Exchange SinglePartition") == 1,
            p[:300],
        )
    )

    # --- round-5 batches 101-104 ---
    p = plan("q_scd3_dim")
    checks.append(
        (
            "q_scd3_dim argmaxes WindowGroupLimit-pruned, joins broadcast or co-keyed, no cartesian",
            "WindowGroupLimit" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_knn_graph_blocked")
    checks.append(
        (
            "q_knn_graph_blocked salted grid-cell pair stage (not bare label-keyed); "
            "per-vector top-k WindowGroupLimit-pruned",
            "WindowGroupLimit" in p
            and "CartesianProduct" not in p
            # the pair join must key on the salted (block, _ga, _gb) cell,
            # never on the bare label (parallelism <= |labels|). The
            # per-block count aggregate of auto-sizing legitimately
            # exchanges on label (one output row per block), so the probe
            # targets the PAIR join: every join line mentioning the pair
            # ids must carry the salt in its key list.
            and re.search(r"Exchange hashpartitioning\(block[^)]*_ga", p) is not None
            and all(
                "_ga" in ln
                for ln in p.splitlines()
                if re.search(r"Join .*id_a", ln)
            ),
            p[:300],
        )
    )
    p = plan("q_knn_recall_eval")
    checks.append(
        (
            "q_knn_recall_eval probes broadcast (corpus never shuffles for scoring), top-k pruned",
            "BroadcastHashJoin" in p
            and "WindowGroupLimit" in p
            and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_incr_join_maintenance")
    checks.append(
        (
            "q_incr_join_maintenance small delta sides broadcast; one partial+final census",
            "BroadcastHashJoin" in p and "partial" in p.lower(),
            p[:300],
        )
    )
    p = plan("q_delete_vectors_apply")
    checks.append(
        (
            "q_delete_vectors_apply tombstone side broadcast into the scan stage",
            "BroadcastHashJoin" in p
            and len(re.findall(r"Exchange hashpartitioning", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_bootstrap_diff_ci")
    checks.append(
        (
            "q_bootstrap_diff_ci replica fan-out broadcast inside the scan; one partial+final to 32 rows",
            "BroadcastNestedLoop" in p
            and len(re.findall(r"Exchange hashpartitioning", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_watermark_sweep")
    checks.append(
        (
            "q_watermark_sweep six candidate delays from ONE scan via broadcast grid",
            "BroadcastNestedLoop" in p
            and len(re.findall(r"Exchange hashpartitioning", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_cross_correlation")
    checks.append(
        (
            "q_cross_correlation fact collapses to days first; lag algebra on the rollup only",
            "partial" in p.lower() and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_fano_dispersion")
    checks.append(
        (
            "q_fano_dispersion two map-side-combinable aggregates, nothing else",
            len(re.findall(r"Exchange hashpartitioning", p)) == 2
            and "partial" in p.lower(),
            p[:300],
        )
    )
    p = plan("q_ngram_novelty")
    checks.append(
        (
            "q_ngram_novelty inverted-index shape (shingle agg + join-back), never doc×doc",
            "CartesianProduct" not in p and "partial" in p.lower(),
            p[:300],
        )
    )
    p = plan("q_offline_policy_eval")
    checks.append(
        (
            "q_offline_policy_eval ONE pass: zero hash shuffles, single one-row reduce",
            len(re.findall(r"Exchange hashpartitioning", p)) == 0
            and p.count("Exchange SinglePartition") == 1,
            p[:300],
        )
    )
    p = plan("q_arc_elasticity")
    checks.append(
        (
            "q_arc_elasticity both eras in one conditional-aggregate scan (single exchange)",
            len(re.findall(r"Exchange hashpartitioning", p)) == 1
            and "partial" in p.lower(),
            p[:300],
        )
    )
    p = plan("q_sla_burn_rate")
    checks.append(
        (
            "q_sla_burn_rate both windows from one scan; anchor broadcast",
            "BroadcastNestedLoop" in p
            and len(re.findall(r"Exchange hashpartitioning", p)) == 1,
            p[:300],
        )
    )

    # --- round-5 batches 105-107 ---
    p = plan("q_relational_division")
    checks.append(
        (
            "q_relational_division distinct-pair collapse + broadcast divisor (no correlated rescan)",
            "BroadcastHashJoin" in p and "partial" in p.lower(),
            p[:300],
        )
    )
    p = plan("q_rank_biased_overlap")
    checks.append(
        (
            "q_rank_biased_overlap two TakeOrdered top-10s, zero hash shuffles",
            "TakeOrderedAndProject" in p
            and len(re.findall(r"Exchange hashpartitioning", p)) == 0,
            p[:300],
        )
    )
    for key, desc in [
        ("q_mcnemar_test", "ONE pass to one row (no hash shuffle)"),
        ("q_cohen_kappa", "ONE pass to one row (no hash shuffle)"),
    ]:
        p = plan(key)
        checks.append(
            (
                f"{key} {desc}",
                len(re.findall(r"Exchange hashpartitioning", p)) == 0
                and p.count("Exchange SinglePartition") == 1,
                p[:300],
            )
        )
    p = plan("q_cost_threshold")
    checks.append(
        (
            "q_cost_threshold broadcast-grid confusion scan, no cartesian",
            "BroadcastNestedLoop" in p
            and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_matched_pairs_att")
    checks.append(
        (
            "q_matched_pairs_att as-of carries via struct-extrema windows over the user-grain aggregate, no candidate explosion",
            "CartesianProduct" not in p
            and windows_over_aggregate(p),
            p[:300],
        )
    )
    p = plan("q_interim_analysis")
    checks.append(
        (
            "q_interim_analysis all three interim cuts from ONE conditional-aggregate scan",
            "BroadcastNestedLoop" in p
            and len(re.findall(r"Exchange hashpartitioning", p)) == 1,
            p[:300],
        )
    )
    p = plan("q_eb_shrinkage")
    checks.append(
        (
            "q_eb_shrinkage global rate broadcast; map-side shrinkage arithmetic",
            "BroadcastNestedLoop" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_pairwise_bonferroni")
    checks.append(
        (
            "q_pairwise_bonferroni one aggregate + broadcast self-join of the 5-row stats",
            "BroadcastNestedLoop" in p
            and "partial" in p.lower()
            and "CartesianProduct" not in p,
            p[:300],
        )
    )

    # --- round-5 batches 108-110 ---
    for key in ["q_capture_recapture", "q_vocab_richness",
                "q_hash_collision_audit"]:
        p = plan(key)
        checks.append(
            (
                f"{key} one keyed aggregate + one-row/window reduce (1 hash + 1 single exchange)",
                len(re.findall(r"Exchange hashpartitioning", p)) == 1
                and p.count("Exchange SinglePartition") == 1,
                p[:300],
            )
        )
    p = plan("q_page_hinkley")
    checks.append(
        (
            "q_page_hinkley two aggregates then per-series bounded fold (no extra shuffles)",
            len(re.findall(r"Exchange hashpartitioning", p)) == 2
            and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_benjamini_hochberg")
    checks.append(
        (
            "q_benjamini_hochberg broadcast pair self-join, no cartesian",
            "BroadcastNestedLoop" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_simpson_detect")
    checks.append(
        (
            "q_simpson_detect pooled sign broadcast to strata, no cartesian",
            "BroadcastNestedLoop" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_newsvendor")
    checks.append(
        (
            "q_newsvendor Q* joined back via BroadcastHashJoin",
            "BroadcastHashJoin" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )
    p = plan("q_haberman_residuals")
    checks.append(
        (
            "q_haberman_residuals margins computed on the tiny cell table (1 fact exchange)",
            len(re.findall(r"Exchange hashpartitioning", p)) == 1,
            p[:300],
        )
    )

    # --- round-5 batches 111-112 ---
    p = plan("q_brier_score")
    checks.append(
        (
            "q_brier_score ONE map-side-combinable pass to one row (zero hash shuffles)",
            len(re.findall(r"Exchange hashpartitioning", p)) == 0
            and p.count("Exchange SinglePartition") == 1,
            p[:300],
        )
    )
    p = plan("q_inspection_paradox")
    checks.append(
        (
            "q_inspection_paradox one lag window + one-row reduce (1 hash + 1 single exchange)",
            len(re.findall(r"Exchange hashpartitioning", p)) == 1
            and p.count("Exchange SinglePartition") == 1,
            p[:300],
        )
    )
    p = plan("q_wilson_interval")
    checks.append(
        (
            "q_wilson_interval two map-side-combinable aggregates only",
            len(re.findall(r"Exchange hashpartitioning", p)) == 2
            and "partial" in p.lower(),
            p[:300],
        )
    )
    p = plan("q_mann_kendall")
    checks.append(
        (
            "q_mann_kendall pair algebra on the broadcast daily rollup, no cartesian",
            "BroadcastHashJoin" in p and "CartesianProduct" not in p,
            p[:300],
        )
    )
    for key in ["q_expected_calibration_error", "q_risk_coverage"]:
        p = plan(key)
        checks.append(
            (
                f"{key} rank and row count from windows over ONE scan of the scored rows",
                len(re.findall(r"Scan parquet", p)) == 1 and "Window [" in p,
                p[:300],
            )
        )
    p = plan("q_abc_xyz")
    checks.append(
        (
            "q_abc_xyz running share window over the part aggregate",
            windows_over_aggregate(p),
            p[:300],
        )
    )
    p = plan("q_qini_curve")
    checks.append(
        (
            "q_qini_curve global rank window over the user-grain aggregate + broadcast triangular decile cumulatives",
            windows_over_aggregate(p)
            and "BroadcastNestedLoop" in p
            and "CartesianProduct" not in p,
            p[:300],
        )
    )



    # ---- round-9 rule (session 2): no shuffle JOIN keyed only by a
    # bounded enum over corpus-scaled input ----
    # The join-side sibling of the enum-window rule, found while scaling
    # the similarity tier: a self-join ON a.label = b.label with B
    # distinct labels plans as Exchange hashpartitioning(label) ->
    # SortMergeJoin — AT MOST B tasks own ALL the O(Σ n_b²) pair work at
    # any cluster size (measured: q_knn_graph_blocked pinned ~10 of 32
    # cores at sf1 until rewritten onto salted_block_pairs). The rule:
    # every Exchange hashpartitioning whose keys are ALL bounded-enum
    # columns and whose ancestor chain reaches a SortMergeJoin /
    # ShuffledHashJoin must be provably bounded below (scalar aggregate,
    # limit, or an aggregate keyed only by enums — <= Π|enum| rows), or
    # the key sits in ENUM_JOIN_OK with a one-line justification.

    def _ancestor_reaches_shuffle_join(lines: list[str], i: int, d: int) -> bool:
        j, cur = i - 1, d
        while j >= 0 and cur > 0:
            dj = max(_indent(lines[j]), 0)
            if dj < cur:
                a = lines[j]
                cur = dj
                if re.search(r"SortMergeJoin|ShuffledHashJoin", a):
                    return True
                if re.search(r"Aggregate|Limit|TakeOrdered|Window|BroadcastHashJoin", a):
                    return False
            j -= 1
        return False

    def enum_partition_joins(p: str) -> list[str]:
        lines = p.splitlines()
        hits = []
        for i, ln in enumerate(lines):
            m = re.search(r"Exchange hashpartitioning\(([^)]*)\)", ln)
            if m is None:
                continue
            attrs = re.findall(r"(\w+)#\d+", m.group(1))
            if not attrs or not all(a in ENUM_JOIN_COLS for a in attrs):
                continue
            d = _indent(ln)
            if not _ancestor_reaches_shuffle_join(lines, i, d):
                continue
            bounded = False
            for k in range(i + 1, len(lines)):
                dk = _indent(lines[k])
                if dk != -1 and dk <= d:
                    break
                agg = re.search(r"Aggregate\(keys=\[([^\]]*)\]", lines[k])
                if (
                    re.search(r"Limit|TakeOrdered", lines[k])
                    or (
                        agg is not None
                        and all(
                            a in ENUM_JOIN_COLS
                            for a in re.findall(r"(\w+)#\d+", agg.group(1))
                        )
                    )
                ):
                    bounded = True
                    break
                if agg is not None or "Exchange" in lines[k]:
                    break
            if not bounded:
                hits.append(ln.strip()[:120])
        return hits


    generic_failed: list[str] = []
    for key in sorted(REGISTRY):
        try:
            p = plan(key)
        except Exception as e:  # noqa: BLE001
            checks.append((f"{key} [generic] plan compiles", False, str(e)[:200]))
            generic_failed.append(key)
            continue
        bad = []
        if "CartesianProduct" in p:
            bad.append("CartesianProduct")
        if "BatchEvalPython" in p and key not in ROW_PYTHON_OK:
            bad.append("BatchEvalPython (row-at-a-time Python)")
        epj = enum_partition_joins(p)
        if epj and key not in ENUM_JOIN_OK:
            bad.append(f"Shuffle join keyed only by bounded enum ({epj[0]})")
        checks.append(
            (
                f"{key} [generic] no cartesian, no row-Python, no enum-keyed shuffle join",
                not bad,
                ", ".join(bad),
            )
        )
        if bad:
            generic_failed.append(key)

    failed = 0
    for name, ok, detail in checks:
        print(f"{'PASS' if ok else 'FAIL'}  {name}")
        if not ok:
            failed += 1
            print(f"      {detail}")
    print(f"\n{len(checks) - failed}/{len(checks)} plan checks passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
