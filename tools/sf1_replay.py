"""sf1-scale replay of the heavy tier (round-8 verdict item 5).

The driver testdata stops at sf0.1 (read-only), so this tool DERIVES a
10x dataset from the driver's own sf0.1 tables — no invented data:
each corpus-scaled table is unioned 10 times with key shifts that
preserve referential integrity (orderkey/custkey/partkey/suppkey/
event_id/user_id/doc_id/vec_id += copy * 50M); the fixed dimensions
(region, nation) copy once; timestamps, values, and text are untouched
(documents therefore form exact clone groups of 10 — a dup-heavy corpus,
which is precisely the regime the dedup tier must survive). The derived
tables live under .scratch (never committed) and are used ONLY for this
scale/stress replay — the correctness gates stay on the driver's own
parquet at sf0.001/0.01/0.1.

For every replayed key the Spark side must complete with zero errors at
~6M lineitem rows / 1M events / 50k docs. Keys whose DuckDB twin is
tractable at this scale get a full differential (rows + columns +
order-insensitive full-precision values — both engines read the SAME
derived files, so the comparison is as binding as the driver's);
the LSH/ANN/components tier records rows-only + timing (their twins are
the >120s-capped quadratic formulations already documented at sf0.1).

Writes SCALE_sf1_replay.json (committed artifact).

Round 11 (verdict item 3 — the scale ladder past sf1): the derivation,
cases and runner are COPIES-parametric. ``--copies 30`` derives an
sf3-equivalent corpus (18M lineitem / 3M events / 150k docs, clone
groups of 30) into .scratch/sf3_derived and replays the HEAVY tier
(dedup, similarity, two-pass rank keys), writing SCALE_sf3_replay.json.
Comparing the sf1 and sf3 artifacts gives the two-scale growth curves:
the exact pair paths' Σdf² / Σbucket² grow quadratically in clone
multiplicity, the capped paths bound the hottest KEY (max per-key work ≤
cap², i.e. the straggler) at every scale, and the exact-dedup-first legs
stay FLAT — the linear 100 TB pipeline order, measured at two scales.

Run: python tools/sf1_replay.py [--copies N]
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
import time

import duckdb

sys_path = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
import sys  # noqa: E402

sys.path.insert(0, sys_path)
sys.path.insert(0, os.path.join(sys_path, "tools"))

from oracle_check import _norm_rows  # noqa: E402

from etl_pipeline_project_spark.queries import REGISTRY, ORACLE  # noqa: E402
from etl_pipeline_project_spark.schemas import TESTDATA_TABLES  # noqa: E402
from etl_pipeline_project_spark.session import get_spark  # noqa: E402
from etl_pipeline_project_spark.sources.readers import load_table  # noqa: E402

SRC = "/root/testdata/sf0.1"
COPIES = 10  # --copies N overrides; sf label = N/10 (SRC is sf0.1)
SHIFT = 50_000_000


def _label(copies: int) -> str:
    sf = copies / 10
    return f"sf{sf:g}"


OUT = os.path.join(sys_path, ".scratch", f"{_label(COPIES)}_derived")

# key columns to shift per table (referential integrity preserved)
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_ONCE = ["region", "nation"]

# per-twin cap: q_skyline's NOT-EXISTS twin is O(n^2) by design and
# already intractable at 1.5M orders; any other twin that exceeds the
# cap degrades to a recorded "twin_timeout" instead of hanging the run
TWIN_TIMEOUT_SEC = 180.0
# round-11 (verdict item 4, "raise the cap once and record the number"):
# the connected-components twins pay a measured ~128s 113M-row pair
# aggregate on the clone-dense sf1 corpus — within the default cap on a
# quiet host but inside its variance band, so they get an explicit
# higher cap instead of a flaky default
TWIN_TIMEOUT_OVERRIDES = {
    "q_dedup_groups": 600.0,
    "q_cluster_size_stats": 600.0,
    # round-12 (verdict item 3): the three sf3 twin_timeouts adjudicated
    # the "raise the cap once and record the number" way — their pair
    # work grows ~quadratically in clone multiplicity (sf1 oracle_sec
    # 26.5 / 29.6 / 72.6 → ~9x at sf3), so the 180s default was a cap
    # collision, not an open question
    "q_dedup_threshold_sweep": 900.0,
    "q_embed_neardup": 900.0,
    "q_knn_graph_blocked": 1800.0,
    # linear-in-docs signature-building twins: 48.9 s / 57.6 s at sf3 →
    # ~3.3x at sf10 clears the 180 s default without being a hazard
    "q_dedup_simhash": 900.0,
    "q_dedup_simhash_capped": 900.0,
}

# Quadratic-in-clone-multiplicity Spark legs excluded from the sf10 tier
# (copies >= 100): their sf3 measurements extrapolate to 23-70 min EACH
# (e.g. q_dedup_minhash_lsh 376 s at 30 copies → ~(100/30)² ≈ 4200 s),
# which is the documented anti-pattern the dedup-first pipeline order
# exists to avoid — the growth curve for these legs is measured at
# sf1→sf3 and the sf10 artifact records the exclusion explicitly in
# __meta__ (no silent caps).
SF10_EXCLUDED = [
    "q_dedup_minhash_lsh", "q_dedup_containment", "q_ngram_jaccard",
    "q_dedup_groups", "q_cluster_size_stats",
]

# order-statistics keys: full differential vs twins
TWIN_KEYS = [
    # global rank / running-sum windows (q_skyline's quadratic
    # NOT-EXISTS twin runs rows-only below)
    "q_ntile_quartiles", "q_ks_test", "q_partition_bounds",
    "q_auc_roc", "q_id_gap_ranges", "q_abc_classes", "q_gains_table",
    "q_calibration_bins", "q_uplift_deciles", "q_cost_threshold",
    "q_matched_pairs_att", "q_abc_xyz", "q_palma_ratio",
    "q_expected_calibration_error", "q_qini_curve", "q_risk_coverage",
    "q_skew_report", "q_time_weighted_avg",
    # per-group rank / CDF windows over distinct-value tables
    "q_spearman_rho", "q_mann_whitney_u", "q_quantile_normalize",
    "q_window_rank_semantics", "q_weighted_median", "q_quantiles",
    "q_percentile_disc", "q_iqr_outliers", "q_decile_spread",
    "q_quantile_treatment_effect", "q_minmax_scale",
    "q_window_distribution",
    # round-9 salted_block_pairs rewrites: after the salted grid-cell
    # join + codegen'd dots, the DuckDB twins finish in 37 s / 77 s on
    # the derived tables (measured), so these upgrade from rows-only to
    # the full hash-match differential — Spark wins 4-6x at this scale
    "q_embed_neardup", "q_knn_graph_blocked",
    # round-10 upgrades from rows-only (verdict item 5 tail): these six
    # twins are sub-second-to-seconds at sf0.1 and linear-ish in data
    # (hash/fingerprint/simhash maps, broadcast-probe ANN), so the full
    # differential is tractable on the derived tables
    "q_dedup_exact_docs", "q_dedup_normalized", "q_doc_fingerprint",
    "q_dedup_simhash", "q_ann_bruteforce", "q_ann_ivf",
    # round-11 upgrades: the inverted-index twin restatement (queries.py,
    # round-11) makes these tractable at this scale — full differential
    # instead of rows-only/timeout
    "q_dedup_groups", "q_cluster_size_stats",
    # round-11 capped-path keys: the max_df/max_bucket production
    # configurations, differential at scale (their twins apply the same
    # cap, so the joins they verify are bounded by construction).
    # (q_dedup_threshold_sweep / q_blocking_eval — the r10 twin_timeout
    # pair — already sit in MID_TIER_KEYS; their restated inverted-index
    # twins now complete there.)
    "q_dedup_jaccard_capped", "q_dedup_simhash_capped",
]
# dedup / similarity tier: Spark must run clean at scale; twins are the
# documented >120s quadratic formulations — rows-only here
ROWS_ONLY_KEYS = [
    "q_skyline",
    "q_dedup_minhash_lsh", "q_cross_source_dups", "q_split_leakage",
    "q_ngram_jaccard", "q_dedup_containment",
]

# round-11 heavy tier for the sf3+ ladder (--copies != 10): the keys
# whose scale behavior the ladder is meant to measure — dedup,
# similarity, the capped production paths, and the order-statistics
# windows — full differential where the twin is linear-ish, rows-only
# where it is the documented quadratic formulation. Twins that outgrow
# TWIN_TIMEOUT degrade to a recorded twin_timeout, never a hang.
HEAVY_TWIN_KEYS = [
    "q_dedup_exact_docs", "q_dedup_normalized", "q_doc_fingerprint",
    "q_dedup_simhash", "q_ann_bruteforce", "q_ann_ivf",
    "q_dedup_jaccard_capped", "q_dedup_simhash_capped",
    "q_embed_neardup", "q_knn_graph_blocked",
    "q_dedup_threshold_sweep", "q_blocking_eval",
    "q_spearman_rho", "q_mann_whitney_u", "q_quantiles",
    "q_percentile_disc", "q_weighted_median", "q_iqr_outliers",
    "q_ks_test", "q_ntile_quartiles", "q_quantile_normalize",
    "q_window_distribution", "q_decile_spread", "q_minmax_scale",
    "q_time_weighted_avg", "q_auc_roc",
    # the rest of the order-statistics windows; the per-entity inputs
    # (users, orders, documents) grow with the copies
    "q_partition_bounds", "q_id_gap_ranges", "q_abc_classes",
    "q_gains_table", "q_calibration_bins", "q_uplift_deciles",
    "q_cost_threshold", "q_matched_pairs_att", "q_abc_xyz",
    "q_palma_ratio", "q_expected_calibration_error", "q_qini_curve",
    "q_risk_coverage", "q_window_rank_semantics",
    "q_quantile_treatment_effect",
]
HEAVY_ROWS_ONLY = [
    "q_dedup_minhash_lsh", "q_ngram_jaccard", "q_dedup_containment",
    "q_cross_source_dups", "q_split_leakage", "q_skyline",
    # components twins pay a ~1B-row pair aggregate at sf3 (9x the
    # measured 113M at sf1, where they run ~190s) — Spark-side scale
    # evidence only at this tier; their differential lives at sf1
    "q_dedup_groups", "q_cluster_size_stats",
]

# round-10 widening (verdict item 5): a deterministic mid-tier sample —
# every 2nd key (sorted) of the oracled, non-streaming registry keys
# whose committed sf0.1 cost sits in [0.4, 3.0] s and that weren't
# already replayed, first 30. Full differential; slow twins degrade to
# the recorded twin_timeout, never hang the run.
MID_TIER_KEYS = [
    "q_ab_welch_ttest", "q_agg_cube", "q_agg_sum_by_dim",
    "q_allen_relations", "q_arc_elasticity", "q_assoc_confidence",
    "q_attribution_linear", "q_autocorr_lag1", "q_benjamini_hochberg",
    "q_bipartite_degree", "q_blocking_eval", "q_bloom_prune_semi",
    "q_bollinger_bands", "q_business_days", "q_cms_heavy_hitters",
    "q_compact_files", "q_corr_exact", "q_cuped",
    "q_daily_percentile_bands", "q_dedup_keyed",
    "q_dedup_threshold_sweep", "q_diff_in_diff", "q_dq_referential",
    "q_dup_ngram_coverage", "q_emd_tcloseness", "q_fd_audit",
    "q_feature_hash", "q_geo_radius_join", "q_graph_2hop",
    "q_group_vs_rest",
]


def task_metrics(log_dir: str) -> dict[str, dict]:
    """Per-key task metrics from the stopped session's event log: each key
    runs under a job group named after it, so its stages are the stages
    of the jobs in that group. Per key: the largest task peak execution
    memory, the bytes spilled (memory and disk), the longest task's wall
    time and the task count."""
    (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    stage_key: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                key = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if key:
                    for sid in ev["Stage IDs"]:
                        stage_key[sid] = key
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_key:
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                rec = out.setdefault(
                    stage_key[ev["Stage ID"]],
                    {"peak_exec_mem_bytes": 0, "spill_mem_bytes": 0,
                     "spill_disk_bytes": 0, "longest_task_ms": 0, "tasks": 0},
                )
                rec["peak_exec_mem_bytes"] = max(
                    rec["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
                )
                rec["spill_mem_bytes"] += m.get("Memory Bytes Spilled", 0)
                rec["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
                rec["longest_task_ms"] = max(
                    rec["longest_task_ms"], info["Finish Time"] - info["Launch Time"]
                )
                rec["tasks"] += 1
    return out


def build_derived(spark) -> None:
    if os.path.isdir(OUT) and all(
        os.path.exists(f"{OUT}/{t}.parquet") for t in TESTDATA_TABLES
    ):
        return
    os.makedirs(OUT, exist_ok=True)
    from pyspark.sql import functions as F

    for t in TESTDATA_TABLES:
        dst = f"{OUT}/{t}.parquet"
        if os.path.exists(dst):
            continue
        df = load_table(spark, SRC, t)
        if t in COPY_ONCE:
            out = df
        else:
            keys = KEYED[t]
            parts = []
            for i in range(COPIES):
                c = df
                for k in keys:
                    c = c.withColumn(k, F.col(k) + F.lit(i * SHIFT))
                parts.append(c)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        # NTZ on write: DuckDB then sees naive wall-clock timestamps
        # exactly like the driver's NANOS-NTZ originals
        for f in out.schema.fields:
            if str(f.dataType) == "TimestampType()":
                out = out.withColumn(f.name, F.col(f.name).cast("timestamp_ntz"))
        tmp = f"{OUT}/_tmp_{t}"
        n_files = max(4, (4 * COPIES) // 10) if t == "lineitem" else 1
        out.coalesce(n_files).write.mode("overwrite").parquet(tmp)
        files = sorted(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        if len(files) == 1:
            shutil.move(os.path.join(tmp, files[0]), dst)
            shutil.rmtree(tmp)
        else:
            # multi-part: keep the directory, glob-readable by both engines
            shutil.move(tmp, dst)
        print(f"derived {t}: {dst}", flush=True)


FOOTER = " copyright footer terms privacy contact about"
HOT_CAP = 1000


def hot_shingle_case(spark) -> dict:
    """Planted-hot-shingle case (round-10 verdict item 1b): append a
    6-word boilerplate footer to EVERY doc of one source block of the
    sf1-derived corpus (the web page-footer regime — block src0 holds
    10 x 250 = 2500 docs after derivation, so each footer shingle's
    posting list is df = 2500).

    Proves three things, all MEASURED (the operators' own df.observe
    metrics, not plan reading):
    1. the exact default is in the hot regime here — predicted pair
       rows jump by Σ df² ≈ 4·2500² ≈ 25M on 4 keys, and the
       skew_audit fair-share gate fires;
    2. the max_df=1000 capped path bounds what the join consumes
       (observed max_df ≤ cap) and completes in bounded time;
    3. the cap's exactness trade is the documented one: the derived
       corpus's TRUE duplicates (exact clone groups of 10) all survive
       — only boilerplate-dominated overlap is under-counted.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_pipeline_project_spark.operators.dedup_text import (
        containment_pairs,
        jaccard_pairs,
        word_shingles,
    )
    from tools.skew_audit import FAIR_SHARE_PARTS, SMALL_DATA_FLOOR

    rec: dict = {"footer": FOOTER.strip(), "cap": HOT_CAP}
    docs = load_table(spark, OUT, "documents")
    hot = docs.withColumn(
        "text",
        F.when(
            F.col("source") == "src0", F.concat(F.col("text"), F.lit(FOOTER))
        ).otherwise(F.col("text")),
    ).localCheckpoint(eager=True)
    rec["n_docs"] = hot.count()
    rec["n_hot_docs"] = hot.filter(F.col("source") == "src0").count()

    # (1) the exact path's predicted quadratic work + the audit gate,
    # from one cheap postings aggregate (no quadratic join executed)
    t0 = time.perf_counter()
    s = (
        hot.select(
            F.col("source").alias("k1"),
            F.explode(word_shingles(F.col("text"), 3)).alias("k2"),
        )
        .groupBy("k1", "k2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(
            F.max("cnt").alias("max_cnt"),
            F.sum((F.col("cnt") * F.col("cnt")).cast("long")).alias("sum_sq"),
        )
        .collect()[0]
    )
    rec["postings_sec"] = round(time.perf_counter() - t0, 2)
    rec["exact_max_df"] = int(s["max_cnt"])
    rec["exact_pair_rows"] = int(s["sum_sq"])
    rec["hot_key_pairs"] = int(s["max_cnt"]) ** 2
    rec["fair_share_limit"] = max(
        int(s["sum_sq"]) // FAIR_SHARE_PARTS, SMALL_DATA_FLOOR
    )
    rec["audit_gate_fires"] = rec["hot_key_pairs"] > rec["fair_share_limit"]

    # (2) capped runs complete with the join's consumption bounded.
    # The jaccard output is lazily checkpointed and reused by the clone
    # check in (3) — the two previously ran the identical plan twice,
    # which at 100 copies is ~15 wasted minutes.
    capped_j = None
    for name, fn, kw in [
        ("containment", containment_pairs, {"threshold": 0.15}),
        ("jaccard", jaccard_pairs, {"threshold": 0.02}),
    ]:
        obs = Observation(f"hot_{name}")
        t0 = time.perf_counter()
        out = fn(
            hot, "doc_id", "text", "source", k=3,
            max_df=HOT_CAP, observation=obs, **kw,
        )
        if name == "jaccard":
            out = out.localCheckpoint(eager=False)
            capped_j = out
        n = out.count()
        sec = round(time.perf_counter() - t0, 2)
        m = obs.get
        rec[f"capped_{name}"] = {
            "rows": n,
            "sec": sec,
            "observed_max_df": int(m["max_df"]),
            "observed_p99_df": int(m["p99_df"]),
            "observed_pair_rows": int(m["pair_rows_upper"]),
            "cap_held": int(m["max_df"]) <= HOT_CAP,
            # round-12 cap-loss surfaces: the footer IS a dropped whole
            # group here (boilerplate, the cap's purpose), so the flag
            # fires — loud, and correct to investigate
            "uncapped_max_df": int(m["uncapped_max_df"]),
            "cap_below_top_group": bool(m["cap_below_top_group"]),
        }

    # (2b) the LINEAR pipeline order, measured: exact-dedup first
    # collapses the clone groups to their representatives, so the pair
    # stage's Σdf² stays ~flat in the number of copies (the capped run
    # above bounds the hottest KEY — max per-key work ≤ cap² — but total
    # true-pair work is inherently quadratic in clone multiplicity;
    # dedup-first is what makes the whole pass linear at 100 TB)
    from etl_pipeline_project_spark.operators.dedup_text import dedup_exact

    ded_obs = Observation("hot_dedup_first")
    t0 = time.perf_counter()
    reps = dedup_exact(hot, "text", "doc_id").drop("fingerprint")
    ded_out = jaccard_pairs(
        reps, "doc_id", "text", "source", k=3,
        max_df=HOT_CAP, observation=ded_obs, threshold=0.02,
    )
    n_ded = ded_out.count()
    dm = ded_obs.get
    rec["dedup_first_jaccard"] = {
        "rows": n_ded,
        "sec": round(time.perf_counter() - t0, 2),
        "observed_max_df": int(dm["max_df"]),
        "observed_p99_df": int(dm["p99_df"]),
        "observed_pair_rows": int(dm["pair_rows_upper"]),
        "uncapped_max_df": int(dm["uncapped_max_df"]),
        "cap_below_top_group": bool(dm["cap_below_top_group"]),
    }

    # (3) true duplicates survive: every src0 base doc has 9 shifted
    # exact clones; all C(10,2) ordered clone pairs must be in the
    # capped jaccard output (jaccard 1.0 pre-footer; footer shingles
    # are shared by clones anyway, so capping cannot split a group)
    base_ids = docs.filter(
        (F.col("source") == "src0") & (F.col("doc_id") < SHIFT)
    ).select("doc_id")
    ci = F.col("i")
    cj = F.col("j")
    expected = (
        base_ids.crossJoin(
            spark.range(COPIES).select(F.col("id").alias("i"))
        )
        .crossJoin(spark.range(COPIES).select(F.col("id").alias("j")))
        .filter(ci < cj)
        .select(
            (F.col("doc_id") + ci * SHIFT).alias("id_a"),
            (F.col("doc_id") + cj * SHIFT).alias("id_b"),
        )
    )
    n_expected = expected.count()
    n_found = expected.join(capped_j, ["id_a", "id_b"], "left_semi").count()
    rec["clone_pairs_expected"] = n_expected
    rec["clone_pairs_found"] = n_found
    rec["clones_survive_cap"] = n_found == n_expected
    # the linear-pipeline bound: collapsing clone groups of COPIES
    # divides every posting df by ~COPIES, so dedup-first Σdf² must sit
    # at ~exact/COPIES² (1.2x slack for natural in-corpus dups pruned)
    rec["dedup_first_within_linear"] = (
        rec["dedup_first_jaccard"]["observed_pair_rows"] * COPIES * COPIES
        <= rec["exact_pair_rows"] * 1.2
    )
    # (4) round-12 (verdict item 2): the sf3-measured failure mode — a
    # cap below the clone multiplicity silently returning 0 pairs — is
    # now a hard error under assert_cap_covers_clones. Proven on the hot
    # block alone (full clone groups, fraction of the corpus cost).
    small = hot.filter(F.col("source") == "src0")
    strict = jaccard_pairs(
        small, "doc_id", "text", "source", k=3, threshold=0.02,
        max_df=COPIES - 1, assert_cap_covers_clones=True,
    )
    try:
        strict.count()
        rec["strict_cap_raises"] = False
    except Exception as e:  # noqa: BLE001 - the raise IS the pass
        rec["strict_cap_raises"] = "cap_below_top_group" in str(e)
    ok = (
        rec["strict_cap_raises"] and
        rec["audit_gate_fires"]
        and rec["capped_containment"]["cap_held"]
        and rec["capped_jaccard"]["cap_held"]
        and rec["clones_survive_cap"]
        and rec["dedup_first_within_linear"]
    )
    rec["ok"] = ok
    print(
        f"{'ok   ' if ok else 'FAIL '} __hot_shingle_case__: exact Σdf²="
        f"{rec['exact_pair_rows']} (hot key {rec['hot_key_pairs']} > "
        f"limit {rec['fair_share_limit']}: gate fires) | capped "
        f"containment {rec['capped_containment']['sec']}s / jaccard "
        f"{rec['capped_jaccard']['sec']}s, observed pair rows "
        f"{rec['capped_containment']['observed_pair_rows']}, clones "
        f"{n_found}/{n_expected} | dedup-first Σdf²="
        f"{rec['dedup_first_jaccard']['observed_pair_rows']} "
        f"({rec['dedup_first_jaccard']['sec']}s, flat: "
        f"{rec['dedup_first_within_linear']})",
        flush=True,
    )
    return rec


def simhash_band_case(spark) -> dict:
    """Band-bucket skew case (found by tools/skew_audit.py at this very
    scale): the derived corpus's exact clone groups of 10 multiply every
    SimHash band bucket by 10, and the 16-bit band key space is fixed,
    so the candidate self-join's hottest key owns ~6.7× its fair share
    (measured: max bucket 291 at 50k unique docs → 2910 here → 8.5M
    pairs on one key vs a ~1.26M fair-share limit). Proves both
    documented remedies with measurements:

    1. ``max_bucket`` bounds what the join consumes (observed max_df ≤
       cap via the operator's own observation);
    2. exact-dedup-first is lossless here: clones share ALL bands, so
       ``dedup_exact`` removes exactly the mega-bucket makers and the
       bucket distribution returns within the audit bound.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_pipeline_project_spark.operators.dedup_text import (
        dedup_exact,
        simhash_candidates,
    )
    from tools.skew_audit import FAIR_SHARE_PARTS, SMALL_DATA_FLOOR

    rec: dict = {"cap": 1000}
    docs = load_table(spark, OUT, "documents")

    obs = Observation("sf1_simhash_exact")
    t0 = time.perf_counter()
    exact = simhash_candidates(docs, "doc_id", "text", observation=obs)
    rec["exact_candidates"] = exact.count()
    rec["exact_sec"] = round(time.perf_counter() - t0, 2)
    m = obs.get
    rec["exact_max_bucket"] = int(m["max_df"])
    rec["exact_pair_rows"] = int(m["pair_rows_upper"])
    rec["hot_key_pairs"] = rec["exact_max_bucket"] ** 2
    rec["fair_share_limit"] = max(
        rec["exact_pair_rows"] // FAIR_SHARE_PARTS, SMALL_DATA_FLOOR
    )
    rec["audit_gate_fires"] = rec["hot_key_pairs"] > rec["fair_share_limit"]

    cap_obs = Observation("sf1_simhash_capped")
    t0 = time.perf_counter()
    capped = simhash_candidates(
        docs, "doc_id", "text", max_bucket=rec["cap"], observation=cap_obs
    )
    rec["capped_candidates"] = capped.count()
    rec["capped_sec"] = round(time.perf_counter() - t0, 2)
    cm = cap_obs.get
    rec["capped_max_bucket"] = int(cm["max_df"])
    rec["capped_pair_rows"] = int(cm["pair_rows_upper"])
    rec["cap_held"] = rec["capped_max_bucket"] <= rec["cap"]
    rec["uncapped_max_bucket"] = int(cm["uncapped_max_df"])
    rec["cap_below_top_group"] = bool(cm["cap_below_top_group"])

    ded_obs = Observation("sf1_simhash_deduped")
    t0 = time.perf_counter()
    deduped = dedup_exact(docs, "text", "doc_id").drop("fingerprint")
    after = simhash_candidates(deduped, "doc_id", "text", observation=ded_obs)
    rec["dedup_first_candidates"] = after.count()
    rec["dedup_first_sec"] = round(time.perf_counter() - t0, 2)
    dm = ded_obs.get
    rec["dedup_first_max_bucket"] = int(dm["max_df"])
    rec["dedup_first_pair_rows"] = int(dm["pair_rows_upper"])
    rec["dedup_first_within_bound"] = rec["dedup_first_max_bucket"] ** 2 <= max(
        rec["dedup_first_pair_rows"] // FAIR_SHARE_PARTS, SMALL_DATA_FLOOR
    )
    ok = (
        rec["audit_gate_fires"]
        and rec["cap_held"]
        and rec["dedup_first_within_bound"]
    )
    rec["ok"] = ok
    print(
        f"{'ok   ' if ok else 'FAIL '} __simhash_band_case__: exact max "
        f"bucket {rec['exact_max_bucket']} (hot key {rec['hot_key_pairs']}"
        f" > limit {rec['fair_share_limit']}: gate fires) | capped max "
        f"{rec['capped_max_bucket']} in {rec['capped_sec']}s | exact-first"
        f" max {rec['dedup_first_max_bucket']} within bound "
        f"{rec['dedup_first_within_bound']} in {rec['dedup_first_sec']}s",
        flush=True,
    )
    return rec


def main() -> int:
    global COPIES, OUT
    if "--copies" in sys.argv:
        COPIES = int(sys.argv[sys.argv.index("--copies") + 1])
        OUT = os.path.join(sys_path, ".scratch", f"{_label(COPIES)}_derived")
    label = _label(COPIES)
    if COPIES > 10:
        # the band-join hash aggregates at sf3 exceed the 8g local-mode
        # default (32 threads share ONE driver JVM here; a real cluster
        # gives each executor its own heap) — size the stress-replay JVM
        # to the corpus unless the caller already did
        os.environ.setdefault(
            "SPARK_GRAFT_DRIVER_MEM", "80g" if COPIES >= 100 else "48g"
        )
    # task metrics come from an event log under /tmp, read once the
    # session has stopped (the listener bus is asynchronous)
    log_dir = tempfile.mkdtemp(prefix=f"{label}_replay_events_")
    spark = get_spark(
        f"{label}_replay",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # one plain JSON-lines file (Spark 4 rolls and compresses by default)
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )
    build_derived(spark)

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = f"{OUT}/{t}.parquet"
        src = f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")

    if COPIES == 10:
        twin_keys, rows_only = TWIN_KEYS + MID_TIER_KEYS, ROWS_ONLY_KEYS
    else:
        twin_keys, rows_only = list(HEAVY_TWIN_KEYS), list(HEAVY_ROWS_ONLY)
        if COPIES >= 100:
            # sf10 tier policy (round 12): the clone-quadratic twins pay
            # ~COPIES²/100 of their sf1 cost (26.5-72.6 s there → hours
            # at 100 copies) — a tier decision, not a cap collision.
            # Their differential lives at sf1 (hash_match) and sf3
            # (uncapped numbers recorded); at sf10 they run rows-only,
            # which is the Spark-side scale evidence this tier is for.
            for k in ("q_dedup_threshold_sweep", "q_blocking_eval",
                      "q_embed_neardup", "q_knn_graph_blocked"):
                twin_keys.remove(k)
                rows_only.append(k)
            rows_only = [k for k in rows_only if k not in SF10_EXCLUDED]
    # --keys k1,k2: re-run a subset and merge into the existing artifact
    # (e.g. after a twin restatement), skipping the planted cases
    only: set[str] | None = None
    if "--keys" in sys.argv:
        only = set(sys.argv[sys.argv.index("--keys") + 1].split(","))
        unknown = only - set(twin_keys) - set(rows_only)
        if unknown:
            # a typo'd or wrong-tier key would otherwise produce a
            # "merged 0 key(s)" run that still exits 0 (ADVICE r11)
            print(
                f"--keys not in this tier's lists: {sorted(unknown)}",
                file=sys.stderr,
            )
            return 2
        twin_keys = [k for k in twin_keys if k in only]
        rows_only = [k for k in rows_only if k in only]
    results: dict[str, dict] = {}
    failures: list[str] = []
    for key in twin_keys + rows_only:
        rec: dict = {}
        spark.sparkContext.setJobGroup(key, key)
        t0 = time.perf_counter()
        try:
            sdf = REGISTRY[key](spark, OUT)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_sec"] = round(time.perf_counter() - t0, 2)
            rec["spark_rows"] = len(s_rows)
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"spark: {e}"[:300]
            failures.append(key)
            results[key] = rec
            print(f"FAIL  {key}: {rec['err']}", flush=True)
            continue
        if key in rows_only or key not in ORACLE:
            rec["status"] = "rows_only"
            ok = len(s_rows) > 0
            if not ok:
                failures.append(key)
            print(
                f"{'ok?  ' if ok else 'FAIL '} {key}: {len(s_rows)} rows, "
                f"{rec['spark_sec']}s (rows-only)",
                flush=True,
            )
            results[key] = rec
            continue
        t1 = time.perf_counter()
        cap = TWIN_TIMEOUT_OVERRIDES.get(key, TWIN_TIMEOUT_SEC)
        timer = threading.Timer(cap, con.interrupt)
        timer.start()
        try:
            res = con.execute(ORACLE[key])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            rec["oracle_sec"] = round(time.perf_counter() - t1, 2)
        except duckdb.InterruptException:
            # capped twin: record the Spark side as rows-only evidence
            rec["status"] = "twin_timeout"
            results[key] = rec
            print(
                f"ok?   {key}: {rec['spark_rows']} rows, "
                f"{rec['spark_sec']}s (twin capped at {cap}s)",
                flush=True,
            )
            continue
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"duckdb: {e}"[:300]
            failures.append(key)
            results[key] = rec
            print(f"FAIL  {key}: {rec['err']}", flush=True)
            continue
        finally:
            timer.cancel()
        ok = (
            len(s_rows) == len(d_rows)
            and sorted(s_cols) == sorted(d_cols)
            and _norm_rows(s_cols, s_rows) == _norm_rows(d_cols, d_rows)
        )
        rec["status"] = "hash_match" if ok else "MISMATCH"
        if not ok:
            failures.append(key)
        print(
            f"{'PASS ' if ok else 'FAIL '} {key}: {len(s_rows)} rows, "
            f"spark {rec['spark_sec']}s / duckdb {rec['oracle_sec']}s",
            flush=True,
        )
        results[key] = rec

    spark.sparkContext.setJobGroup("__cases__", "planted cases")
    if only is None:
        hot = hot_shingle_case(spark)
        if not hot["ok"]:
            failures.append("__hot_shingle_case__")
        sim = simhash_band_case(spark)
        if not sim["ok"]:
            failures.append("__simhash_band_case__")
    spark.stop()
    for key, m in task_metrics(log_dir).items():
        if key in results:
            results[key].update(m)
    shutil.rmtree(log_dir)

    art = os.path.join(sys_path, f"SCALE_{label}_replay.json")
    if only is not None:
        # merge mode: patch the named keys into the committed artifact
        with open(art) as fh:
            payload = json.load(fh)
        payload.update(results)
        prior = set(payload["__meta__"].get("failures", []))
        payload["__meta__"]["failures"] = sorted(
            (prior - only) | set(failures)
        )
        # refresh the tier counts from the merged content (they were
        # left stale from the original full run — ADVICE r11)
        merged_keys = [k for k in payload if not k.startswith("__")]
        payload["__meta__"]["twin_keys"] = sum(
            1 for k in merged_keys if payload[k].get("status") != "rows_only"
        )
        payload["__meta__"]["rows_only_keys"] = sum(
            1 for k in merged_keys if payload[k].get("status") == "rows_only"
        )
        with open(art, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"\nmerged {len(results)} key(s) into {art}; "
              f"{len(failures)} failure(s)")
        return 1 if failures else 0

    payload = {
        "__meta__": {
            "derivation": (
                f"{COPIES}x union of driver sf0.1 with key shifts of "
                f"{SHIFT} per copy; dims copied once; ts cast to NTZ; "
                f"documents/embeddings form exact clone groups of {COPIES}"
            ),
            "source": SRC,
            "derived_dir": OUT,
            "copies": COPIES,
            "lineitem_rows": 600000 * COPIES,
            "twin_keys": len(twin_keys),
            "rows_only_keys": len(rows_only),
            "failures": sorted(failures),
            **(
                {
                    "excluded_quadratic_legs": SF10_EXCLUDED,
                    "excluded_reason": (
                        "quadratic-in-clone-multiplicity Spark legs; sf3 "
                        "measurements extrapolate to 23-70 min each at 100 "
                        "copies (the documented anti-pattern dedup-first "
                        "avoids); growth curves for them live in the "
                        "sf1/sf3 artifacts"
                    ),
                }
                if COPIES >= 100
                else {}
            ),
        },
        "__hot_shingle_case__": hot,
        "__simhash_band_case__": sim,
        **results,
    }
    with open(art, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(f"\nwrote {art}; {len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
