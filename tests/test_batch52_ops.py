"""Round-3 batch-52: CEP pattern, inverted index, daily bands, lang
eval."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_inverted_index_stats,
    q_langid_eval,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_pattern_matches_ground_truth(spark, sf_dir):
    out = {r["user_id"]: r["n_matches"] for r in REGISTRY["q_pattern_match_triple"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("user_id", "ts", "event_id", "event_type").collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], r["event_type"]))
    expect: dict[int, int] = {}
    for u, evs in by_user.items():
        evs.sort()
        types = [t for _, _, t in evs]
        n = sum(
            1
            for i in range(len(types) - 2)
            if types[i : i + 3] == ["view", "click", "purchase"]
        )
        if n:
            expect[u] = n
    assert out == expect


def test_inverted_index_consistency(spark, sf_dir):
    rows = q_inverted_index_stats(spark, sf_dir).collect()
    assert len(rows) <= 50
    n_docs = load_table(spark, sf_dir, "documents").count()
    dfs = [r["df"] for r in rows]
    assert dfs == sorted(dfs, reverse=True)
    for r in rows:
        assert 1 <= r["df"] <= n_docs
        assert r["cf"] >= r["df"]
        assert r["max_tf"] >= 1 and r["cf"] >= r["max_tf"]


def test_daily_bands_order(spark, sf_dir):
    rows = REGISTRY["q_daily_percentile_bands"](spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    assert len(rows) == ev.select(F.col("ts").cast("date")).distinct().count()
    for r in rows:
        assert r["p50"] <= r["p95"]
        assert r["n_values"] >= 1


def test_langid_eval_counts(spark, sf_dir):
    rows = q_langid_eval(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    diag = sum(r["n_docs"] for r in rows if r["lang"] == r["lang_pred"])
    # the heuristic should beat chance comfortably on this labeled corpus
    assert diag / docs.count() > 0.3
