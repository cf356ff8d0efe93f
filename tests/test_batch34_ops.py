"""Round-3 batch-34: attribution, streaks, rank statistics, recursion."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_attribution_last_touch,
    q_mann_whitney_u,
    q_tree_reachability,
)
from etl_pipeline_project_spark.sources.readers import load_table

q_spearman_rho = REGISTRY["q_spearman_rho"]
q_weighted_median = REGISTRY["q_weighted_median"]


def test_attribution_conserves_purchases(spark, sf_dir):
    out = q_attribution_last_touch(spark, sf_dir)
    rows = out.collect()
    # channels are non-purchase types only
    assert all(r["channel"] != "purchase" for r in rows)
    ev = load_table(spark, sf_dir, "events")
    n_purchases = ev.filter(F.col("event_type") == "purchase").count()
    # every attributed purchase is a real purchase; only users whose first
    # event is a purchase can be unattributed
    assert 0 < sum(r["n_purchases"] for r in rows) <= n_purchases


def test_streaks_invariants(spark, sf_dir):
    out = REGISTRY["q_streak_longest"](spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert 1 <= r["longest_streak"] <= r["n_active_days"]
    # n_active_days equals the user's distinct active days
    ev = load_table(spark, sf_dir, "events")
    truth = {
        r["user_id"]: r["d"]
        for r in ev.groupBy("user_id")
        .agg(F.countDistinct(F.col("ts").cast("date")).alias("d"))
        .collect()
    }
    for r in out:
        assert truth[r["user_id"]] == r["n_active_days"]


def test_weighted_median_between_min_and_max(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    bounds = {
        r["l_returnflag"]: (r["lo"], r["hi"])
        for r in li.groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi"))
        .collect()
    }
    for r in q_weighted_median(spark, sf_dir).collect():
        lo, hi = bounds[r["l_returnflag"]]
        assert lo - 0.01 <= r["weighted_median_price"] <= hi


def test_spearman_in_unit_interval(spark, sf_dir):
    for r in q_spearman_rho(spark, sf_dir).collect():
        assert -1.0 <= r["spearman_rho"] <= 1.0
        assert r["n"] > 0


def test_spearman_matches_twin_on_null_measures(spark, sf_dir, tmp_path):
    """Rows with a NULL quantity, a NULL price or both take no part in
    either rank, in the side moments or in n; the DuckDB twin agrees."""
    from etl_pipeline_project_spark.queries import ORACLE

    con = duckdb.connect()
    con.execute(
        f"""COPY (
          SELECT * REPLACE (
            CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_quantity END AS l_quantity,
            CASE WHEN l_orderkey % 11 = 0 THEN NULL ELSE l_extendedprice END
              AS l_extendedprice)
          FROM '{sf_dir}/lineitem.parquet'
        ) TO '{tmp_path}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet'")
    assert min(con.execute(
        "SELECT count(*) FILTER (l_quantity IS NULL AND l_extendedprice IS NULL),"
        " count(*) FILTER (l_quantity IS NULL AND l_extendedprice IS NOT NULL),"
        " count(*) FILTER (l_quantity IS NOT NULL AND l_extendedprice IS NULL)"
        " FROM lineitem"
    ).fetchone()) > 0
    want = sorted(con.execute(ORACLE["q_spearman_rho"]).fetchall())
    got = sorted(tuple(r) for r in q_spearman_rho(spark, str(tmp_path)).collect())
    assert got == want


def _spearman_on_price(spark, sf_dir, tmp_path, price):
    duckdb.execute(
        f"""COPY (
          SELECT * REPLACE (CAST({price} AS DOUBLE) AS l_extendedprice)
          FROM '{sf_dir}/lineitem.parquet'
        ) TO '{tmp_path}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    rows = q_spearman_rho(spark, str(tmp_path)).collect()
    assert len(rows) == 3
    assert all(r["n"] > 1 for r in rows)
    return [r["spearman_rho"] for r in rows]


def test_spearman_perfect_monotone_is_one(spark, sf_dir, tmp_path):
    """A price increasing in quantity ranks every row alike on both sides
    (ties included), so the key's rho is exactly 1 in every flag group."""
    rhos = _spearman_on_price(spark, sf_dir, tmp_path, "l_quantity * 1000 + 7")
    assert rhos == pytest.approx([1.0] * 3, abs=1e-12)


def test_spearman_perfect_antimonotone_is_minus_one(spark, sf_dir, tmp_path):
    """A price falling as quantity grows gives rho exactly -1."""
    rhos = _spearman_on_price(spark, sf_dir, tmp_path, "(100 - l_quantity) * 1000")
    assert rhos == pytest.approx([-1.0] * 3, abs=1e-12)


def test_mann_whitney_identity(spark, sf_dir):
    for r in q_mann_whitney_u(spark, sf_dir).collect():
        # u1 + u2 == n1*n2 (doubled units: x2)
        assert r["u1_x2"] + r["u2_x2"] == 2 * r["n1"] * r["n2"]
        assert 0 <= r["u1_x2"] <= 2 * r["n1"] * r["n2"]


def test_tree_reachability_depths(spark, sf_dir):
    out = {r["depth_to_root"]: r for r in q_tree_reachability(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    users = [r["user_id"] for r in ev.select("user_id").distinct().collect()]
    # every user appears exactly once across depth buckets
    assert sum(r["n_users"] for r in out.values()) == len(users)
    # a user's depth bucket is its bit length - 1 (halvings to reach 1)
    expected = {}
    for u in users:
        d = max(int(u).bit_length() - 1, 0)
        expected[d] = expected.get(d, 0) + 1
    assert {k: v["n_users"] for k, v in out.items()} == expected
