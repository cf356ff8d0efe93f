"""Round-5 batch 104: offline policy evaluation, OCC conflicts, arc
elasticity, SLA burn rate."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_occ_conflicts,
    q_offline_policy_eval,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_offline_policy_eval_recompute(spark, sf_dir):
    r = q_offline_policy_eval(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    rows = ev.select("event_id", "event_type", "value").collect()
    pi = {}
    n = n_m = s_m = 0
    for e in rows:
        ctx = e["event_type"]
        if ctx not in pi:
            pi[ctx] = int(hashlib.md5(ctx.encode()).hexdigest()[:8], 16) % 3
        n += 1
        if e["event_id"] % 3 == pi[ctx]:
            n_m += 1
            s_m += math.floor(e["value"] * 1_000_000)
    assert (r["n"], r["n_matched"], r["matched_reward_micro"]) == (n, n_m, s_m)
    assert abs(r["ips"] - s_m * 3 / n / 1e6) < 1e-9
    assert abs(r["snips"] - s_m / n_m / 1e6) < 1e-9
    # uniform behavior: roughly a third of actions match the target
    assert 0.2 < n_m / n < 0.5


def test_occ_conflicts_are_intersection(spark, sf_dir):
    rows = q_occ_conflicts(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey").collect()
    a = set()
    b = set()
    for o in orders:
        k = o["o_orderkey"]
        if int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % 7 == 0:
            a.add(k)
        if int(hashlib.md5((str(k) + "b").encode()).hexdigest()[:8], 16) % 8 == 0:
            b.add(k)
    assert sum(r["n_a"] for r in rows) == len(a)
    assert sum(r["n_b"] for r in rows) == len(b)
    assert sum(r["n_conflict"] for r in rows) == len(a & b)
    for r in rows:
        assert r["n_conflict"] <= min(r["n_a"], r["n_b"])


def test_arc_elasticity_symmetry(spark, sf_dir):
    rows = REGISTRY["q_arc_elasticity"](spark, sf_dir).collect()
    for r in rows:
        assert r["q1"] > 0 and r["q2"] > 0
        # recompute from the emitted cells (midpoint formula)
        dq = (r["q2"] - r["q1"]) / (r["q2"] + r["q1"])
        dp = (r["p2"] - r["p1"]) / (r["p2"] + r["p1"])
        assert abs(r["elasticity"] - dq / dp) < 1e-9 * max(1.0, abs(dq / dp))


def test_sla_burn_rate_windows(spark, sf_dir):
    rows = REGISTRY["q_sla_burn_rate"](spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts")).first()[0]
    import datetime

    for r in rows:
        # 6h window is a subset of the 24h window
        assert r["n_6h"] <= r["n_24h"]
        assert r["err_6h"] <= r["err_24h"]
        assert abs(r["burn_24h"] - r["err_24h"] / r["n_24h"] / 0.05) < 1e-12
        assert r["page"] == (
            r["err_24h"] * 20 > r["n_24h"] * 2 and r["err_6h"] * 20 > r["n_6h"] * 2
        )
    # spot recompute one type's 24h window
    pick = rows[0]["event_type"]
    cutoff = mx - datetime.timedelta(hours=24)
    n24 = ev.filter(
        (F.col("event_type") == pick) & (F.col("ts") > F.lit(cutoff))
    ).count()
    assert rows[0]["n_24h"] == n24
