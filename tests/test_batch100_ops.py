"""Round-5 batch 100: Shapley attribution, KMV set algebra, uplift
deciles, two-proportion z-test."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_kmv_set_ops,
    q_shapley_attribution,
    q_uplift_deciles,
)
from etl_pipeline_project_spark.sources.readers import load_table


def _exposure_lattice(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c"),
        F.max(F.when(F.col("event_type") == "view", 2).otherwise(0)).alias("v"),
        F.max(F.when(F.col("event_type") == "signup", 4).otherwise(0)).alias("s"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    conv = {}
    for r in u.collect():
        m = r["c"] + r["v"] + r["s"]
        conv[m] = conv.get(m, 0) + r["conv"]
    v = {S: sum(c for m, c in conv.items() if m & ~S == 0) for S in range(8)}
    return v


def test_shapley_efficiency_and_recompute(spark, sf_dir):
    rows = {r["channel"]: r for r in q_shapley_attribution(spark, sf_dir).collect()}
    assert sorted(rows) == ["click", "signup", "view"]
    v = _exposure_lattice(spark, sf_dir)
    # exact integer-sixths recompute over the lattice
    for bit, name in ((1, "click"), (2, "view"), (4, "signup")):
        sixths = 0
        for S in range(8):
            if S & bit:
                continue
            w = 2 if S in (0, 7 - bit) else 1
            sixths += w * (v[S + bit] - v[S])
        assert rows[name]["shapley_sixths"] == sixths
        assert abs(rows[name]["shapley"] - sixths / 6) < 1e-12
    # efficiency: credits sum to v(N) - v(empty), exactly in sixths
    total_sixths = sum(r["shapley_sixths"] for r in rows.values())
    assert total_sixths == 6 * (v[7] - v[0])


def test_kmv_set_ops_sketch_properties(spark, sf_dir):
    rows = q_kmv_set_ops(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_src = docs.select("source").distinct().count()
    assert len(rows) == n_src * (n_src - 1) // 2
    for r in rows:
        assert 0 <= r["shared_k"] <= r["k"] <= 256
        assert r["union_est"] > 0
        assert r["inter_est"] <= r["union_est"] + 1e-9
        # estimate is in the right ballpark of the exact intersection
        if r["exact_inter"] > 100:
            assert 0.5 < r["inter_est"] / r["exact_inter"] < 2.0


def test_kmv_union_sketch_is_merge_of_side_sketches(spark, sf_dir):
    # rebuild one pair's union sketch in python from raw terms; prefer a
    # FULL sketch so the (k-1)/u_k estimator path is exercised
    all_rows = q_kmv_set_ops(spark, sf_dir).collect()
    row = next((r for r in all_rows if r["k"] == 256), all_rows[0])
    docs = load_table(spark, sf_dir, "documents")
    import re as _re

    terms = {}
    for d in docs.filter(
        F.col("source").isin(row["source_a"], row["source_b"])
    ).collect():
        terms.setdefault(d["source"], set()).update(
            _re.findall("[a-z]+", d["text"].lower())
        )
    side = {
        s: sorted(hashlib.md5(t.encode()).hexdigest() for t in ts)[:256]
        for s, ts in terms.items()
    }
    union = sorted(set(side[row["source_a"]]) | set(side[row["source_b"]]))[:256]
    shared = set(side[row["source_a"]]) & set(side[row["source_b"]])
    assert row["k"] == len(union)
    assert row["shared_k"] == sum(1 for h in union if h in shared)
    if len(union) == 256:
        u_k = int(union[-1][:13], 16) / 4503599627370496.0
        assert abs(row["union_est"] - (len(union) - 1) / u_k) < 1e-6
    else:  # non-full sketch: estimate is exact by convention
        assert row["union_est"] == len(union)


def test_uplift_deciles_partition_users(spark, sf_dir):
    rows = q_uplift_deciles(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_t"] + r["n_c"] for r in rows) == n_users
    assert sorted(r["decile"] for r in rows) == sorted({r["decile"] for r in rows})
    for r in rows:
        # a tiny decile may contain no user from one arm: counts are NULL
        # and the uplift is NULL on both engines — not a 0
        if r["n_t"] == 0 or r["n_c"] == 0:
            assert r["uplift"] is None
            continue
        assert 0 <= r["conv_t"] <= r["n_t"]
        assert 0 <= r["conv_c"] <= r["n_c"]
        assert abs(
            r["uplift"] - (r["conv_t"] / r["n_t"] - r["conv_c"] / r["n_c"])
        ) < 1e-12


def test_two_proportion_ztest_formula(spark, sf_dir):
    r = REGISTRY["q_two_proportion_ztest"](spark, sf_dir).first()
    assert r["n1"] + r["n0"] > 0
    assert 0 < r["p1"] < 1 and 0 < r["p0"] < 1  # non-degenerate outcome
    pp = (r["x1"] + r["x0"]) / (r["n1"] + r["n0"])
    z = (r["p1"] - r["p0"]) / math.sqrt(
        pp * (1 - pp) * (1 / r["n1"] + 1 / r["n0"])
    )
    assert abs(r["z"] - z) < 1e-9
