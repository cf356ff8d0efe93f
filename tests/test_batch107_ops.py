"""Round-5 batch 107: interim analysis, Beta posterior, EB shrinkage,
Bonferroni pairwise comparisons."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_interim_analysis,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_interim_analysis_cuts_nest(spark, sf_dir):
    rows = {r["cut_day"]: r for r in q_interim_analysis(spark, sf_dir).collect()}
    assert sorted(rows) == [10, 20, 30]
    # sample sizes grow with the cut
    assert rows[10]["n1"] < rows[20]["n1"] < rows[30]["n1"]
    assert rows[10]["n0"] < rows[20]["n0"] < rows[30]["n0"]
    for r in rows.values():
        assert math.isfinite(r["z"])
        assert r["crossed"] == (abs(r["z"]) > 2.289)
    # final cut equals the plain Welch z on the full month
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    stats = {}
    for grp in (0, 1):
        d = [r["value"] for r in ev.filter(F.col("user_id") % 2 == grp).collect()]
        n = len(d)
        mean = sum(d) / n
        var = (sum(x * x for x in d) - n * mean * mean) / (n - 1)
        stats[grp] = (n, mean, var)
    z = (stats[1][1] - stats[0][1]) / math.sqrt(
        stats[1][2] / stats[1][0] + stats[0][2] / stats[0][0]
    )
    assert abs(rows[30]["z"] - z) < 1e-6


def test_beta_posterior_rationals(spark, sf_dir):
    rows = REGISTRY["q_beta_posterior"](spark, sf_dir).collect()
    for r in rows:
        assert r["alpha"] == 1 + r["x"]
        assert r["beta"] == 1 + r["n"] - r["x"]
        assert abs(r["post_mean"] - r["alpha"] / (2 + r["n"])) < 1e-12
        assert r["var_num"] == r["alpha"] * r["beta"]
        assert r["var_den"] == (2 + r["n"]) ** 2 * (3 + r["n"])
        assert abs(r["post_var"] - r["var_num"] / r["var_den"]) < 1e-15
        # smoothing keeps the estimate off the boundary
        assert 0 < r["post_mean"] < 1


def test_eb_shrinkage_pulls_toward_global(spark, sf_dir):
    rows = REGISTRY["q_eb_shrinkage"](spark, sf_dir).collect()
    g = rows[0]["global_rate"]
    assert all(abs(r["global_rate"] - g) < 1e-15 for r in rows)
    for r in rows:
        # shrunk rate lies between raw and global
        lo, hi = sorted((r["raw_rate"], g))
        assert lo - 1e-12 <= r["shrunk_rate"] <= hi + 1e-12
        assert abs(
            r["shrunk_rate"] - (r["x"] + 20 * g) / (r["n"] + 20)
        ) < 1e-12
        # integer cross-product ranks raw vs global without floats
        assert (r["rank_num"] > r["rank_den"]) == (r["raw_rate"] > g)
    # shrinkage is strictly stronger for smaller n (same raw rate distance)
    spread_raw = max(r["raw_rate"] for r in rows) - min(r["raw_rate"] for r in rows)
    spread_shrunk = max(r["shrunk_rate"] for r in rows) - min(
        r["shrunk_rate"] for r in rows
    )
    assert spread_shrunk < spread_raw


def test_pairwise_bonferroni_cover_and_antisymmetry(spark, sf_dir):
    rows = REGISTRY["q_pairwise_bonferroni"](spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    n_types = ev.select("event_type").distinct().count()
    assert len(rows) == n_types * (n_types - 1) // 2
    for r in rows:
        assert r["type_a"] < r["type_b"]
        assert r["significant"] == (abs(r["z"]) > 2.807033768343811)
        assert math.isfinite(r["z"])
