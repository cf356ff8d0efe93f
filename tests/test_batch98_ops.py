"""Round-5 batch 98: difference-in-differences, delta-method ratio SE,
Neyman allocation, PMI collocations."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_neyman_allocation,
    q_term_pmi,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_diff_in_diff_reconstructs_from_cells(spark, sf_dir):
    row = REGISTRY["q_diff_in_diff"](spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    n = ev.count()
    assert row["n_t1"] + row["n_t2"] + row["n_c1"] + row["n_c2"] == n
    assert abs(row["did"] - (row["delta_treat"] - row["delta_ctrl"])) < 1e-12
    # cell means recompute (float tolerance: exact sums, one division)
    cells = {
        (r["t"], r["p"]): r
        for r in ev.groupBy(
            (F.col("user_id") % 2 == 1).alias("t"),
            (F.dayofmonth("ts") > 15).alias("p"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    mt2 = cells[(True, True)]["s"] / cells[(True, True)]["n"]
    mt1 = cells[(True, False)]["s"] / cells[(True, False)]["n"]
    assert abs(row["delta_treat"] - (mt2 - mt1)) < 1e-6


def test_ratio_delta_method_groups(spark, sf_dir):
    rows = {r["grp"]: r for r in REGISTRY["q_ratio_delta_method"](spark, sf_dir).collect()}
    assert sorted(rows) == [0, 1]
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    for grp, r in rows.items():
        assert r["se"] > 0 and math.isfinite(r["se"])
        assert abs(r["ratio"] - r["sx"] / r["sy"]) < 1e-12
        # unit counts reconcile
        nu = (
            ev.filter(F.col("user_id") % 2 == grp)
            .select("user_id")
            .distinct()
            .count()
        )
        assert r["n_users"] == nu
    # SE shrinks roughly like 1/sqrt(n): both groups same order of magnitude
    assert 0.1 < rows[0]["se"] / rows[1]["se"] < 10


def test_neyman_allocation_sums_to_budget(spark, sf_dir):
    rows = q_neyman_allocation(spark, sf_dir).collect()
    assert sum(r["n_alloc"] for r in rows) == 1000
    w_tot = sum(r["w_unit"] for r in rows)
    for r in rows:
        assert r["share_ppm"] == r["w_unit"] * 1_000_000 // w_tot
        # largest remainder never drifts more than 1 from the exact share
        exact = 1000 * r["w_unit"] / w_tot
        assert abs(r["n_alloc"] - exact) < 1
        assert r["n_alloc"] >= 0
    # higher weight never gets fewer samples (monotone in w_unit)
    by_w = sorted(rows, key=lambda r: r["w_unit"])
    allocs = [r["n_alloc"] for r in by_w]
    assert allocs == sorted(allocs)


def test_term_pmi_counts_and_ratio(spark, sf_dir):
    rows = q_term_pmi(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    assert rows, "expected at least one collocation at n_xy >= 5"
    for r in rows:
        assert r["t1"] < r["t2"]
        assert 5 <= r["n_xy"] <= min(r["n_x"], r["n_y"]) <= n_docs
        assert abs(r["pmi_ratio"] - r["n_xy"] * n_docs / (r["n_x"] * r["n_y"])) < 1e-12
    # spot-verify one pair's co-occurrence count from raw text
    pick = rows[0]
    txt = docs.select("doc_id", F.lower("text").alias("t")).collect()
    import re as _re

    def has(t, term):
        return term in _re.findall("[a-z]+", t)

    n_xy = sum(1 for d in txt if has(d["t"], pick["t1"]) and has(d["t"], pick["t2"]))
    assert n_xy == pick["n_xy"]
