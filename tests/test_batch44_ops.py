"""Round-3 batch-44: struct ordering, array lambdas, AUC-ROC, vacuum
planning."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_lambda_array_suite,
    q_struct_ops,
    q_vacuum_plan,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_struct_ordering_matches_argmin(spark, sf_dir):
    rows = {r["nationkey"]: r for r in q_struct_ops(spark, sf_dir).collect()}
    cust = load_table(spark, sf_dir, "customer")
    direct = (
        cust.select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
            "c_name",
        )
        .collect()
    )
    by_nation: dict[int, list] = {}
    for r in direct:
        by_nation.setdefault(r["nationkey"], []).append((r["cents"], r["c_name"]))
    for nk, vals in by_nation.items():
        assert (rows[nk]["min_cents"], rows[nk]["min_name"]) == min(vals)
        assert (rows[nk]["max_cents"], rows[nk]["max_name"]) == max(vals)
        assert rows[nk]["n_customers"] == len(vals)


def test_lambda_suite_consistency(spark, sf_dir):
    out = q_lambda_array_suite(spark, sf_dir)
    joined = out.join(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars"),
        "doc_id",
    )
    for r in joined.limit(50).collect():
        toks = r["text"].split(" ")
        assert r["n_long"] == sum(1 for t in toks if len(t) > 5)
        assert r["has_the"] == ("the" in toks)
        assert r["total_chars"] == sum(len(t) for t in toks)
        assert r["head3_upper"] == " ".join(t.upper() for t in toks[:3])


def test_auc_range_and_u_identity(spark, sf_dir):
    r = REGISTRY["q_auc_roc"](spark, sf_dir).first()
    assert r["n_pos"] > 0 and r["n_neg"] > 0
    assert 0.0 <= r["auc"] <= 1.0
    # u_doubled / (2 n1 n0) must reproduce auc exactly
    assert r["auc"] == r["u_doubled"] / (2 * r["n_pos"] * r["n_neg"])


def test_vacuum_plan_reachability(spark, sf_dir):
    rows = {r["gen"]: r for r in q_vacuum_plan(spark, sf_dir).collect()}
    assert set(rows) == {"gen1", "gen2", "gen3"}
    # compaction rewrote gen1+gen2 into gen3: counts conserve
    assert rows["gen3"]["n_rows"] == rows["gen1"]["n_rows"] + rows["gen2"]["n_rows"]
    # only the generations unreachable from the current snapshot are deletable
    assert rows["gen1"]["deletable"] and rows["gen2"]["deletable"]
    assert not rows["gen3"]["deletable"]
