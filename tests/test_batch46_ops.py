"""Round-3 batch-46: FD audit, null ordering, array set ops, id gaps."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import REGISTRY, q_array_set_ops
from etl_pipeline_project_spark.sources.readers import load_table


def test_fd_audit_verdicts(spark, sf_dir):
    rows = {r["fd"]: r for r in REGISTRY["q_fd_audit"](spark, sf_dir).collect()}
    # key FDs hold; the non-key candidate fails
    assert rows["o_orderkey->o_custkey"]["holds"]
    assert rows["c_custkey->c_nationkey"]["holds"]
    assert not rows["o_custkey->o_orderpriority"]["holds"]
    assert rows["o_custkey->o_orderpriority"]["n_violating_lhs"] > 0


def test_null_ordering_divergence(spark, sf_dir):
    r = REGISTRY["q_null_ordering"](spark, sf_dir).first()
    assert r["n_nulls"] > 0
    # with nulls present, the two placements pick different first rows
    assert r["first_nulls_first"] != r["first_nulls_last"]
    ev = load_table(spark, sf_dir, "events")
    # the query nulls out error events' values; NULLS FIRST picks the
    # lowest event_id among them
    first_nf = (
        ev.filter(F.col("event_type") == "error").agg(F.min("event_id")).first()[0]
    )
    assert r["first_nulls_first"] == first_nf
    assert r["n_nulls"] == ev.filter(F.col("event_type") == "error").count()


def test_array_set_algebra_consistency(spark, sf_dir):
    for r in q_array_set_ops(spark, sf_dir).limit(200).collect():
        alls = set(r["all_prios"].split(",")) if r["all_prios"] else set()
        rec = set(r["recent_prios"].split(",")) if r["recent_prios"] else set()
        both = set(r["both_prios"].split(",")) if r["both_prios"] else set()
        old = set(r["only_old"].split(",")) if r["only_old"] else set()
        assert both == (alls & rec)
        assert old == (alls - rec)
        assert r["overlaps"] == (bool(alls) and bool(rec) and bool(both))


def test_id_gap_ranges_reconstruct(spark, sf_dir):
    rows = REGISTRY["q_id_gap_ranges"](spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    ids = {r["id"] for r in li.select(F.col("l_orderkey").alias("id")).distinct().collect()}
    lo, hi = min(ids), max(ids)
    missing = set(range(lo, hi + 1)) - ids
    covered = set()
    for r in rows:
        assert r["gap_len"] == r["gap_end"] - r["gap_start"] + 1
        covered |= set(range(r["gap_start"], r["gap_end"] + 1))
    assert covered == missing
