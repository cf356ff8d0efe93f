"""Round-5 batch 105: relational division, Allen relations, cents-digit
bias, rank-biased overlap."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_cents_digit_bias,
    q_rank_biased_overlap,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_relational_division_all_priorities(spark, sf_dir):
    rows = REGISTRY["q_relational_division"](spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    need = {
        r["o_orderpriority"]
        for r in orders.select("o_orderpriority").distinct().collect()
    }
    per_cust = {}
    for o in orders.select("o_custkey", "o_orderpriority").collect():
        per_cust.setdefault(o["o_custkey"], set()).add(o["o_orderpriority"])
    expect = {c for c, ps in per_cust.items() if ps == need}
    assert {r["o_custkey"] for r in rows} == expect
    for r in rows:
        assert r["n_priorities"] == len(need)


def test_allen_relations_exhaustive_and_exclusive(spark, sf_dir):
    rows = REGISTRY["q_allen_relations"](spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    spans = {}
    for r in (
        ev.groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
        .collect()
    ):
        spans.setdefault(r["user_id"], {})[r["event_type"]] = (r["s"], r["e"])
    both = {u: v for u, v in spans.items() if len(v) == 2}
    assert sum(r["n_users"] for r in rows) == len(both)

    def classify(a, b):
        (as_, ae), (bs, be) = a, b
        if ae < bs: return "before"
        if be < as_: return "after"
        if ae == bs: return "meets"
        if be == as_: return "met_by"
        if as_ == bs and ae == be: return "equals"
        if as_ == bs and ae < be: return "starts"
        if as_ == bs: return "started_by"
        if ae == be and as_ > bs: return "finishes"
        if ae == be: return "finished_by"
        if as_ > bs and ae < be: return "during"
        if as_ < bs and ae > be: return "contains"
        if as_ < bs: return "overlaps"
        return "overlapped_by"

    census = {}
    for v in both.values():
        rel = classify(v["click"], v["purchase"])
        census[rel] = census.get(rel, 0) + 1
    assert {r["relation"]: r["n_users"] for r in rows} == census


def test_cents_digit_census(spark, sf_dir):
    rows = q_cents_digit_bias(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    total = orders.count()
    assert sum(r["n"] for r in rows) == total
    for r in rows:
        assert 0 <= r["cents"] <= 99
        assert r["share_ppm"] == r["n"] * 1_000_000 // total
        assert r["overrepresented"] == (r["n"] * 10000 > total * 150)


def test_rbo_exact_fraction(spark, sf_dir):
    r = q_rank_biased_overlap(spark, sf_dir).first()
    docs = load_table(spark, sf_dir, "documents").collect()
    ra = sorted(docs, key=lambda d: (-d["n_chars"], d["doc_id"]))[:10]
    rb = sorted(
        docs,
        key=lambda d: (-len(set(re.findall("[a-z]+", d["text"].lower()))), d["doc_id"]),
    )[:10]
    pos_a = {d["doc_id"]: i + 1 for i, d in enumerate(ra)}
    pos_b = {d["doc_id"]: i + 1 for i, d in enumerate(rb)}
    common = set(pos_a) & set(pos_b)
    assert r["n_common"] == len(common)
    # RBO from first principles: (1-p) sum p^(d-1) X_d / d
    p = 0.9
    rbo = 0.0
    for d in range(1, 11):
        x_d = sum(1 for doc in common if max(pos_a[doc], pos_b[doc]) <= d)
        rbo += (1 - p) * p ** (d - 1) * x_d / d
    assert abs(r["rbo"] - rbo) < 1e-9
    assert r["rbo"] == r["rbo_num"] / r["rbo_den"]
    assert 0 <= r["rbo"] <= 1
