"""Round-5 batch 101: append-mode final windows, SCD Type 3, blocked
kNN graph + recall evaluation."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_knn_graph_blocked,
    q_knn_recall_eval,
    q_stream_window_append,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_stream_window_append_equals_batch_and_is_final(spark, sf_dir):
    rows = q_stream_window_append(spark, sf_dir).collect()
    # exactly-once: no (window, type) cell appears twice
    keys = [(r["window_start_epoch"], r["event_type"]) for r in rows]
    assert len(keys) == len(set(keys))
    # equals batch tumbling aggregate; no sentinel window leaked
    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r["w"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.expr("unix_timestamp(ts) div 21600 * 21600").alias("w"), "event_type"
        )
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    got = {(r["window_start_epoch"], r["event_type"]): r["n"] for r in rows}
    assert got == batch


def test_scd3_current_and_previous(spark, sf_dir):
    rows = REGISTRY["q_scd3_dim"](spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders").collect()
    by_cust = {}
    for o in orders:
        by_cust.setdefault(o["o_custkey"], []).append(o)
    assert len(rows) == len(by_cust)
    for r in rows:
        hist = sorted(
            by_cust[r["o_custkey"]],
            key=lambda o: (o["o_orderdate"], o["o_orderkey"]),
            reverse=True,
        )
        assert r["current_priority"] == hist[0]["o_orderpriority"]
        assert r["last_order_date"] == hist[0]["o_orderdate"]
        assert r["n_orders"] == len(hist)
        prev = next(
            (
                o["o_orderpriority"]
                for o in hist
                if o["o_orderpriority"] != r["current_priority"]
            ),
            None,
        )
        assert r["prev_priority"] == prev


def test_knn_graph_every_vector_has_neighbors(spark, sf_dir):
    rows = q_knn_graph_blocked(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    per_vec = {}
    for r in rows:
        per_vec.setdefault(r["vec_id"], []).append(r)
        assert labels[r["nid"]] == r["label"]  # neighbor from same block
        assert r["nid"] != r["vec_id"]
    # every vector gets exactly min(3, bucket_size - 1) neighbors
    from collections import Counter

    sizes = Counter(labels.values())
    for vid, grp in per_vec.items():
        assert len(grp) == min(3, sizes[labels[vid]] - 1)
        assert sorted(g["rank"] for g in grp) == list(range(1, len(grp) + 1))
        scores = [g["score"] for g in sorted(grp, key=lambda g: g["rank"])]
        assert scores == sorted(scores, reverse=True)
    assert set(per_vec) == set(labels)


def test_knn_recall_matches_manual_intersection(spark, sf_dir):
    rows = {r["vec_id"]: r for r in q_knn_recall_eval(spark, sf_dir).collect()}
    assert sorted(rows) == list(range(20))
    emb = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r["vec_id"]: (r["label"], r["embedding"]) for r in emb}

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += float(x) * float(y)
        return s

    for pid in (0, 7, 19):
        plabel, pvec = vecs[pid]
        scored = sorted(
            ((dot(pvec, v), -nid, nid) for nid, (_, v) in vecs.items() if nid != pid),
            reverse=True,
        )
        exact = {s[2] for s in scored[:3]}
        blocked_sorted = [s for s in scored if vecs[s[2]][0] == plabel]
        blocked = {s[2] for s in blocked_sorted[:3]}
        assert rows[pid]["hits"] == len(exact & blocked)
        assert abs(rows[pid]["recall_at_3"] - rows[pid]["hits"] / 3) < 1e-12
