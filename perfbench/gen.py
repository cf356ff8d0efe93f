"""Seeded generator for the engine's TPC-H-ish input tables.

Writes one parquet file per table with the column names, types and value
domains of ``etl_pipeline_project_spark.schemas.TESTDATA_SCHEMAS``, so the
engine reads it exactly as it reads the TPC-H-ish testdata. Row counts scale
like TPC-H: ``sf=0.1`` gives 600k lineitem rows and 100k events.

The same ``(sf, seed)`` always gives byte-identical values.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["blue", "red", "small", "large", "old", "new", "hot", "cold"]
_NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()

EVENTS_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    origin = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(micros.astype(np.int64) + origin, type=pa.timestamp("us"))


def _day_ts(rng: np.random.Generator, n: int, start: dt.datetime, days: int) -> pa.Array:
    return _ts(start, rng.integers(0, days, n) * 86_400_000_000)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], type=pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    n_users = max(150, n_ev // 67)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
    })
    ok = np.arange(n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, _STATUS, n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _day_ts(rng, n_ord, dt.datetime(1995, 1, 1), 2404),
        "o_orderpriority": _pick(rng, _PRIORITY, n_ord),
    })
    l_ok = rng.integers(0, n_ord, n_line)
    l_ln = rng.integers(1, 8, n_line)
    l_pk = rng.integers(0, n_part, n_line)
    l_sk = rng.integers(0, n_supp, n_line)
    # (orderkey, linenumber, partkey, suppkey) is the row key downstream
    _, first = np.unique(np.stack([l_ok, l_ln, l_pk, l_sk], axis=1), axis=0, return_index=True)
    keep = np.sort(first)
    n = len(keep)
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok[keep], pa.int64()),
        "l_partkey": pa.array(l_pk[keep], pa.int64()),
        "l_suppkey": pa.array(l_sk[keep], pa.int64()),
        "l_linenumber": pa.array(l_ln[keep], pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _day_ts(rng, n, dt.datetime(1995, 1, 2), 2498),
    })
    span = EVENT_DAYS * 86_400_000_000
    ev_us = np.sort(rng.integers(0, span, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EVENTS_START, ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.clip(np.round(rng.exponential(50.0, n_ev), 2), 0.01, None)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), m)]) for m in rng.integers(8, 100, n_docs)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 2.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
