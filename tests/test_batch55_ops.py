"""Round-3 batch-55: per-entity caps, LOO target encoding, profile
drift, bounce rate."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_per_user_cap,
    q_session_bounce,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_per_user_cap_accounting(spark, sf_dir):
    r = q_per_user_cap(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events")
    assert r["n_input"] == ev.count()
    assert r["n_kept"] + r["n_capped"] == r["n_input"]
    # kept is at most 5 per user-day
    assert r["n_kept"] <= 5 * r["n_user_days"]
    # and at least one per user-day
    assert r["n_kept"] >= r["n_user_days"]


def test_loo_excludes_own_label(spark, sf_dir):
    rows = REGISTRY["q_target_encode_loo"](spark, sf_dir).limit(200).collect()
    for r in rows:
        assert 0 <= r["loo_num"] <= r["loo_den"]
        assert r["loo_encoding"] == r["loo_num"] / r["loo_den"]
    # leakage check: within one category, y=1 rows encode LOWER than y=0
    by_type: dict[str, dict[int, float]] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], {})[r["y"]] = r["loo_encoding"]
    for encs in by_type.values():
        if 0 in encs and 1 in encs:
            assert encs[1] < encs[0]


def test_profile_drift_halves_partition(spark, sf_dir):
    rows = {r["half"]: r for r in REGISTRY["q_profile_drift"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    assert rows["h1"]["n_rows"] + rows["h2"]["n_rows"] == ev.count()
    for r in rows.values():
        assert r["mean_cents"] == r["cents"] / r["n_rows"]


def test_bounce_rate_bounds(spark, sf_dir):
    r = q_session_bounce(spark, sf_dir).first()
    assert 0 <= r["n_bounces"] <= r["n_sessions"]
    assert r["bounce_rate"] == r["n_bounces"] / r["n_sessions"]
    ev = load_table(spark, sf_dir, "events")
    # at least one session per user; at most one per event
    n_users = ev.select("user_id").distinct().count()
    assert n_users <= r["n_sessions"] <= ev.count()
