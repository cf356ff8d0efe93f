"""Round-3 batch-40: timezone/ISO-week calendars, t-closeness EMD,
retention sweep."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_iso_week_rollup,
    q_retention_sweep,
    q_tz_convert,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_tz_convert_dst_buckets(spark, sf_dir):
    rows = {r["ny_hour"]: r["n_orders"] for r in q_tz_convert(spark, sf_dir).collect()}
    # midnight UTC is 19:00 EST (winter) or 20:00 EDT (summer) — exactly two
    assert set(rows) == {19, 20}
    orders = load_table(spark, sf_dir, "orders")
    assert sum(rows.values()) == orders.count()


def test_iso_week_year_boundary(spark, sf_dir):
    out = q_iso_week_rollup(spark, sf_dir)
    # 1995-01-01 is a Sunday -> ISO 1994-W52; the rollup must contain an
    # iso_year strictly below the calendar year range start
    assert out.filter((F.col("iso_year") == 1994) & (F.col("iso_week") == 52)).count() == 1
    orders = load_table(spark, sf_dir, "orders")
    assert out.agg(F.sum("n_orders")).first()[0] == orders.count()


def test_emd_bounds_and_zero_for_global(spark, sf_dir):
    for r in REGISTRY["q_emd_tcloseness"](spark, sf_dir).collect():
        # EMD normalized by denom is within [0, n_buckets]
        assert 0 <= r["emd_num"]
        assert r["emd_denom"] > 0
        assert r["n_group"] > 0


def test_retention_sweep_policy(spark, sf_dir):
    out = {r["event_type"]: r for r in q_retention_sweep(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    totals = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for t, r in out.items():
        assert r["n_kept"] + r["n_purged"] == totals[t]
    # 60-day classes keep everything (data spans only January 2024)
    assert out["signup"]["n_purged"] == 0
    assert out["purchase"]["n_purged"] == 0
    # 7-day errors lose the old tail at any sf with a full month of data
    assert out["error"]["n_purged"] > 0
