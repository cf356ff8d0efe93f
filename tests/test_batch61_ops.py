"""Round-3 batch-61: rolling slopes, role-playing dims."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_rolling_slope,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_rolling_slope_identity_and_windows(spark, sf_dir):
    rows = q_rolling_slope(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 3 <= r["n_days"] <= 7
        if r["slope_den"] != 0:
            assert r["slope_cents_per_day"] == r["slope_num"] / r["slope_den"]
        # distinct x values in a window => positive denominator
        assert r["slope_den"] >= 0


def test_role_playing_lag_structure(spark, sf_dir):
    rows = REGISTRY["q_role_playing_dim"](spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    assert sum(r["n_lines"] for r in rows) == li.count()
    # both roles resolve through the same dim: year domains coincide
    years = {r["order_year"] for r in rows} | {r["ship_year"] for r in rows}
    assert years == {1995, 1996, 1997, 1998, 1999, 2000, 2001}
    # ship dates are independent in the synthetic data: lags span both signs
    lags = {r["ship_year"] - r["order_year"] for r in rows}
    assert min(lags) < 0 < max(lags)
