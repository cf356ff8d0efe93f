"""NULL measures through the order-statistics keys.

Each key below ranks, buckets or accumulates over a measure column with a
plain window (or runs its twin text). The lineitem and events tables are
copied with NULLs in ``l_quantity``, ``l_extendedprice`` and ``value`` at
fixed moduli, and each key's Spark result on the copy must equal its DuckDB
twin's, full precision and order-insensitive.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

from etl_pipeline_project_spark.queries import ORACLE, REGISTRY
from etl_pipeline_project_spark.schemas import TESTDATA_TABLES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
from oracle_check import _norm_rows  # noqa: E402

ORDER_STATS_KEYS = [
    # run from their twin text
    "q_window_distribution", "q_ntile_quartiles", "q_ks_test",
    "q_weighted_median", "q_auc_roc", "q_id_gap_ranges", "q_abc_classes",
    "q_decile_spread", "q_abc_xyz", "q_palma_ratio",
    # hand bodies over a plain window
    "q_spearman_rho", "q_percentile_disc", "q_window_rank_semantics",
    "q_iqr_outliers", "q_mann_whitney_u", "q_quantile_normalize",
    "q_partition_bounds", "q_gains_table", "q_calibration_bins",
    "q_quantile_treatment_effect", "q_uplift_deciles", "q_cost_threshold",
    "q_matched_pairs_att", "q_expected_calibration_error", "q_qini_curve",
    "q_risk_coverage",
]

NULLED = {
    "lineitem": """* REPLACE (
        CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_quantity END AS l_quantity,
        CASE WHEN l_orderkey % 11 = 0 THEN NULL ELSE l_extendedprice END
          AS l_extendedprice)""",
    "events": "* REPLACE (CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value)",
}


@pytest.fixture(scope="module")
def null_dir(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("null_measures")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        if t in NULLED:
            con.execute(
                f"COPY (SELECT {NULLED[t]} FROM '{sf_dir}/{t}.parquet') "
                f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
        else:
            os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    assert con.execute(
        "SELECT count(*) FILTER (l_quantity IS NULL) > 0"
        " AND count(*) FILTER (l_extendedprice IS NULL) > 0 FROM lineitem"
    ).fetchone()[0]
    assert con.execute("SELECT count(*) FILTER (value IS NULL) > 0 FROM events").fetchone()[0]
    yield str(d), con
    con.close()


@pytest.mark.parametrize("key", ORDER_STATS_KEYS)
def test_order_stats_key_matches_twin_on_null_measures(spark, null_dir, key):
    path, con = null_dir
    df = REGISTRY[key](spark, path)
    got_cols, got = df.columns, [tuple(r) for r in df.collect()]
    res = con.execute(ORACLE[key])
    want_cols, want = [d[0] for d in res.description], res.fetchall()
    assert sorted(got_cols) == sorted(want_cols)
    assert _norm_rows(got_cols, got) == _norm_rows(want_cols, want)
