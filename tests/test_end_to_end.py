"""End-to-end daily-run integration test — the reference's intended DAG
(SURVEY §1.4 Q1): staged CSV files → operational load (dedup + incremental
anti-join + append) → star-schema mart build → mart sinks. Exercises the
CSV glob reader, both sink modes, the operational chain, and all eleven
mart builders in one flow over two simulated daily batches."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from etl_pipeline_project_spark.operators.dedup import dedup_keyed
from etl_pipeline_project_spark.plans.adapter import derive_reference_tables
from etl_pipeline_project_spark.plans.mart import build_mart
from etl_pipeline_project_spark.plans.operational import load_operational
from etl_pipeline_project_spark.schemas import MART_SCHEMAS, OPERATIONAL_KEYS, OPERATIONAL_SCHEMAS
from etl_pipeline_project_spark.sources.readers import read_csv_glob
from etl_pipeline_project_spark.sources.sinks import write_append, write_csv, write_overwrite

BASE = "/root/repo/.scratch/e2e"


@pytest.fixture(scope="module")
def e2e_dirs():
    shutil.rmtree(BASE, ignore_errors=True)
    yield BASE


def test_daily_dag_end_to_end(spark, sf_dir, e2e_dirs):
    src = derive_reference_tables(spark, sf_dir)
    tiebreaks = {t: [F.col(c).asc_nulls_first() for c in df.columns if c != OPERATIONAL_KEYS[t]]
                 for t, df in src.items()}

    ops_loaded = {}
    for table, df in src.items():
        key = OPERATIONAL_KEYS[table]
        schema = OPERATIONAL_SCHEMAS[table]
        stage_dir = f"{BASE}/staging/{table}"
        ops_path = f"{BASE}/ops/{table}"

        # Day 1: first 60% of rows staged as CSV (the reference's GCS
        # prefix), full-load into the operational store.
        day1 = df.filter(F.pmod(F.xxhash64(key), F.lit(10)) < 6)
        write_csv(day1, f"{stage_dir}/day1")
        staged1 = read_csv_glob(spark, f"{stage_dir}/day1", schema)
        new1 = load_operational(staged1, None, key=key, tiebreak=tiebreaks[table])
        write_overwrite(new1, ops_path)

        # Day 2: the FULL dataset staged again (50%+ overlap with day 1 —
        # the FIXTURES dirt profile); only never-seen keys may append.
        write_csv(df, f"{stage_dir}/day2")
        staged2 = read_csv_glob(spark, f"{stage_dir}/day2", schema)
        existing = spark.read.parquet(ops_path)
        new2 = load_operational(staged2, existing, key=key, tiebreak=tiebreaks[table])
        write_append(new2.localCheckpoint(eager=True), ops_path)
        ops_loaded[table] = spark.read.parquet(ops_path)

    # Operational invariants: exactly one row per source key, no dup keys.
    for table, df in ops_loaded.items():
        key = OPERATIONAL_KEYS[table]
        expected = dedup_keyed(src[table], key, tiebreak=tiebreaks[table]).count()
        assert df.count() == expected, table
        assert df.count() == df.select(key).distinct().count(), table

    # Mart build over the loaded operational store, full-refresh sinks.
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    mart = build_mart(ops_loaded)
    for name, df in mart.items():
        write_overwrite(df, f"{BASE}/mart/{name}")
        back = spark.read.parquet(f"{BASE}/mart/{name}")
        assert back.count() > 0, name
        assert back.columns == [f.name for f in MART_SCHEMAS[name].fields], name
    # the mart build caches nothing: no RDD is left persisted by it
    assert set(persisted().keySet()) <= before

    # Idempotence of the whole daily run: replaying day 2 appends nothing.
    for table in src:
        key = OPERATIONAL_KEYS[table]
        schema = OPERATIONAL_SCHEMAS[table]
        staged = read_csv_glob(spark, f"{BASE}/staging/{table}/day2", schema)
        again = load_operational(
            staged, ops_loaded[table], key=key, tiebreak=tiebreaks[table]
        )
        assert again.count() == 0, table
