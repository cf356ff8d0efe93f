"""Keys registered with ``queries._sql_q`` run their twin text verbatim.

For these keys the DuckDB differential compares one SQL text on two
engines, so this is their tier-1 check: Spark's result over the sf0.001
parquet must equal DuckDB's for the same ``ORACLE`` text, and building the
key must leave the caller's temp views and SQL conf as they were.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from etl_pipeline_project_spark.queries import ORACLE, REGISTRY
from etl_pipeline_project_spark.schemas import TESTDATA_TABLES

SQL_KEYS = [k for k, fn in REGISTRY.items() if fn.__qualname__.startswith("_sql_q.")]


def _norm(cols, rows):
    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, (list, tuple)):
            return tuple(cell(x) for x in v)
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def _temp_views(spark):
    return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def test_sql_served_keys_are_registered():
    assert len(SQL_KEYS) >= 120
    assert all(k in ORACLE for k in SQL_KEYS)


@pytest.mark.parametrize("key", SQL_KEYS)
def test_sql_served_key_matches_duckdb(spark, sf_dir, duck, key):
    views, conf = _temp_views(spark), spark.conf.getAll
    df = REGISTRY[key](spark, sf_dir)
    assert _temp_views(spark) == views
    assert spark.conf.getAll == conf
    got = _norm(df.columns, [tuple(r) for r in df.collect()])
    res = duck.execute(ORACLE[key])
    want = _norm([d[0] for d in res.description], res.fetchall())
    assert sorted(df.columns) == sorted(d[0] for d in res.description)
    assert got == want


def test_caller_view_of_same_name_is_restored(spark, sf_dir):
    """A caller's own temp view named like a testdata table survives the
    build, and the key still reads the testdata table."""
    assert "q_scan_union_files" in SQL_KEYS
    spark.range(3).createOrReplaceTempView("lineitem")
    try:
        n = REGISTRY["q_scan_union_files"](spark, sf_dir).count()
        assert spark.table("lineitem").count() == 3
        assert n == duckdb.sql(f"SELECT count(*) FROM '{sf_dir}/lineitem.parquet'").fetchone()[0]
    finally:
        spark.catalog.dropTempView("lineitem")
