"""Keys that call a Python function from SQL register it for the build
only: the caller's function catalog is left as it was found."""

from __future__ import annotations

import duckdb

from etl_pipeline_project_spark.queries import ORACLE, REGISTRY

KEYS = ["q_udtf_split", "q_udf_sql_registered"]


def _user_functions(spark) -> list[str]:
    return sorted(r[0] for r in spark.sql("SHOW USER FUNCTIONS").collect())


def test_udf_keys_leave_temp_functions_unchanged(spark, sf_dir):
    before = _user_functions(spark)
    frames = [REGISTRY[k](spark, sf_dir) for k in KEYS]
    assert _user_functions(spark) == before
    # the built frames still run without the names registered
    assert all(df.count() > 0 for df in frames)


def test_caller_function_of_same_name_is_restored(spark, sf_dir):
    spark.udf.register("cents_mod97", lambda v: 7, "int")
    try:
        rows = REGISTRY["q_udf_sql_registered"](spark, sf_dir).collect()
        assert spark.sql("SELECT cents_mod97(1.5)").first()[0] == 7
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS cents_mod97")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    want = sorted(con.execute(ORACLE["q_udf_sql_registered"]).fetchall())
    assert sorted(tuple(r) for r in rows) == want
