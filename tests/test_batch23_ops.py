"""Round-2 batch-23 operators: fixed-point PageRank, TPC-H Q7/Q10,
Arrow-batch UDF, robust scaling, window value functions."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    REGISTRY,
    q_pagerank_nations,
    q_sql_q10,
    q_udf_arrow_batch,
)

q_sql_q7 = REGISTRY["q_sql_q7"]


def test_pagerank_mass_and_determinism(spark, sf_dir):
    """Ranks are positive, bounded, and the run is bit-reproducible
    (fixed-point integers admit no accumulation-order drift)."""
    a = sorted((r["n_nationkey"], r["pagerank"]) for r in q_pagerank_nations(spark, sf_dir).collect())
    b = sorted((r["n_nationkey"], r["pagerank"]) for r in q_pagerank_nations(spark, sf_dir).collect())
    assert a == b
    assert len(a) == 25
    total = sum(p for _, p in a)
    # mass leaks only through fixed-point truncation; stays near 1
    assert 0.9 < total <= 1.0000001
    assert all(p >= 0.15 / 25 - 1e-9 for _, p in a)


def test_pagerank_matches_twin_on_dangling_nation_keys(spark, sf_dir, tmp_path):
    """A customer and a supplier whose nation key is missing from
    ``nation``: the Python-side loop returns what the recursive-CTE twin
    returns (the dangling key is ranked once an edge reaches it)."""
    import duckdb

    from etl_pipeline_project_spark.queries import ORACLE

    con = duckdb.connect()
    gone = con.execute(
        f"SELECT min(s_nationkey) FROM '{sf_dir}/supplier.parquet' "
        f"WHERE s_nationkey IN (SELECT c_nationkey FROM '{sf_dir}/customer.parquet')"
    ).fetchone()[0]
    for t in ["lineitem", "orders", "customer", "supplier", "nation"]:
        keep = f"WHERE n_nationkey <> {gone}" if t == "nation" else ""
        con.execute(
            f"COPY (SELECT * FROM '{sf_dir}/{t}.parquet' {keep}) "
            f"TO '{tmp_path}/{t}.parquet' (FORMAT PARQUET)"
        )
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    want = sorted(con.execute(ORACLE["q_pagerank_nations"]).fetchall())
    got = sorted(tuple(r) for r in q_pagerank_nations(spark, str(tmp_path)).collect())
    assert gone in {k for k, _ in want}
    assert got == want


def test_q7_both_directions_present(spark):
    # sf0.001 has only 10 suppliers — the picked nation pair may have no
    # trade there; sf0.01 covers all 25x25 pairs
    rows = q_sql_q7(spark, "/root/testdata/sf0.01").collect()
    pairs = {(r["supp_nation"], r["cust_nation"]) for r in rows}
    assert pairs <= {("NATION_20", "NATION_11"), ("NATION_11", "NATION_20")}
    assert len(rows) > 0
    assert all(r["l_year"] in (1995, 1996) for r in rows)


def test_q10_top20_sorted(spark, sf_dir):
    rows = q_sql_q10(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_arrow_udf_matches_jvm_length(spark, sf_dir):
    from etl_pipeline_project_spark.sources.readers import load_table

    out = q_udf_arrow_batch(spark, sf_dir)
    jvm = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n_jvm")
    )
    diff = out.join(jvm, "doc_id").where(F.col("n_chars_py") != F.col("n_jvm"))
    assert diff.count() == 0


def test_robust_scaler_median_maps_to_zero(spark, sf_dir):
    """A row whose value equals its group median must scale to exactly 0."""
    out = REGISTRY["q_robust_scaler"](spark, sf_dir)
    from etl_pipeline_project_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("rs_ev")
    med = spark.sql(
        "SELECT event_type, percentile_disc(0.5) WITHIN GROUP (ORDER BY value) m"
        " FROM rs_ev GROUP BY event_type"
    )
    joined = (
        ev.join(med, "event_type")
        .where(F.col("value") == F.col("m"))
        .join(out.select("event_id", "scaled"), "event_id")
    )
    bad = joined.where(F.col("scaled") != 0.0).count()
    assert joined.count() > 0 and bad == 0


def test_window_values_singleton_partition_semantics(spark):
    """For a single-row partition: first=last=value, nth(2) is NULL, lag
    falls back to the explicit default."""
    df = spark.createDataFrame(
        [(1, 100, "2024-01-01 00:00:00", 5.0)],
        "event_id LONG, user_id LONG, ts STRING, value DOUBLE",
    ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    df.createOrReplaceTempView("winval_singleton")
    from etl_pipeline_project_spark.queries import _WINDOW_VALUES_SQL

    r = spark.sql(_WINDOW_VALUES_SQL.format(table="winval_singleton")).first()
    assert r["first_v"] == 5.0 and r["last_v"] == 5.0
    assert r["second_v"] is None
    assert r["prev_v"] == -1.0
