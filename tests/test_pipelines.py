"""Star-schema pipeline tests (SURVEY §5 steps 3-4): schema conformance to
the mart DDL, the idempotency invariants the reference relies on, and the
quirk fixes (Q2 rating carry-through, dangling-FK drops)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.operators.setops import union_all
from etl_pipeline_project_spark.plans.adapter import derive_reference_tables
from etl_pipeline_project_spark.plans.mart import build_mart
from etl_pipeline_project_spark.plans.operational import load_operational
from etl_pipeline_project_spark.schemas import MART_SCHEMAS


def test_build_mart_covers_all_eleven_tables(spark, sf_dir):
    ops = derive_reference_tables(spark, sf_dir)
    mart = build_mart(ops)
    assert set(mart) == set(MART_SCHEMAS)


def test_mart_column_names_match_ddl(spark, sf_dir):
    ops = derive_reference_tables(spark, sf_dir)
    mart = build_mart(ops)
    for name, df in mart.items():
        expected = [f.name for f in MART_SCHEMAS[name].fields]
        assert df.columns == expected, (name, df.columns, expected)


def test_fact_maps_carries_rating(spark, sf_dir):
    """SURVEY §1.4 Q2: rating must survive into fact_maps, NOT NULL."""
    ops = derive_reference_tables(spark, sf_dir)
    fm = build_mart(ops)["fact_maps"]
    assert "rating" in fm.columns
    assert fm.filter(F.col("rating").isNull()).count() == 0


def test_fact_twitter_drops_dangling_fks(spark, sf_dir):
    """Dangling place FKs survive the left join as null `nama_lokasi`, then
    the NOT-NULL filter removes them (`data/transformation_dw.py:266-284`).
    Tweets pointing at p_missing_* places must not reach the fact."""
    ops = derive_reference_tables(spark, sf_dir)
    ft = build_mart(ops)["fact_twitter"]
    assert ft.filter(F.col("nama_lokasi").isNull()).count() == 0
    dangling = ops["tweets"].filter(F.col("place_id_source").startswith("p_missing_"))
    kept_ids = ft.select("id_tweet")
    assert dangling.join(kept_ids, "id_tweet", "inner").count() == 0


def test_dims_are_unique_on_key(spark, sf_dir):
    ops = derive_reference_tables(spark, sf_dir)
    mart = build_mart(ops)
    keys = {
        "dim_place": "place_id",
        "dim_user": "id_user",
        "dim_vendor": "id_vendor",
        "dim_departemen": "id_departemen",
        "dim_proyek": "id_proyek",
        "dim_penyumbang": "id_penyumbang",
        "dim_waktu": "timestamp_datetime",
    }
    for name, key in keys.items():
        df = mart[name]
        assert df.count() == df.select(key).distinct().count(), name


def test_ops_load_idempotent(spark, sf_dir):
    """Running the incremental load twice adds zero rows — the invariant
    the reference's daily batch depends on (`data/transformation_db.py:91-121`)."""
    ops = derive_reference_tables(spark, sf_dir)
    pem = ops["pemasukan"]
    key = "id_transaksi_original"
    tiebreak = [F.col("jumlah").asc_nulls_first()]
    first = load_operational(pem, None, key=key, tiebreak=tiebreak)
    loaded = first
    second = load_operational(pem, loaded, key=key, tiebreak=tiebreak)
    assert second.count() == 0
    # partial prior load: only the missing keys arrive
    half = first.filter(F.col(key).substr(-1, 1).isin("0", "2", "4", "6", "8"))
    delta = load_operational(pem, half, key=key, tiebreak=tiebreak)
    assert delta.count() == first.count() - half.count()
    assert union_all(half, delta).count() == first.count()


def test_fact_money_is_decimal(spark, sf_dir):
    ops = derive_reference_tables(spark, sf_dir)
    mart = build_mart(ops)
    assert dict(mart["fact_pemasukan"].dtypes)["jumlah_pemasukan"] == "decimal(38,9)"
    assert dict(mart["fact_pengeluaran"].dtypes)["jumlah_pengeluaran"] == "decimal(38,9)"
