"""Fixture-substitution tests for the ingestion adapters (SURVEY §2.A:
REST and interactive sources are verified offline by injecting fixture
fetchers — the reference hard-codes requests.get and cannot be tested)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_pipeline_project_spark.sources.catalog import ensure_table
from etl_pipeline_project_spark.sources.ingestion import (
    RestIngestion,
    ingest_batch,
    manual_finance_record,
)
from etl_pipeline_project_spark.schemas import OPERATIONAL_SCHEMAS

SEARCH_FIXTURE = [
    {  # full record, detail overrides
        "place_id": "pl_1",
        "name": "Search Name 1",
        "types": ["tourist_attraction"],
        "geometry": {"location": {"lat": -8.0, "lng": 115.0}},
        "rating": 4.4,
    },
    {  # no details available → search fields win via coalesce
        "place_id": "pl_2",
        "name": "Search Name 2",
        "types": ["park"],
        "geometry": {"location": {"lat": -8.5, "lng": 115.2}},
        "rating": 4.0,
    },
    {"place_id": "pl_1", "name": "dup"},  # seen-set dedup (extraction.py:120)
    {"place_id": None, "name": "null id skipped"},  # null-id guard (:125)
]

DETAILS_FIXTURE = {
    "pl_1": [
        {
            "name": "Detail Name 1",
            "international_phone_number": "+62-361-1",
            "opening_hours": {"weekday_text": ["Mon: 9-5", "Tue: 9-5"]},
            "types": ["temple", "tourist_attraction"],
            "geometry": {"location": {"lat": -8.1, "lng": 115.1}},
            "reviews": [
                {"author_url": "u/a", "time": 1700000000, "text": "bagus", "rating": 5},
                {"author_url": "u/b", "time": 1700000100, "text": "ok", "rating": 3},
                {"author_url": None, "time": 1700000200, "text": "no author"},  # guard :43
                {"author_url": "u/c", "time": None, "text": "no time"},  # guard :43
            ],
        }
    ],
    "pl_2": [{}],
}


@pytest.fixture()
def rest(spark):
    return RestIngestion(
        spark,
        fetch_search=lambda q: SEARCH_FIXTURE,
        fetch_details=lambda pid: DETAILS_FIXTURE.get(pid, [{}]),
    )


def test_rest_places_coalesce_and_dedup(rest):
    places, _ = rest.ingest_places("tourism bali")
    rows = {r["place_id"]: r for r in places.collect()}
    assert set(rows) == {"pl_1", "pl_2"}  # dup + null-id dropped
    assert rows["pl_1"]["name"] == "Detail Name 1"  # detail wins
    assert rows["pl_2"]["name"] == "Search Name 2"  # fallback to search
    assert rows["pl_1"]["opening_hours_text"] == "Mon: 9-5 | Tue: 9-5"
    assert rows["pl_1"]["types"] == "temple, tourist_attraction"
    assert rows["pl_1"]["lat"] == -8.1 and rows["pl_2"]["lat"] == -8.5
    assert places.schema["lat"].dataType.typeName() == "double"


def test_rest_reviews_keys_and_guards(rest):
    _, reviews = rest.ingest_places("tourism bali")
    rows = reviews.collect()
    assert len(rows) == 2  # two guarded rows dropped
    ids = {r["id_review"] for r in rows}
    assert ids == {"pl_1_u/a_1700000000", "pl_1_u/b_1700000100"}
    ts = {r["timestamp_review"] for r in rows}
    assert dt.datetime(2023, 11, 14, 22, 13, 20) in ts  # epoch 1700000000 UTC


def test_manual_finance_record_validates(spark):
    df = manual_finance_record(
        spark,
        "pemasukan",
        {
            "id_transaksi_original": "trx1",
            "timestamp": "2024-03-01 10:30:00",
            "id_proyek": "p1",
            "jumlah": "150000",  # string in, long out (uploader int cast)
        },
    )
    row = df.collect()[0]
    assert row["jumlah"] == 150000
    assert row["timestamp"] == dt.datetime(2024, 3, 1, 10, 30)
    assert df.schema == OPERATIONAL_SCHEMAS["pemasukan"]
    with pytest.raises(ValueError):
        manual_finance_record(spark, "nope", {})
    with pytest.raises(ValueError):
        manual_finance_record(spark, "pemasukan", {"timestamp": "01/03/2024"})


def test_ingest_batch_shapes(spark):
    df = ingest_batch(
        spark,
        [
            {"id_transaksi_original": "a", "timestamp": "2024-01-01 00:00:00", "jumlah": 1},
            {"id_transaksi_original": "b", "timestamp": "2024-01-02 00:00:00", "jumlah": 2},
        ],
        "pengeluaran",
    )
    assert df.count() == 2
    assert df.schema == OPERATIONAL_SCHEMAS["pengeluaran"]


def test_ensure_table_idempotent(spark, tmp_path):
    ensure_table(spark, "t_places_ddl", OPERATIONAL_SCHEMAS["places"], location=str(tmp_path / "p"))
    ensure_table(spark, "t_places_ddl", OPERATIONAL_SCHEMAS["places"], location=str(tmp_path / "p"))
    assert spark.table("t_places_ddl").columns == [f.name for f in OPERATIONAL_SCHEMAS["places"].fields]
    spark.sql("DROP TABLE t_places_ddl")


def test_lakehouse_connectors_gate_cleanly(spark):
    """Delta/JDBC connectors raise actionable NotImplementedError when the
    deploy-time jars are absent (this container), instead of opaque JVM
    failures."""
    import pytest as _pytest

    from etl_pipeline_project_spark.sources.lakehouse import (
        delta_available,
        read_jdbc,
        write_delta,
    )
    from etl_pipeline_project_spark.sources.readers import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "region")
    if delta_available(spark):
        write_delta(df, "/root/repo/.scratch/delta_gate_test")
    else:
        with _pytest.raises(NotImplementedError):
            write_delta(df, "/root/repo/.scratch/delta_gate_test")
    with _pytest.raises((NotImplementedError, ValueError)):
        read_jdbc(spark, "jdbc:postgresql://localhost/none", "t", partition_column="id")
