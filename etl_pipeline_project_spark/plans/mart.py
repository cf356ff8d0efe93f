"""E3 — operational tables → star schema (`data/transformation_dw.py:122-334`).

Eleven mart tables (7 dims + 4 facts), each a project→rename→NOT-NULL-
filter→dedup (→union / →join) chain over the five operational tables, per
the reference's build (with its quirks fixed by design):

- Q2: `reviews.rating` flows through to fact_maps (the reference's schema
  drift made this impossible).
- Q3: every dedup declares a deterministic tie-break (ascending non-key
  columns, NULLS FIRST — stated explicitly so the DuckDB oracle orders
  identically; DuckDB's ASC default is NULLS LAST).
- Q5: declared schemas make empty inputs well-typed.
- Q6: timestamps are UTC TimestampType before they get here.
- Q8: all loads are idempotent overwrites (sinks are the caller's concern;
  these builders return DataFrames).

Scale notes: nothing is cached — each table's plan scans its sources with
only its own columns and filters pushed down (a cache would materialise
every source column, long texts too). The one join (fact_twitter ⟕
dim-side places) broadcasts the projected dim. Everything else is
shuffle-free except the dedup exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_project_spark.functions.timefn import build_time_dimension
from etl_pipeline_project_spark.operators.dedup import dedup_keyed
from etl_pipeline_project_spark.operators.joins import left_enrich
from etl_pipeline_project_spark.operators.relational import drop_null_rows, rename_columns
from etl_pipeline_project_spark.operators.setops import union_all, union_single_column


def dim_waktu(ops: dict[str, DataFrame]) -> DataFrame:
    """`data/transformation_dw.py:136-153`: union the four timestamp
    columns, distinct non-null, derive jam/hari/tanggal/bulan/tahun."""
    all_ts = union_single_column(
        [
            (ops["reviews"], "timestamp_review"),
            (ops["tweets"], "created_at_tweet"),
            (ops["pemasukan"], "timestamp"),
            (ops["pengeluaran"], "timestamp"),
        ],
        "timestamp_datetime",
    )
    return build_time_dimension(all_ts.na.drop().distinct())


def dim_place(ops: dict[str, DataFrame]) -> DataFrame:
    """`data/transformation_dw.py:159-182`: reference names (`types`→
    `tipe_tempat`, `phone_number`→`kontak`) and the reference's NOT-NULL
    subset — everything except `kontak`/`jam_operasional` (dw.py:174-177)."""
    out = rename_columns(
        ops["places"],
        {
            "name": "nama_tempat",
            "lat": "latitude",
            "lng": "longitude",
            "types": "tipe_tempat",
            "phone_number": "kontak",
            "opening_hours_text": "jam_operasional",
        },
    ).select(
        "place_id", "nama_tempat", "latitude", "longitude",
        "tipe_tempat", "kontak", "jam_operasional",
    )
    out = drop_null_rows(
        out, subset=["place_id", "nama_tempat", "latitude", "longitude", "tipe_tempat"]
    )
    return dedup_keyed(out, "place_id", tiebreak=["nama_tempat", "latitude", "longitude"])


def dim_user(ops: dict[str, DataFrame]) -> DataFrame:
    """`data/transformation_dw.py:186-193`."""
    out = ops["tweets"].select(
        F.col("id_author_twitter").alias("id_user"),
        F.col("author_location").alias("lokasi_user"),
    )
    out = drop_null_rows(out, subset=["id_user"])
    return dedup_keyed(out, "id_user", tiebreak=[F.col("lokasi_user").asc_nulls_first()])


def dim_vendor(ops: dict[str, DataFrame]) -> DataFrame:
    """`data/transformation_dw.py:199-208` — NOT-NULL on *both* declared
    columns (dw.py:204), not just the key."""
    out = drop_null_rows(
        ops["pengeluaran"].select("id_vendor", "nama_vendor"),
        subset=["id_vendor", "nama_vendor"],
    )
    return dedup_keyed(out, "id_vendor", tiebreak=["nama_vendor"])


def dim_departemen(ops: dict[str, DataFrame]) -> DataFrame:
    """`data/transformation_dw.py:210-219` — NOT-NULL on both columns
    (dw.py:215)."""
    out = drop_null_rows(
        ops["pengeluaran"].select("id_departemen", "nama_departemen"),
        subset=["id_departemen", "nama_departemen"],
    )
    return dedup_keyed(out, "id_departemen", tiebreak=["nama_departemen"])


def dim_proyek(ops: dict[str, DataFrame]) -> DataFrame:
    """`data/transformation_dw.py:223-229`: union the project columns of
    both finance tables, dedup on id_proyek."""
    cols = ["id_proyek", "nama_proyek", "sektor_pariwisata"]
    out = union_all(ops["pemasukan"].select(*cols), ops["pengeluaran"].select(*cols))
    out = drop_null_rows(out, subset=cols)  # all three NOT NULL (dw.py:227)
    return dedup_keyed(out, "id_proyek", tiebreak=["nama_proyek", "sektor_pariwisata"])


def dim_penyumbang(ops: dict[str, DataFrame]) -> DataFrame:
    """`data/transformation_dw.py:234-243` — NOT-NULL on all three columns
    (dw.py:239)."""
    out = drop_null_rows(
        ops["pemasukan"].select("id_penyumbang", "nama_penyumbang", "jenis_penyumbang"),
        subset=["id_penyumbang", "nama_penyumbang", "jenis_penyumbang"],
    )
    return dedup_keyed(out, "id_penyumbang", tiebreak=["nama_penyumbang", "jenis_penyumbang"])


def fact_maps(ops: dict[str, DataFrame]) -> DataFrame:
    """`data/transformation_dw.py:246-260`: `timestamp_review`→
    `timestamp_datetime`, `review_text`→`review_longtext` (dw.py:250-253);
    NOT-NULL on all six columns incl. `author_url` (dw.py:254-256).
    Carries `rating` (Q2 fix — the reference's schema drift lost it)."""
    out = ops["reviews"].select(
        "id_review",
        F.col("timestamp_review").alias("timestamp_datetime"),
        "place_id",
        "author_url",
        F.col("review_text").alias("review_longtext"),
        "rating",
    )
    return drop_null_rows(
        out,
        subset=["id_review", "timestamp_datetime", "place_id",
                "author_url", "review_longtext", "rating"],
    )


def fact_twitter(ops: dict[str, DataFrame]) -> DataFrame:
    """`data/transformation_dw.py:262-288`: tweets ⟕ places for the place
    name (broadcast dim), reference renames (`created_at_tweet`→
    `created_at_datetime`, places.name→`nama_lokasi`, `id_author_twitter`→
    `id_user`), the reference's exact five-column final projection
    (dw.py:276-278), NOT-NULL on all five (dw.py:282-284)."""
    places_dim = ops["places"].select("place_id", F.col("name").alias("nama_lokasi"))
    joined = left_enrich(
        ops["tweets"],
        places_dim,
        ops["tweets"]["place_id_source"] == places_dim["place_id"],
    )
    out = joined.select(
        "id_tweet",
        F.col("created_at_tweet").alias("created_at_datetime"),
        F.col("id_author_twitter").alias("id_user"),
        "nama_lokasi",
        "text_tweet",
    )
    return drop_null_rows(
        out, subset=["id_tweet", "created_at_datetime", "id_user", "nama_lokasi", "text_tweet"]
    )


def fact_pengeluaran(ops: dict[str, DataFrame]) -> DataFrame:
    """`data/transformation_dw.py:290-310` — money as DECIMAL(38,9)
    (BigQuery BIGNUMERIC twin, SURVEY §1.2); reference renames
    (`timestamp`→`timestamp_datetime`, `bukti`→`bukti_pengeluaran`,
    dw.py:297-302) and NOT-NULL on everything but the receipt
    (dw.py:303-306)."""
    out = ops["pengeluaran"].select(
        F.col("id_transaksi_original").alias("id_transaksi"),
        F.col("timestamp").alias("timestamp_datetime"),
        "jenis_kebutuhan", "id_vendor", "id_departemen",
        F.col("jumlah").cast("decimal(38,9)").alias("jumlah_pengeluaran"),
        F.col("bukti").alias("bukti_pengeluaran"),
        "id_proyek",
    )
    return drop_null_rows(
        out,
        subset=["id_transaksi", "timestamp_datetime", "jenis_kebutuhan",
                "id_vendor", "id_departemen", "jumlah_pengeluaran", "id_proyek"],
    )


def fact_pemasukan(ops: dict[str, DataFrame]) -> DataFrame:
    """`data/transformation_dw.py:312-332` — reference renames
    (`id_transaksi_original`→`id_transaksi_income`, `timestamp`→
    `timestamp_datetime`, `bukti`→`bukti_pemasukan`, dw.py:319-324) and
    NOT-NULL on everything but the receipt (dw.py:325-328)."""
    out = ops["pemasukan"].select(
        F.col("id_transaksi_original").alias("id_transaksi_income"),
        F.col("timestamp").alias("timestamp_datetime"),
        "jenis_pemasukan", "id_penyumbang",
        F.col("jumlah").cast("decimal(38,9)").alias("jumlah_pemasukan"),
        F.col("bukti").alias("bukti_pemasukan"),
        "id_proyek",
    )
    return drop_null_rows(
        out,
        subset=["id_transaksi_income", "timestamp_datetime", "jenis_pemasukan",
                "id_penyumbang", "jumlah_pemasukan", "id_proyek"],
    )


_BUILDERS = {
    "dim_waktu": dim_waktu,
    "dim_place": dim_place,
    "dim_user": dim_user,
    "dim_vendor": dim_vendor,
    "dim_departemen": dim_departemen,
    "dim_proyek": dim_proyek,
    "dim_penyumbang": dim_penyumbang,
    "fact_maps": fact_maps,
    "fact_twitter": fact_twitter,
    "fact_pengeluaran": fact_pengeluaran,
    "fact_pemasukan": fact_pemasukan,
}


def build_mart(ops: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """All eleven mart tables, each a lazy plan over ``ops`` that scans only
    the source columns it projects; nothing is cached."""
    return {name: fn(ops) for name, fn in _BUILDERS.items()}
