"""``daily_load``: the reference's daily batch job (E2 + E3), one day per
pass.

Set-up derives the five reference-shaped operational tables from the
generated inputs (``plans.adapter``) and stages them as CSV, one partition
per day (``sources.sinks.write_csv``): each of the days after day 0 (one
per timed pass) holds 5 % of each table's rows, day 0 the rest. The seed
decides each row's first day, which rows are re-delivered on the next day
and which are staged twice within one day.

Each pass is one daily run on top of the store the earlier days built;
the warm-up pass is the initial run, which loads day 0 into the empty
store.
For each table it scans the day's CSV (``sources.readers.read_csv_glob``),
builds the new-rows-only load (``plans.operational.load_operational``:
keyed dedup + anti-join against the store) and appends it
(``write_append``); it lands the day's events file and runs the two
streams of ``stream.py`` over it; then it builds the star schema over the
store (``plans.mart``) and overwrites all eleven mart tables. Each table
load, each trigger, the mart build and each mart-table write is one op.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_pipeline_project_spark.plans.adapter import ADAPTER_CTE, derive_reference_tables
from etl_pipeline_project_spark.plans.mart import build_mart
from etl_pipeline_project_spark.plans.operational import load_operational
from etl_pipeline_project_spark.queries import ORACLE
from etl_pipeline_project_spark.schemas import OPERATIONAL_SCHEMAS
from etl_pipeline_project_spark.sources.readers import read_csv_glob, scan_keys
from etl_pipeline_project_spark.sources.sinks import write_append, write_csv, write_overwrite
from perfbench import checks, probes
from perfbench.stream import EventStream

INC_PERMILLE = 50  # share of a table's rows first staged on each later day
REDELIVER_PERMILLE = 25  # rows staged again the next day, as a share of the table
DOUBLE_PERMILLE = 50  # rows staged twice within their own day

# key and declared survivor order of each operational table
KEYS = {
    "places": "place_id",
    "reviews": "id_review",
    "tweets": "id_tweet",
    "pemasukan": "id_transaksi_original",
    "pengeluaran": "id_transaksi_original",
}
MART_TABLES = [
    "dim_waktu", "dim_place", "dim_user", "dim_vendor", "dim_departemen", "dim_proyek",
    "dim_penyumbang", "fact_maps", "fact_twitter", "fact_pengeluaran", "fact_pemasukan",
]


def _tiebreak(table: str) -> list:
    key = KEYS[table]
    return [F.col(c).asc_nulls_first() for c in OPERATIONAL_SCHEMAS[table].fieldNames() if c != key]


def _staged_days(df, key: str, seed: int, inc_days: int):
    """Each row with the days it is staged on: its first day, again the
    next day for a seeded share, or twice on its first day."""
    initial = 1000 - inc_days * INC_PERMILLE
    u = F.pmod(F.xxhash64(F.col(key), F.lit(seed)), F.lit(1000))
    day = F.when(u < initial, 0).otherwise(F.floor((u - initial) / INC_PERMILLE) + 1)
    # per-mille of this day's rows re-delivered: the same volume from every day
    redeliver = F.when(day == 0, REDELIVER_PERMILLE * 1000 // initial).otherwise(
        REDELIVER_PERMILLE * 1000 // INC_PERMILLE)
    r = F.pmod(F.xxhash64(F.col(key), F.lit(seed + 1)), F.lit(1000))
    days = (
        F.when(r < DOUBLE_PERMILLE, F.array(day, day))
        .when((r < DOUBLE_PERMILLE + redeliver) & (day < inc_days), F.array(day, day + 1))
        .otherwise(F.array(day))
    )
    return df.withColumn("stage_day", F.explode(days))


class DailyLoad:
    # nominal length of one timed pass on a 4-core host; sets the pass count
    PASS_S = 9.0

    def __init__(self, passes: int):
        self.inc_days = passes

    def setup(self, ctx) -> None:
        self.stage = os.path.join(ctx.run_dir, "staged")
        self.store = os.path.join(ctx.run_dir, "store")
        with ctx.span("plans.adapter.derive"):
            ops = derive_reference_tables(ctx.spark, ctx.data_dir)
        for table, df in ops.items():
            with ctx.span("sources.sinks.write_csv"):
                write_csv(_staged_days(df, KEYS[table], ctx.seed, self.inc_days),
                          f"{self.stage}/{table}", partition_by=["stage_day"])
        self.events = EventStream(self.inc_days)
        self.events.setup(ctx)
        self.day = -1

    def warmup(self, ctx) -> None:
        self.run_pass(ctx)

    def run_pass(self, ctx) -> None:
        tracing = ctx.tracer.enabled and ctx.timed
        if tracing:
            with ctx.probe():
                ops_before = probes.dir_size(f"{self.store}/ops", ".parquet")
        self._load_day(ctx)
        spark = ctx.spark
        mart, sources = {}, {}

        def build():
            with ctx.span("plans.mart.build"):
                sources.update({t: spark.read.parquet(f"{self.store}/ops/{t}") for t in KEYS})
                mart.update(build_mart(sources))

        ctx.op("mart:build", build)
        for table in MART_TABLES:
            def write(table=table):
                with ctx.span("plans.mart.exec"):
                    write_overwrite(mart[table], f"{self.store}/mart/{table}")

            ctx.op(f"mart:{table}", write)
        for df in sources.values():
            df.unpersist()
        if tracing:
            with ctx.probe():
                ops_after = probes.dir_size(f"{self.store}/ops", ".parquet")
                mart_size = probes.dir_size(f"{self.store}/mart", ".parquet")
            ctx.counters["bytes_written"] += ops_after[0] - ops_before[0] + mart_size[0]
            ctx.counters["files_written"] += ops_after[1] - ops_before[1] + mart_size[1]

    def _load_day(self, ctx) -> None:
        """Load the next staged day into the store: one op per table, then
        the day's micro-batches."""
        self.day += 1
        day, spark = self.day, ctx.spark
        tracing = ctx.tracer.enabled and ctx.timed
        for table in KEYS:
            path = f"{self.store}/ops/{table}"

            def load(table=table, path=path):
                with ctx.span("sources.readers.read_csv_glob"):
                    staged = read_csv_glob(spark, f"{self.stage}/{table}/stage_day={day}",
                                           OPERATIONAL_SCHEMAS[table])
                with ctx.span("plans.operational.build"):
                    existing = scan_keys(spark.read.parquet(path), KEYS[table]) if day else None
                    new = load_operational(staged, existing, key=KEYS[table],
                                           tiebreak=_tiebreak(table))
                with ctx.span("plans.operational.exec"):
                    (write_append if day else write_overwrite)(new, path)

            before = _parquet_files(path) if tracing else set()
            if ctx.op(f"load:{table}", load) and tracing:
                with ctx.probe():
                    ctx.counters["rows_appended"] += sum(
                        pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path) - before)
                    ctx.counters["rows_staged"] += duckdb.sql(
                        f"SELECT count(*) FROM read_csv('{self.stage}/{table}/stage_day={day}/*.csv', "
                        "header=true, all_varchar=true, escape='\\')").fetchone()[0]
        self.events.ingest_day(ctx, day)

    def check(self, ctx) -> None:
        """The store holds exactly the distinct rows staged so far, one per
        key, and the last mart equals the DuckDB twins over that state."""
        con = checks.duck()
        for table in KEYS:
            days = [f"{self.stage}/{table}/stage_day={d}/*.csv" for d in range(self.day + 1)]
            checks.csv_view(con, f"staged_{table}", days, OPERATIONAL_SCHEMAS[table])
            con.execute(f"CREATE TABLE ops_{table} AS SELECT DISTINCT * FROM staged_{table}")
        for table, key in KEYS.items():
            n_keys = con.execute(f"SELECT count(DISTINCT {key}) FROM ops_{table}").fetchone()[0]
            checks.compare(ctx, f"ops:{table}", con,
                           lambda t=table: checks.parquet_sql(con, f"{self.store}/ops/{t}"),
                           f"SELECT * FROM ops_{table}", n_keys=n_keys)
        for table in MART_TABLES:
            # the twin reads the adapter CTEs; point them at the staged state
            tail = ORACLE[f"q_mart_{table}"].removeprefix(ADAPTER_CTE)
            sql = "WITH " + ", ".join(f"{t} AS (SELECT * FROM ops_{t})" for t in KEYS) + tail
            checks.compare(ctx, f"mart:{table}", con,
                           lambda t=table: checks.parquet_sql(con, f"{self.store}/mart/{t}"), sql)
        self.events.check(ctx)


def _parquet_files(path: str) -> set[str]:
    if not os.path.isdir(path):
        return set()
    return {os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")}
