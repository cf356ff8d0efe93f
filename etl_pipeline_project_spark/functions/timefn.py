"""Time-dimension derivations and timestamp normalization.

The reference's flagship expression chain (`data/transformation_dw.py:136-153`)
derives a time dimension from the distinct timestamps of four source tables:
time-of-day (``dt.time``), weekday name (``dt.day_name()``), date
(``dt.date``), year-month string (``dt.strftime('%Y-%m')``), year
(``dt.year``). All five land on built-in Catalyst expressions.

TIME has no stable Spark type (SURVEY §1.2), so ``jam`` is an ``HH:mm:ss``
string on both the engine and oracle sides.

Timestamp normalization: the reference mixes tz-aware UTC API timestamps
with naive local manual-entry timestamps (`data/extraction.py:50,100` vs
`manual_tools/manual_finance_uploader.py:55,66`; SURVEY §1.4 Q6). Engine
rule: everything becomes UTC TimestampType at ingestion; the session
timezone is pinned to UTC in `session.get_spark`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def time_dimension_cols(ts: Column | str) -> list[Column]:
    """The dim_waktu column set (`data/transformation_dw.py:145-153`)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return [
        c.alias("timestamp_datetime"),
        F.date_format(c, "HH:mm:ss").alias("jam"),
        F.date_format(c, "EEEE").alias("hari"),
        F.to_date(c).alias("tanggal"),
        F.date_format(c, "yyyy-MM").alias("bulan"),
        F.year(c).cast("long").alias("tahun"),
    ]


def build_time_dimension(distinct_ts: DataFrame, ts_col: str = "timestamp_datetime") -> DataFrame:
    """distinct non-null timestamps → dim_waktu (`data/transformation_dw.py:136-153`).

    Input should already be the distinct union of the source timestamp
    columns (see `operators.setops.union_single_column`).
    """
    return distinct_ts.select(*time_dimension_cols(ts_col)).na.drop(subset=["timestamp_datetime"])


def parse_timestamp(col: Column | str, fmt: str | None = None) -> Column:
    """`pd.to_datetime` / `strptime` normalization (`data/transformation_dw.py:143`,
    `manual_tools/manual_finance_uploader.py:58-61`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_timestamp(c, fmt) if fmt else F.to_timestamp(c)
