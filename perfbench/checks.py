"""Output checks against DuckDB, outside every timed region.

Rows a key returns to Python are compared order-insensitively at full
precision with the normalisation ``tools/oracle_check.py`` uses for the
registry's twins. Files the engine wrote are compared inside DuckDB, as
multisets of rows (``EXCEPT ALL`` both ways, exact values).
"""

from __future__ import annotations

import duckdb
from pyspark.sql import types as T

from tools.oracle_check import _norm_rows

_DUCK_TYPES = {
    T.StringType: "VARCHAR",
    T.DoubleType: "DOUBLE",
    T.LongType: "BIGINT",
    T.IntegerType: "INTEGER",
}


def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def csv_view(con, name: str, globs: list[str], schema: T.StructType) -> None:
    """A typed view over CSV written by Spark's CSV sink (backslash
    escapes, ISO-8601 timestamps with a zone offset, empty = NULL)."""
    cols = []
    for f in schema.fields:
        if isinstance(f.dataType, T.TimestampType):
            cols.append(f"CAST(CAST({f.name} AS TIMESTAMPTZ) AS TIMESTAMP) AS {f.name}")
        else:
            cols.append(f"CAST({f.name} AS {_DUCK_TYPES[type(f.dataType)]}) AS {f.name}")
    con.execute(
        f"CREATE VIEW {name} AS SELECT {', '.join(cols)} FROM read_csv({globs!r}, "
        "header=true, all_varchar=true, escape='\\', hive_partitioning=false)"
    )


def rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def parquet_sql(con, path: str, columns: str = "*") -> str:
    """A query over a Spark parquet output, with DECIMAL columns as DOUBLE
    the way the registry's twins project money."""
    src = f"(SELECT {columns} FROM read_parquet('{path}/*.parquet'))"
    desc = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
    cols = [f"CAST({n} AS DOUBLE) AS {n}" if t.startswith("DECIMAL") else n for n, t, *_ in desc]
    return f"SELECT {', '.join(cols)} FROM {src}"


def compare(ctx, label: str, con, got, want: str, *, n_keys: int | None = None) -> None:
    """Compare the rows of the query ``got()`` builds over a Spark output
    with the rows of ``want``, fold them into the run's output digest, and
    count a mismatch, an unreadable output or, given ``n_keys``, an
    expected row count other than one per key as a failed op."""
    try:
        # materialise both sides once: every query below reads them again
        con.execute(f"CREATE OR REPLACE TEMP TABLE check_got AS {got()}")
        con.execute(f"CREATE OR REPLACE TEMP TABLE check_want AS {want}")
        got, want = "SELECT * FROM check_got", "SELECT * FROM check_want"
        cols = sorted(d[0] for d in con.execute(f"DESCRIBE {got}").fetchall())
        want_cols = sorted(d[0] for d in con.execute(f"DESCRIBE {want}").fetchall())
        if cols != want_cols:
            ctx.fail(label, f"columns {cols}, expected {want_cols}")
            return
        sel = ", ".join(f'"{c}"' for c in cols)
        g, w = f"SELECT {sel} FROM ({got})", f"SELECT {sel} FROM ({want})"
        n_got, row_hash = con.execute(f"SELECT count(*), sum(hash({sel})) FROM ({g})").fetchone()
        n_want = con.execute(f"SELECT count(*) FROM ({w})").fetchone()[0]
        differ = con.execute(
            f"SELECT count(*) FROM (({g} EXCEPT ALL {w}) UNION ALL ({w} EXCEPT ALL {g}))").fetchone()[0]
    except duckdb.Error as e:
        ctx.fail(label, str(e).splitlines()[0])
        return
    ctx.outputs.update(repr((label, cols, n_got, row_hash)).encode())
    if n_keys is not None and n_want != n_keys:
        ctx.fail(label, f"expected {n_want} rows for {n_keys} keys")
    elif differ:
        ctx.fail(label, f"{differ} rows differ ({n_got} rows, expected {n_want})")


def same(a: tuple[list[str], list[tuple]], b: tuple[list[str], list[tuple]]) -> bool:
    return sorted(a[0]) == sorted(b[0]) and _norm_rows(*a) == _norm_rows(*b)


def digest(h, label: str, result: tuple[list[str], list[tuple]]) -> None:
    """Fold one checked output into a run's output digest."""
    h.update(repr((label, sorted(result[0]), _norm_rows(*result))).encode())
