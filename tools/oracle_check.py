"""Local replica of the driver's t2 differential check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column-name
set, and order-insensitive values. Run this before every commit so the
driver's CORRECTNESS_r{N}.json holds no surprises.

Usage: python tools/oracle_check.py [--plain] [--json PATH] [sf_dir] [key ...]

``--plain`` builds a bare SparkSession (no engine configs) to simulate the
driver harness's environment — the round-1 nanos regression was invisible
without this. ``--json PATH`` additionally writes the per-key results in
the driver's CORRECTNESS format, so a full-scale sweep (e.g. sf0.1) can be
committed as a diffable artifact (ORACLE_local_sf0.1.json).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline_project_spark.schemas import TESTDATA_TABLES  # noqa: E402
from etl_pipeline_project_spark.session import get_spark  # noqa: E402

DEFAULT_SF = "/root/testdata/sf0.01"


def _norm_cell(v):
    # Strict: full-precision repr for floats. If this passes, any sane
    # driver-side rounding/hashing also passes.
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main() -> int:
    args = sys.argv[1:]
    plain = "--plain" in args
    args = [a for a in args if a != "--plain"]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        del args[i : i + 2]
    skip: set[str] = set()
    if "--skip" in args:
        i = args.index("--skip")
        skip = set(args[i + 1].split(","))
        del args[i : i + 2]
    sf_dir = args[0] if args and args[0].startswith("/") else DEFAULT_SF
    only = set(a for a in args if not a.startswith("/"))

    import __spark_entry__ as contract

    if plain:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle_check_plain")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = contract.queries()
    oracles = contract.oracle_sql()
    failures = []
    results: dict[str, dict] = {}

    def record(key, *, rows_match, schema_match, hash_match, s_rows, d_rows, err):
        results[key] = {
            "rows_match": rows_match,
            "schema_match": schema_match,
            "hash_match": hash_match,
            "spark_rows": s_rows,
            "oracle_rows": d_rows,
            "err": err,
        }

    for key, fn in sorted(qs.items()):
        if only and key not in only:
            continue
        if key in skip:
            print(f"skip  {key} (--skip)")
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(key)
            record(key, rows_match=False, schema_match=False, hash_match=False,
                   s_rows=None, d_rows=None, err=f"spark: {e}"[:300])
            print(f"FAIL  {key}: spark error: {e}")
            continue
        if key not in oracles:
            print(f"ok?   {key}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            record(key, rows_match=bool(s_rows), schema_match=None,
                   hash_match=None, s_rows=len(s_rows), d_rows=None, err=None)
            if not s_rows:
                failures.append(key)
                print(f"FAIL  {key}: zero rows on rows-only check")
            continue
        try:
            res = con.execute(oracles[key])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(key)
            record(key, rows_match=False, schema_match=False, hash_match=False,
                   s_rows=len(s_rows), d_rows=None, err=f"duckdb: {e}"[:300])
            print(f"FAIL  {key}: duckdb error: {e}")
            continue

        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        if not problems:
            sn = _norm_rows(s_cols, s_rows)
            dn = _norm_rows(d_cols, d_rows)
            if sn != dn:
                diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
                problems.append(f"values differ; first diffs: {diff}")
        rows_ok = len(s_rows) == len(d_rows)
        schema_ok = sorted(s_cols) == sorted(d_cols)
        record(key, rows_match=rows_ok, schema_match=schema_ok,
               hash_match=rows_ok and schema_ok and not problems,
               s_rows=len(s_rows), d_rows=len(d_rows), err=None)
        if problems:
            failures.append(key)
            print(f"FAIL  {key}: {'; '.join(problems)}")
        else:
            print(f"PASS  {key} ({len(s_rows)} rows, {time.time()-t0:.1f}s)")

    if json_path:
        # Record how many keys were actually checked so a filtered run can
        # never masquerade as full coverage (round-5 ADVICE low).
        payload = dict(results)
        payload["__meta__"] = {
            "checked": len(results),
            "registry": len(qs),
            "failures": sorted(failures),
            "sf_dir": sf_dir,
        }
        with open(json_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {json_path} ({len(results)} keys)")
    # Count over the keys actually checked, not the whole registry — a
    # filtered sweep must not print a seemingly full pass (ADVICE r5).
    n_checked = len(results)
    suffix = "" if n_checked == len(qs) else f" (of {len(qs)} registry keys)"
    print(f"\n{n_checked - len(failures)}/{n_checked} checked passed{suffix}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
