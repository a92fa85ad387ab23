#!/usr/bin/env python
"""Emulates the driver's verify pass against __spark_entry__.py:

1. smoke: entry(spark) at sf0.001 must return >=0 rows, stable schema
2. correctness: each queries()[name] at sf0.01 vs oracle_sql()[name]
   on DuckDB — row count + sorted-column schema + order-insensitive
   value hash.

Usage: python tools/driver_emulator.py [--only q1,q2,...] [sf_dir]

``--only`` checks just the named queries (a fast spot-check loop while
iterating on a few of them); a name not in the catalog fails the run.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import sys

import duckdb
import pandas as pd


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    # canonical string form: floats at 12 significant digits, NaN/None unified
    def cell(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if v != v:
                return "∅"
            return f"{v:.12g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    rows = sorted(
        "|".join(cell(v) for v in row) for row in pdf.itertuples(index=False, name=None)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _pop_only(argv: list[str]) -> list[str] | None:
    """Remove ``--only q1,q2`` from ``argv`` and return the names."""
    if "--only" not in argv:
        return None
    i = argv.index("--only")
    names = argv[i + 1] if i + 1 < len(argv) else ""
    del argv[i : i + 2]
    return [s.strip() for s in names.split(",") if s.strip()]


def main() -> int:
    only = _pop_only(sys.argv)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spec = importlib.util.spec_from_file_location("entry_mod", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    from convoy_spark.tables import TABLE_NAMES, table_path

    # Deliberately a VANILLA session — no repo confs. The real driver
    # constructs its own unconfigured SparkSession, and round 1 proved
    # that emulating with the tuned get_spark() session hides
    # env-dependent bugs (the nanosAsLong conf lived only in
    # session.py, so 15 queries passed locally and errored at the
    # driver). Only the session timezone is pinned to UTC because the
    # driver compares against DuckDB under UTC.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-emulator")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    edf = mod.entry(spark)
    smoke_rows = edf.count()
    print(f"SMOKE entry(): rows={smoke_rows} schema={[f.name for f in edf.schema.fields]}")

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')")

    queries = mod.queries()
    oracles = mod.oracle_sql()
    # Round 1 lesson: the driver checks only the FIRST 50 registry
    # entries. Check everything here, but flag what falls outside the
    # window so registration order regressions are visible locally.
    window = list(queries)[:50]
    outside = list(queries)[50:]
    if outside:
        print(f"WARNING: {len(outside)} queries OUTSIDE driver's 50-entry window: {outside}")
    results = {}
    n_pass = n_fail = n_rows_only = 0
    for name in only or []:
        if name not in queries:
            results[name] = {"status": "FAIL", "error": "not in catalog"}
            n_fail += 1
    for name, fn in queries.items():
        if only is not None and name not in only:
            continue
        spdf = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            results[name] = {"status": "rows_only", "rows": len(spdf)}
            n_rows_only += 1
            continue
        opdf = con.execute(oracles[name]).fetchdf()
        ok_rows = len(spdf) == len(opdf)
        ok_schema = sorted(spdf.columns) == sorted(opdf.columns)
        ok_hash = value_hash(spdf) == value_hash(opdf)
        ok = ok_rows and ok_schema and ok_hash
        results[name] = {
            "status": "pass" if ok else "FAIL",
            "rows": len(spdf),
            "rows_match": ok_rows,
            "schema_match": ok_schema,
            "hash_match": ok_hash,
        }
        n_pass += ok
        n_fail += not ok
    print(json.dumps(results, indent=1))
    print(f"TOTAL pass={n_pass} fail={n_fail} rows_only={n_rows_only}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
