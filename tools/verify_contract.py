"""Replicate the round driver's correctness gate in one command: build
a vanilla SparkSession (exactly like the driver — no session.py
configs), run every ``queries()`` entry, and compare each against its
``oracle_sql()`` twin in DuckDB (row count, column names,
order-insensitive exact values).

Usage: python tools/verify_contract.py [--sf-dir /root/testdata/sf0.01]
Exit 0 iff entry() runs and every oracle-backed query matches.
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkstreametl_spark.schemas import FIXTURE_TABLES  # noqa: E402


def normalise(rows, cols):
    """``rows`` in the form two results are compared in, order-insensitively:
    columns in name order, decimals as floats, dates and timestamps as
    text, NaN as a string, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def c(v):
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, (datetime.datetime, datetime.date)):
            return str(v)
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    return sorted(
        (tuple(c(r[i]) for i in order) for r in rows),
        key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r),
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names — verify just these (dev loop); "
        "the full run (no --only) remains the driver-gate replica",
    )
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    import __spark_entry__ as entry_mod

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    if args.only:
        names = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = [n for n in names if n not in qs]
        if unknown:
            print(f"unknown query names: {unknown}", file=sys.stderr)
            return 2
        qs = {n: qs[n] for n in names}
    else:
        n_entry = entry_mod.entry(spark).count()
        print(f"entry rows: {n_entry}")

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    fails: list[str] = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, args.sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                continue
            res = con.sql(oracles[name])
            # Column NAMES must match (the driver's schema check); normalise
            # only uses names to reorder values, so without this a
            # renamed output column would pass silently.
            if sorted(sdf.columns) != sorted(res.columns):
                print(
                    f"# {name}: column names differ: spark={sorted(sdf.columns)} "
                    f"duckdb={sorted(res.columns)}",
                    file=sys.stderr,
                )
                fails.append(name)
            elif normalise(srows, sdf.columns) != normalise(res.fetchall(), res.columns):
                fails.append(name)
        except Exception as exc:  # a crash is a failure, keep going
            print(f"# {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            fails.append(name)
    print(f"total: {len(qs)} FAILURES: {fails}")
    return 0 if not fails else 1


if __name__ == "__main__":
    raise SystemExit(main())
