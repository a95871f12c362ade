"""Replicate the round driver's correctness gate in one command: build
a vanilla SparkSession (exactly like the driver — no session.py
configs), run every ``queries()`` entry, and check each against its
``oracle_sql()`` twin in DuckDB with ``plans/oracle.py``: column names,
row count and order-insensitive exact values, then the output types
under the driver's typed value hash (a DuckDB HUGEINT against a Spark
bigint fails even when the values are equal).

Usage: python tools/verify_contract.py [--sf-dir /root/testdata/sf0.01] [--only a,b]
Exit 0 iff entry() runs and every oracle-backed query matches.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkstreametl_spark.plans.oracle import connect, type_problems, value_problems  # noqa: E402


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

    con = connect(args.sf_dir)
    fails: list[str] = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, args.sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                continue
            res = con.sql(oracles[name])
            problems = value_problems(sdf.columns, srows, res.columns, res.fetchall())
            problems = problems or type_problems(sdf.dtypes, res)
        except Exception as exc:  # a crash is a failure, keep going
            problems = [f"{type(exc).__name__}: {exc}"]
        if problems:
            print(f"# {name}: {'; '.join(problems)}", file=sys.stderr)
            fails.append(name)
    print(f"total: {len(qs)} FAILURES: {fails}")
    return 0 if not fails else 1


if __name__ == "__main__":
    raise SystemExit(main())
