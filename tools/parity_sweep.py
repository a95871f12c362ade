"""Oracle-parity sweep at an arbitrary SF directory with per-query
timing — the harness behind the sfN robustness claims (SURVEY §5.2(6)).

Runs every registered oracle-backed query in Spark AND DuckDB on the
given fixtures, checks them with ``plans.oracle.value_problems`` (the
driver's contract), and appends one JSON line per query to the log as
it goes, so a long sweep is monitorable and resumable.

Usage:
  python tools/parity_sweep.py --sf-dir .fixtures/sf1 \
      --log /tmp/sweep_sf1.jsonl [--skip-done] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkstreametl_spark.plans.oracle import connect, value_problems  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--skip-done", action="store_true")
    ap.add_argument("--only", default=None)
    # names to exclude, comma-separated — for queries whose OUTPUT is
    # quadratic-by-construction on derived fixtures (e.g. key-shifted
    # replication collapses the synthetic image space to 320 distinct
    # images, so the banded pair join degenerates); record the reason
    # wherever the sweep is reported.
    ap.add_argument("--skip", default=None)
    # sfN fixtures outgrow Spark's default 1g local driver heap (the
    # whole local[*] JVM) long before they stress the algorithms —
    # learned the hard way: the first sf1 run OOMed at query 48.
    ap.add_argument("--driver-mem", default="24g")
    # DuckDB runs IN-PROCESS: an unbounded oracle at sf1 can take the
    # whole box down (learned the hard way — containment_dup_pairs'
    # sf1 oracle OOM-killed the sweep at 107 GB RSS). A memory limit
    # plus a temp directory makes DuckDB spill instead.
    ap.add_argument("--duck-mem", default="48GB")
    args = ap.parse_args()

    done: set[str] = set()
    if args.skip_done and os.path.exists(args.log):
        with open(args.log) as fh:
            for line in fh:
                rec = json.loads(line)
                if rec.get("ok"):
                    done.add(rec["name"])

    from pyspark.sql import SparkSession

    from flinkstreametl_spark.plans import REGISTRY

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.driver.memory", args.driver_mem)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = connect(args.sf_dir)
    con.sql(f"SET memory_limit='{args.duck_mem}'")
    # per-process spill dir: two DuckDB instances sharing one temp
    # directory delete each other's files (one cleanup aborts the
    # other's pending spill with a fatal IOException)
    con.sql(f"SET temp_directory='/tmp/duck_spill_{os.getpid()}'")

    only = set(args.only.split(",")) if args.only else None
    skip = set(args.skip.split(",")) if args.skip else set()
    n_fail = 0
    log = open(args.log, "a")
    for name, spec in REGISTRY.items():
        if spec.oracle is None or name in done or (only and name not in only) or name in skip:
            continue
        rec: dict = {"name": name}
        t0 = time.perf_counter()
        try:
            sdf = spec.fn(spark, args.sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            rec["spark_s"] = round(time.perf_counter() - t0, 2)
            t1 = time.perf_counter()
            res = con.sql(spec.oracle)
            drows = res.fetchall()
            rec["duck_s"] = round(time.perf_counter() - t1, 2)
            rec["rows"] = len(srows)
            problems = value_problems(sdf.columns, srows, res.columns, drows)
            rec["ok"] = not problems
            if problems:
                rec["err"] = "; ".join(problems)[:500]
        except Exception as exc:
            rec["ok"] = False
            rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
        if not rec["ok"]:
            n_fail += 1
        log.write(json.dumps(rec) + "\n")
        log.flush()
        print(f"# {name}: {'ok' if rec['ok'] else 'FAIL'} "
              f"({rec.get('spark_s', '-')}s / {rec.get('duck_s', '-')}s, "
              f"{rec.get('rows', '-')} rows)", file=sys.stderr)
    print(f"failures: {n_fail}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
