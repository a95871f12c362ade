"""Write the formatted physical plans of registered queries at sf0.001,
with every id that changes between two builds of the same tree masked,
so a plan diff between two trees is one ``diff`` of two dumps.

With no arguments it regenerates docs/PLANS.md: the bench set, the
evidence trail for the plan-shape claims in docs/SCALE.md (broadcasts,
pushed filters, exchange counts).

Usage: python tools/dump_plans.py [NAME ...] [--out FILE]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkstreametl_spark.plans import REGISTRY  # noqa: E402
from flinkstreametl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLANS.md")

# (pattern, replacement): expression ids (a#12L), RDD ids, plan ids,
# the per-process lambda variable counter (x_7), and the callsite of a
# local checkpoint, which reads `<unknown>:0` or
# `NativeMethodAccessorImpl.java:0` depending on the JVM's call history.
_MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_N"),
    (re.compile(r"localCheckpoint at \S+"), "localCheckpoint at <callsite>"),
]


def mask(plan: str) -> str:
    for pat, rep in _MASKS:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", metavar="NAME", help="queries to dump (default: the bench set)")
    ap.add_argument("--out", default=OUT)
    args = ap.parse_args()
    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown query names: {unknown}")
    names = args.names or sorted(n for n, s in REGISTRY.items() if "bench" in s.tags)

    spark = get_spark("dump-plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    with open(args.out, "w") as f:
        f.write(
            f"# PLANS — physical plans of {'the bench set' if not args.names else 'named queries'} (generated)\n\n"
            "Regenerate with `python tools/dump_plans.py`. Each section is\n"
            "`explain('formatted')` at sf0.001 — scan-level PushedFilters /\n"
            "ReadSchema included, run-to-run ids masked. Read together with\n"
            "docs/SCALE.md.\n"
        )
        for name in names:
            df = REGISTRY[name].fn(spark, SF_DIR)
            plan = mask(df._jdf.queryExecution().explainString(mode))
            f.write(f"\n## {name}\n\n```\n{plan.rstrip()}\n```\n")
    print(f"wrote {args.out} ({len(names)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
