"""Audit every registry query's physical plan for work done twice.

One plan build per query reports two findings:

- **Duplicated expensive subtrees**, the self-join / fan-out recompute
  pattern round 14 fixed in the bench set (Spark plans each side of a
  self-join as a full subtree and does not dedupe common subplans).
  Operator nodes that mark real work (Generate = explode/tokenize,
  BatchEvalPython/ArrowEvalPython/MapInPandas = Python crossing) are
  grouped by their detail string; more than one occurrence of the same
  signature in one plan usually means the same upstream stage executes
  twice.
- **Repeated scans**: a parquet table the plan scans 3 or more times.
  That is either the lazy-reuse-in-loops trap (an iterative consumer
  replaying its upstream derivation per iteration; textrank scanned
  documents 22 times before its loop inputs were pinned) or a
  deliberate multi-pass design (banded LSH self-joins, the equi-depth
  two-level selection, tf-idf's df/tf passes) where each scan is a
  narrow column-pruned pass cheaper than pinning the table. The audit
  cannot tell them apart; a reader judges each line, and new
  regressions show up as diffs against the last run.

Last run of all 299 queries at sf0.001: the duplicated signatures are in
docs/audit_dup_subtrees_r15_final.txt; the repeated scans are
ann_ivf_topk (embeddings 3), cluster_safe_split (documents 3),
domain_budget_allocation (documents 8), equidepth_totalprice_bounds
(orders 5), nucleus_sample_per_source (documents 3),
pareto_frontier_parts (part 3), resample_ffill_hourly (events 3),
session_gap_sensitivity (events 3) and temperature_mix_sample
(documents 3), all deliberate multi-pass designs.

Usage: python tools/audit_dup_subtrees.py [--sf-dir DIR] [NAME ...]
Prints one line per (query, duplicated-signature) hit and per query
with repeated scans, then the total of each.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkstreametl_spark.plans import REGISTRY  # noqa: E402
from flinkstreametl_spark.session import get_spark  # noqa: E402

INTERESTING = ("Generate", "ArrowEvalPython", "BatchEvalPython", "MapInPandas")
REPEATED_SCANS = 3


def dup_signatures(plan: str) -> Counter:
    """Signatures of the interesting nodes of a formatted plan, counted.
    A node's signature is its kind plus its detail lines (Input,
    Arguments, ...) with expression ids stripped, so that identical
    subtrees match."""
    sigs = Counter()
    for m in re.finditer(r"^\(\d+\) (\w+)[^\n]*\n((?:[A-Z][^\n]*\n?)*)", plan, re.M):
        if m.group(1) in INTERESTING:
            detail = re.sub(r"#\d+[L]?", "#x", m.group(2))[:300]
            sigs[f"{m.group(1)}:{detail}"] += 1
    return sigs


def table_scans(plan: str) -> Counter:
    """Parquet scans per table name in a formatted plan."""
    return Counter(re.findall(r"file:[^\s\]]*/(\w+)\.parquet", plan))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark("audit-dup-subtrees")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    hits = flagged = 0
    for name in args.names or sorted(REGISTRY):
        try:
            df = REGISTRY[name].fn(spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001 — the audit keeps going
            print(f"{name}: ERROR {type(exc).__name__}: {exc}", flush=True)
            continue
        for sig, cnt in dup_signatures(plan).items():
            if cnt > 1:
                hits += 1
                print(f"{name}: x{cnt} {sig.splitlines()[0][:160]}", flush=True)
        multi = {t: n for t, n in sorted(table_scans(plan).items()) if n >= REPEATED_SCANS}
        if multi:
            flagged += 1
            print(f"{name}: scans {multi}", flush=True)
    print(f"# total duplicated-signature hits: {hits}", flush=True)
    print(f"# total queries with a table scanned >= {REPEATED_SCANS} times: {flagged}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
