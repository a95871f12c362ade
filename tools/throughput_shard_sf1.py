"""sf1 throughput evidence for the streaming shard writer
(streaming/shard_ingest.py): the 50,000 sf1 documents in 10
micro-batches of 5,000 through process_batch against on-disk state,
per-batch wall-clock recorded. The claim under test: per-batch cost
stays proportional to the BATCH while the assignments table and the
accounted total grow to the whole corpus (the redelivery anti-join and
the #batches-sized totals sum are the only state reads).

Usage: python tools/throughput_shard_sf1.py [sf1_dir]
Appends a labeled section to docs/THROUGHPUT.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkstreametl_spark.session import get_spark  # noqa: E402
from flinkstreametl_spark.sources.parquet import load_table  # noqa: E402
from flinkstreametl_spark.streaming.shard_ingest import (  # noqa: E402
    ASSIGN_SUBDIR,
    _ASSIGN_SCHEMA,
    process_batch,
)
from flinkstreametl_spark.streaming.versioned import read_or_empty  # noqa: E402

WORK = "/tmp/throughput_shard_sf1"
N_BATCHES = 10
CAPACITY = 200_000  # tokens per shard at sf1 (~2.8M corpus tokens -> 14 shards)
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "THROUGHPUT.md")


def main() -> None:
    sf1 = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".fixtures", "sf1"
    )
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    spark = get_spark("throughput-shard-sf1")
    docs = load_table(spark, sf1, "documents").select("doc_id", "text")
    n = docs.count()
    per = n // N_BATCHES
    state = os.path.join(WORK, "state")
    times = []
    for b in range(N_BATCHES):
        lo, hi = b * per, (b + 1) * per if b < N_BATCHES - 1 else n
        batch = docs.filter((docs.doc_id >= lo) & (docs.doc_id < hi))
        t0 = time.time()
        process_batch(spark, batch, state, capacity=CAPACITY)
        times.append(time.time() - t0)
        print(f"# batch {b}: {times[-1]:.1f}s")
    a = read_or_empty(spark, os.path.join(state, ASSIGN_SUBDIR), _ASSIGN_SCHEMA)
    n_assigned = a.count()
    n_shards = a.select("shard").distinct().count()
    first, second = sum(times[:5]) / 5, sum(times[5:]) / 5
    with open(OUT, "a") as fh:
        fh.write("\n## Streaming shard writer at sf1 (round 6 wave 3)\n\n")
        fh.write(f"The {n:,} sf1 documents in {N_BATCHES} micro-batches through\n")
        fh.write(f"streaming/shard_ingest.py (capacity {CAPACITY:,} tokens/shard):\n\n")
        fh.write("| batch | docs | seconds |\n|---|---|---|\n")
        for b, s in enumerate(times):
            fh.write(f"| {b} | {per:,} | {s:.1f} |\n")
        fh.write("\n| summary | value |\n|---|---|\n")
        fh.write(f"| docs assigned | {n_assigned:,} |\n")
        fh.write(f"| shards written | {n_shards:,} |\n")
        fh.write(f"| mean of batches 0-4 | {first:.1f} s |\n")
        fh.write(f"| mean of batches 5-9 | {second:.1f} s |\n")
        fh.write(f"| last/first-half ratio | {second / first:.2f} |\n\n")
        fh.write("Reading: the only state reads are the doc_id anti-join against\n")
        fh.write("assignments and the #batches-sized totals sum, so per-batch cost\n")
        fh.write("tracks the batch while the accounted corpus grows 10x — the\n")
        fh.write("flat ratio is the run-forever property, same as the near-dup\n")
        fh.write("ingest loop above.\n")
    print(f"wrote section to {OUT}")


if __name__ == "__main__":
    main()
