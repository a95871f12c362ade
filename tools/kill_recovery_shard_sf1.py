"""sf1 kill-recovery evidence for the streaming shard writer
(streaming/shard_ingest.py): VERDICT r7 item 6 — the crash interleaving
the unit tests pin at sf0.001 (die between the assignments append and
the totals commit), exercised END-TO-END at sf1 scale with the recovery
cost measured.

Protocol: 10 micro-batches of 5,000 sf1 documents. Batches 0-4 run
normally. Batch 5 CRASHES mid-commit — its assignment rows land, its
totals row does not (exactly the torn state a kill -9 between the two
appends leaves). The stream then restarts and re-delivers batch 5
(at-least-once), runs it to completion, and continues with batches
6-9. After the run the invariant suite must hold over the full corpus:

  - one assignment row per document (the replay re-placed and
    anti-joined, never double-assigned);
  - accounted total == sum of assigned tokens (the orphans' tokens
    were committed exactly once, by the replay);
  - every CLOSED shard within capacity ± max_doc (the partial-commit
    interleaving cannot stretch a shard — the round-8 fix).

Appends a labeled section to docs/THROUGHPUT.md.

Usage: python tools/kill_recovery_shard_sf1.py [sf1_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from flinkstreametl_spark.session import get_spark  # noqa: E402
from flinkstreametl_spark.sources.parquet import load_table  # noqa: E402
from flinkstreametl_spark.streaming.shard_ingest import (  # noqa: E402
    ASSIGN_SUBDIR,
    TOTALS_SUBDIR,
    _ASSIGN_SCHEMA,
    _TOTALS_SCHEMA,
    _batch_key,
    _placed,
    process_batch,
)
from flinkstreametl_spark.streaming.versioned import read_or_empty  # noqa: E402

WORK = "/tmp/kill_recovery_shard_sf1"
N_BATCHES = 10
CRASH_BATCH = 5
CAPACITY = 200_000  # tokens per shard at sf1 (~2.8M corpus tokens -> 14 shards)
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "THROUGHPUT.md"
)


def _state(spark, state_dir):
    a = read_or_empty(spark, os.path.join(state_dir, ASSIGN_SUBDIR), _ASSIGN_SCHEMA)
    t = read_or_empty(spark, os.path.join(state_dir, TOTALS_SUBDIR), _TOTALS_SCHEMA)
    return a, t


def _crash_mid_commit(spark, batch, state_dir, capacity):
    """Replicate process_batch's first half verbatim: the assignments
    append lands, the totals commit does NOT (the kill point)."""
    b = batch.dropDuplicates(["doc_id"]).localCheckpoint()
    key = _batch_key(b)
    a, t = _state(spark, state_dir)
    start = t.agg(F.coalesce(F.sum("batch_tokens"), F.lit(0).cast("long"))).collect()[0][0]
    fresh = b.join(a.select("doc_id"), "doc_id", "left_anti")
    _placed(fresh, int(start), capacity).withColumn("batch_key", F.lit(key)).write.mode(
        "append"
    ).parquet(os.path.join(state_dir, ASSIGN_SUBDIR))
    return key


def main() -> None:
    sf1 = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".fixtures", "sf1"
        )
    )
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    spark = get_spark("kill-recovery-shard-sf1")
    docs = load_table(spark, sf1, "documents").select("doc_id", "text")
    n = docs.count()
    per = n // N_BATCHES
    state = os.path.join(WORK, "state")
    times: list[tuple[str, float]] = []

    for b in range(N_BATCHES):
        lo, hi = b * per, (b + 1) * per if b < N_BATCHES - 1 else n
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        if b == CRASH_BATCH:
            t0 = time.time()
            key = _crash_mid_commit(spark, batch, state, CAPACITY)
            times.append(("crash (first half only)", time.time() - t0))
            # torn state confirmed: orphans on disk, totals missing
            a, t = _state(spark, state)
            assert t.filter(F.col("batch_key") == key).count() == 0
            assert a.filter(F.col("batch_key") == key).count() > 0
            print(f"# batch {b}: killed mid-commit ({times[-1][1]:.1f}s to the torn state)")
            # restart: the SAME batch is re-delivered
            t0 = time.time()
            process_batch(spark, batch, state, capacity=CAPACITY)
            times.append(("replay after kill", time.time() - t0))
            print(f"# batch {b}: replayed to completion ({times[-1][1]:.1f}s)")
        else:
            t0 = time.time()
            process_batch(spark, batch, state, capacity=CAPACITY)
            times.append(("normal", time.time() - t0))
            print(f"# batch {b}: {times[-1][1]:.1f}s")

    # --- invariant suite over the final state ---
    a, t = _state(spark, state)
    n_assigned = a.count()
    assert n_assigned == a.select("doc_id").distinct().count() == n, "one row per doc"
    accounted = t.agg(F.sum("batch_tokens")).collect()[0][0]
    assigned_tokens = a.agg(F.sum("n_tokens")).collect()[0][0]
    assert accounted == assigned_tokens, "token accounting exact"
    shard_tot = a.groupBy("shard").agg(F.sum("n_tokens").alias("tok"))
    max_doc = a.agg(F.max("n_tokens")).collect()[0][0]
    last = shard_tot.agg(F.max("shard")).collect()[0][0]
    bad = shard_tot.filter(
        (F.col("shard") < last) & (F.col("tok") > CAPACITY + max_doc)
    ).count()
    assert bad == 0, "closed shards within capacity + max_doc"
    n_shards = shard_tot.count()

    normal = [s for k, s in times if k == "normal"]
    replay = [s for k, s in times if k == "replay after kill"][0]
    with open(OUT, "a") as fh:
        fh.write(
            f"""
## Shard writer kill-recovery at sf1 (round 8, VERDICT r7 item 6)

{n:,} sf1 docs in {N_BATCHES} batches of {per:,}; batch {CRASH_BATCH} KILLED
between the assignments append and the totals commit, then re-delivered.

- normal batches: mean {sum(normal) / len(normal):.1f}s (min {min(normal):.1f} / max {max(normal):.1f})
- replay after the kill: {replay:.1f}s — same cost tier as a normal batch
  (the replay re-places deterministically and anti-joins the orphans away;
  no state rebuild, no corpus rescan)
- final state: {n_assigned:,} assignments over {n_shards} shards, token
  accounting exact (accounted == assigned == {accounted:,}), every closed
  shard within capacity + max_doc — the partial-commit interleaving cannot
  stretch a shard past its capacity law (the round-8 fix, exercised at sf1).
"""
        )
    print(f"# wrote {OUT}")
    spark.stop()


if __name__ == "__main__":
    main()
