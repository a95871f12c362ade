"""[EXT] Bloom-fronted streaming exact dedup: the doc-ingest history
anti-join (``streaming/doc_ingest.py``) with an explicit bloom filter
in front of it, maintained as on-disk state between micro-batches.

Why: the plain chain anti-joins EVERY gated batch row against the full
historical fingerprint set. At a 100 TB horizon the history is the
big side, and most batch rows are NEW — paying a corpus-sized join per
batch to discover "not a duplicate" is the wrong shape. A bloom filter
over the history fingerprints classifies each row map-side:

    bloom MISS  -> definitely new (the bloom no-false-negative law):
                   skips the history join entirely — the fast path
                   that covers ~all of a mostly-new batch;
    bloom PASS  -> true duplicate OR false positive: only these rows
                   (|dups| + fpr * |new|) probe the exact history
                   anti-join.

The filter is the audited ``bloom_prune_fpr_audit`` construction
(plans/warehouse_ext.py): k = 2 salted md5 hashes into _BLOOM_M bits,
the bit set persisted as a parquet table of set positions — AT MOST
_BLOOM_M rows, bounded by the filter width, not the corpus, so it
broadcasts onto every batch forever. (In production the bits also pin
in executor memory; the table is the recoverable source of truth.)

Crash contract — write order is accepted -> bits -> history:

* the correctness invariant is  bits ⊇ hashes(history):  a history
  fingerprint missing from the bits would bloom-MISS on redelivery and
  re-ingest a duplicate. Appending bits BEFORE history preserves the
  invariant at every crash point; the reverse order has a window that
  silently corrupts the dedup (a bloom false positive, by contrast,
  costs one extra exact probe — always safe).
* the history append is the COMMIT POINT: a crash before it makes the
  replayed batch re-emit the same accepted rows (at-least-once,
  dedupable downstream by fp — the streaming/sinks.py upsert story);
  a crash after it makes the replay a no-op.
* compaction swaps and state reads follow ``streaming/versioned.py``.

Reference anchor: the reference's pipeline has no dedup at all
(Main.java enrich-and-upsert); this module is part of the
LLM-training-data surface the brief adds (SURVEY.md §2.9), and the
incremental twin of ``dedup_keep_first`` exactly as
``neardup_ingest.py`` is the incremental twin of MinHash LSH.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkstreametl_spark.operators import text as X
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.streaming.versioned import (
    compact_parquet,
    read_or_empty,
    start_state_loop,
)

BITS_SUBDIR = "bits"
HISTORY_SUBDIR = "history"
ACCEPTED_SUBDIR = "accepted"

#: Compact the probed state every N micro-batches (the neardup_ingest
#: rationale: append-only state costs one file set per batch, and at a
#: deep horizon the per-batch cost is FILE COUNT, not rows), AFTER the
#: batch's commit point.
DEFAULT_COMPACT_EVERY = 10

#: Filter width in bits. 2^20 bits = 20 bits/key at the sf1 corpus
#: (50k docs) — comfortably inside the ~10+ bits/key a low-percent FPR
#: needs (measured: at 2^16 the sf1 probe column grew ~linearly as the
#: filter saturated past 1.3 bits/key; at 2^20 it tracks the true
#: duplicates). The bit-position table is still AT MOST m rows
#: (~128 KiB of longs) — broadcastable forever. Production re-sizes by
#: rebuilding from the history table when keys outgrow the width (the
#: bits are derivable state).
BLOOM_M = 1 << 20


def _h(salt: str, col: F.Column, m: int = BLOOM_M) -> F.Column:
    """Engine-portable hash position: first 8 md5 hex chars of the
    salted key, mod the filter width (the bloom_prune_fpr_audit
    construction). ``m`` defaults to the ingest loop's width; the
    saturation audit passes a narrower width so the fill curve is
    visible at fixture scale — same construction either way."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % m
    )


def bloom_positions(fps: DataFrame, m: int = BLOOM_M) -> DataFrame:
    """Distinct set-bit positions for a fingerprint column ``fp``."""
    return (
        fps.select(_h("a", F.col("fp"), m).alias("b"))
        .unionByName(fps.select(_h("b", F.col("fp"), m).alias("b")))
        .distinct()
    )


def compact_state(spark: SparkSession, state_dir: str, *, n_files: int = 8) -> None:
    """Compact the two probed state tables: bits (<= BLOOM_M rows —
    one file is plenty) and the history fingerprints (clustered on fp
    so the anti-join's hash layout survives the rewrite). The accepted
    output is a SINK — downstream's file count, not this loop's."""
    compact_parquet(spark, os.path.join(state_dir, BITS_SUBDIR), "b LONG", 1)
    compact_parquet(
        spark, os.path.join(state_dir, HISTORY_SUBDIR), "fp STRING", n_files, "fp"
    )


def process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    *,
    batch_id: int | None = None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
) -> dict[str, int]:
    """One micro-batch of bloom-fronted exact dedup against on-disk
    state; called from ``foreachBatch`` (or directly for replay tests).
    Returns the per-batch routing counts (computed on pinned frames —
    the audit trail docs/INCREMENTAL.md-style probes consume).

    Plan shape per batch: fingerprint + in-batch self-dedup (an
    at-least-once source can duplicate WITHIN a batch), two broadcast
    lookups against the ≤ BLOOM_M-row bit table, and an exact history
    anti-join probed ONLY by the bloom-pass rows."""
    batch = pin(
        batch_df.withColumn("fp", X.fingerprint("text"))
        .dropDuplicates(["fp"])
    )
    bits_path = os.path.join(state_dir, BITS_SUBDIR)
    history_path = os.path.join(state_dir, HISTORY_SUBDIR)
    accepted_path = os.path.join(state_dir, ACCEPTED_SUBDIR)

    bits = read_or_empty(spark, bits_path, "b LONG")
    history = read_or_empty(spark, history_path, "fp STRING")

    flagged = pin(
        batch.withColumn("h1", _h("a", F.col("fp")))
        .withColumn("h2", _h("b", F.col("fp")))
        .join(F.broadcast(bits.withColumnRenamed("b", "b1")), F.col("b1") == F.col("h1"), "left")
        .join(F.broadcast(bits.withColumnRenamed("b", "b2")), F.col("b2") == F.col("h2"), "left")
        .withColumn("bloom_pass", F.col("b1").isNotNull() & F.col("b2").isNotNull())
    )
    fast_new = flagged.filter(~F.col("bloom_pass"))
    probed = flagged.filter(F.col("bloom_pass"))
    # Only the bloom-pass rows pay the exact membership probe.
    confirmed_new = probed.join(history, "fp", "left_anti")
    new = pin(fast_new.unionByName(confirmed_new).select(batch.columns))

    # accepted (at-least-once, pre-commit) -> bits (keeps bits ⊇
    # hashes(history) through any crash) -> history (the commit point).
    new.write.mode("append").parquet(accepted_path)
    new_bits = pin(
        bloom_positions(new.select("fp")).join(bits, "b", "left_anti")
    )
    new_bits.write.mode("append").parquet(bits_path)
    new.select("fp").write.mode("append").parquet(history_path)

    # Saturation stat (ADVICE r8): set-bit fill of the filter AFTER
    # this batch, in parts-per-million of BLOOM_M. The fast path's
    # value decays as fill grows (FPR ~ fill² for k=2); operators watch
    # this to schedule the rebuild-from-history resize the module
    # docstring describes — nothing in-loop triggers it silently.
    # (Counted before compaction: `bits` holds the pre-rewrite file
    # listing, and compaction never changes the distinct-bit set.)
    n_bits_set = bits.count() + new_bits.count()

    if compact_every and batch_id is not None and (batch_id + 1) % compact_every == 0:
        compact_state(spark, state_dir)
    return {
        "n_batch": batch.count(),
        "n_bloom_miss": fast_new.count(),
        "n_probed": probed.count(),
        "n_new": new.count(),
        "bloom_bits_set": n_bits_set,
        "bloom_fill_ppm": n_bits_set * 1_000_000 // BLOOM_M,
    }


def run_bloom_stream(
    spark: SparkSession,
    source_path: str,
    state_dir: str,
    *,
    available_now: bool = True,
):
    """Continuous bloom-fronted dedup over a JSONL document stream
    (``available_now=True`` drains existing files and stops — the test
    / batch-replay mode)."""
    return start_state_loop(
        spark,
        source_path,
        "doc_id LONG, text STRING",
        state_dir,
        lambda df, bid: process_batch(df.sparkSession, df, state_dir, batch_id=bid),
        available_now=available_now,
    )
