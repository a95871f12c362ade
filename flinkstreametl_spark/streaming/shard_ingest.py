"""[EXT] Streaming continuation of token-balanced output sharding
(plans/pipeline_ext.py ``token_balanced_shards``): a ``foreachBatch``
loop that appends every arriving document to a training shard, filling
each shard to a token CAPACITY and rolling to the next — the law a
continuous shard writer actually runs (the batch query's fixed-N law
needs the corpus total upfront, which a stream never has).

Placement law: documents are placed in ARRIVAL order (batch sequence;
within a batch by the same deterministic (bucket, hkey, doc_id) order
as the batch operator), each at the global token offset where the
previous one ended, and

    shard = global_offset div shard_capacity

so every CLOSED shard holds ``capacity ± max_doc`` tokens (a document
straddling a boundary belongs to the shard its offset starts in, so
one document bounds the deviation on either side — the same
one-document bound as the batch law; meaningful while max_doc <
capacity, trivially true for any real shard size). Within a
micro-batch the offsets come from the batch operator's TWO-PHASE
prefix sum (per-bucket running sums + a parameter-sized offset table),
so no micro-batch ever sorts on a single partition either.

State design (the neardup_ingest conventions):

- ``assignments/`` — append-only parquet sink (doc_id, n_tokens,
  shard, batch_key): both the output and the redelivery probe
  (anti-join on doc_id prunes to the batch's ids). Every row carries
  the key of the batch that WROTE it, which is what makes the totals
  accounting exact in every crash/overlap interleaving.
- ``totals/`` — append-only parquet of ONE ROW PER COMMITTED BATCH
  (batch_key, batch_tokens): the global token total is the sum of a
  #batches-sized table, never an aggregation over the corpus — this is
  what keeps per-batch work proportional to the batch. The totals
  append is the COMMIT POINT: a batch whose key is already present is
  a redelivery and no-ops entirely. The key fingerprints doc_ids AND
  text content, so only a byte-identical redelivery takes the no-op
  fast path — a retry carrying changed text gets a fresh key and runs
  the normal path (its already-placed doc_ids are skipped by the
  anti-join; placement is first-writer-wins per doc_id).
- Crash between the two appends (assignments landed — possibly only a
  PARTIAL file subset if the crash hit mid job-commit — totals did
  not): the replay re-derives the batch's placement over the SAME
  fresh set at the SAME start offset (placement is deterministic in
  (bucket, hkey, doc_id) order), so every row lands at the offset the
  crashed attempt chose; rows already on disk under this batch's key
  are anti-joined away before the append, so orphans are never
  duplicated and the survivors fill exactly the offsets the orphans
  left free — a closed shard can never exceed capacity + max_doc. The
  totals row then sums the assignment rows CARRYING THIS BATCH'S KEY,
  so the orphaned rows' tokens enter the total exactly once. A doc
  redelivered in a LATER, different batch is dropped by the fresh-set
  anti-join and its row keeps the key of the batch that wrote it, so
  it can never be counted twice either.

Single-writer (Structured Streaming serializes batches), at-least-once
safe; a multi-writer deployment would swap the two directories for a
transactional table format, leaving the read/compute shape unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.session import pin
from flinkstreametl_spark.streaming.versioned import read_or_empty, start_state_loop

ASSIGN_SUBDIR = "assignments"
TOTALS_SUBDIR = "totals"

#: Tokens per output shard. Test-sized here; a production pretraining
#: writer targets the tokens-per-file its loader wants (e.g. ~100M).
DEFAULT_SHARD_CAPACITY = 2_000

_N_BUCKETS = 64  # parallel units of the in-batch two-phase prefix sum

_ASSIGN_SCHEMA = "doc_id LONG, n_tokens LONG, shard LONG, batch_key STRING"
_TOTALS_SCHEMA = "batch_key STRING, batch_tokens LONG, batch_docs LONG"


def _batch_key(batch_df: DataFrame) -> str:
    """Deterministic fingerprint of a micro-batch's CONTENT — per-row
    md5 over (doc_id, md5(text)) folded with order-independent
    aggregates — so a redelivered batch maps to the same key on any
    partitioning, and a batch with the same ids but DIFFERENT text gets
    a different key (ADVICE r7: a doc_id-only key silently no-opped
    changed-text retries). Folds: bit_xor of a 48-bit prefix (exact,
    overflow-free) plus a sum of a 32-bit suffix (order-independent;
    bounded by 2^32 per row, so ANSI-safe to ~2^31-row micro-batches —
    far past any realistic trigger size)."""
    ch = F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.md5(F.coalesce(F.col("text"), F.lit("")))))
    row = batch_df.agg(
        F.coalesce(
            F.bit_xor(F.conv(F.substring(ch, 1, 12), 16, 10).cast("long")), F.lit(0).cast("long")
        ).alias("hx"),
        F.coalesce(
            F.sum(F.conv(F.substring(ch, 13, 8), 16, 10).cast("long")), F.lit(0).cast("long")
        ).alias("hs"),
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.min("doc_id"), F.lit(-1)).alias("lo"),
        F.coalesce(F.max("doc_id"), F.lit(-1)).alias("hi"),
    ).collect()[0]
    return f"{row.hx}:{row.hs}:{row.n}:{row.lo}:{row.hi}"


def _placed(batch_docs: DataFrame, start_offset: int, capacity: int) -> DataFrame:
    """In-batch two-phase prefix sum (the token_balanced_shards kernel
    shape) continued from ``start_offset``: returns (doc_id, n_tokens,
    shard)."""
    from flinkstreametl_spark.operators import text as X

    h32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    sized = batch_docs.select(
        "doc_id", F.size(X.tokens("text")).cast("long").alias("n"), h32.alias("hkey")
    )
    keyed = sized.filter(F.col("n") > 0).withColumn("bucket", F.col("hkey") % _N_BUCKETS)
    wloc = (
        Window.partitionBy("bucket")
        .orderBy("hkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("bucket")
    placed = pin(keyed.select(
        "doc_id",
        "bucket",
        "n",
        (F.sum("n").over(wloc) - F.col("n")).alias("loc_before"),
        F.sum("n").over(wtot).alias("bucket_tokens"),
    ))
    woff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        placed.groupBy("bucket")
        .agg(F.first("bucket_tokens").alias("bt"))
        .select("bucket", F.coalesce(F.sum("bt").over(woff), F.lit(0)).alias("offset"))
    )
    return (
        placed.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            F.expr(f"(CAST({start_offset} AS BIGINT) + offset + loc_before) div {capacity}").alias(
                "shard"
            ),
        )
    )


def process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    *,
    capacity: int = DEFAULT_SHARD_CAPACITY,
) -> None:
    """One micro-batch of continuous shard assignment against on-disk
    state. Called from ``foreachBatch`` (or directly for replay tests).
    """
    batch_df = pin(batch_df.dropDuplicates(["doc_id"]))
    assign_path = os.path.join(state_dir, ASSIGN_SUBDIR)
    totals_path = os.path.join(state_dir, TOTALS_SUBDIR)

    key = _batch_key(batch_df)
    totals = read_or_empty(spark, totals_path, _TOTALS_SCHEMA)
    if totals.filter(F.col("batch_key") == key).limit(1).count() > 0:
        return  # whole-batch redelivery: already committed, full no-op

    start = totals.agg(F.coalesce(F.sum("batch_tokens"), F.lit(0).cast("long"))).collect()[0][0]

    # Replay-safe placement (ADVICE r7): the fresh set excludes docs
    # assigned by OTHER batches only — rows already on disk under THIS
    # key are a partial commit of this very batch (crash mid
    # job-commit), and excluding them from placement would shift the
    # survivors onto the offsets the orphans already occupy (a closed
    # shard could reach ~2x capacity). Instead the full fresh set is
    # re-placed — deterministic in (bucket, hkey, doc_id) order at the
    # same start offset, so it reproduces the crashed attempt's
    # placement exactly — and the already-written subset is anti-joined
    # away just before the append.
    assigned = read_or_empty(spark, assign_path, _ASSIGN_SCHEMA)
    fresh = batch_df.join(
        assigned.filter(F.col("batch_key") != key).select("doc_id"), "doc_id", "left_anti"
    )
    placed = _placed(fresh, int(start), capacity).withColumn("batch_key", F.lit(key))
    to_write = pin(placed.join(
        assigned.filter(F.col("batch_key") == key).select("doc_id"), "doc_id", "left_anti"
    ))
    to_write.write.mode("append").parquet(assign_path)

    # The totals row sums the assignment rows carrying THIS batch's key
    # — identical to sum(placed) on the clean path, and on a
    # replay-after-partial-crash it picks up the orphaned rows whose
    # tokens never reached the total; a doc a LATER batch redelivers
    # keeps its original key, so nothing is ever counted twice.
    on_disk = (
        read_or_empty(spark, assign_path, _ASSIGN_SCHEMA)
        .filter(F.col("batch_key") == key)
        .agg(
            F.coalesce(F.sum("n_tokens"), F.lit(0).cast("long")).alias("t"),
            F.count(F.lit(1)).alias("d"),
        )
        .collect()[0]
    )
    spark.createDataFrame([(key, int(on_disk.t), int(on_disk.d))], _TOTALS_SCHEMA).write.mode(
        "append"
    ).parquet(totals_path)


def run_shard_stream(
    spark: SparkSession,
    source_path: str,
    state_dir: str,
    *,
    capacity: int = DEFAULT_SHARD_CAPACITY,
    available_now: bool = True,
):
    """Continuous shard assignment over a JSONL document stream."""
    return start_state_loop(
        spark,
        source_path,
        "doc_id LONG, text STRING",
        state_dir,
        lambda df, bid: process_batch(df.sparkSession, df, state_dir, capacity=capacity),
        available_now=available_now,
    )
