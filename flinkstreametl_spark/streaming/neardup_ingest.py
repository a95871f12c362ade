"""[EXT] Streaming NEAR-dup maintenance: ``incremental_lsh_pairs``
wired into a Structured Streaming ``foreachBatch`` loop with the band
index persisted as a parquet table between micro-batches.

This is the production deployment of the incremental dedup operator
(operators/dedup.py): per micro-batch the job

    1. loads the band index accumulated so far (parquet, partitioned
       by band — the candidate join prunes to matching bands);
    2. runs incremental_lsh_pairs(old_index, batch, corpus):
       redelivery anti-join -> |batch| signatures -> new-vs-all
       candidate equi-join -> exact Jaccard verify;
    3. appends the emitted near-dup pairs to the pairs sink and the
       NEW band rows to the index — both append-only writes, so a
       replayed batch (at-least-once) re-writes nothing thanks to the
       redelivery dedup.

State lives in STORAGE, not executor memory: the index is a table, the
checkpoint tracks source offsets, and a restart resumes from both (crash
contract: ``streaming/versioned.py``). Per
batch the work is proportional to the batch (measured:
docs/INCREMENTAL.md), which is the only shape that survives a corpus
that never stops growing.

The corpus frame passed for the exact-Jaccard verify is the persisted
document store (here: the growing parquet of ingested docs); at 100 TB
that read is pruned to the candidate doc_ids by the join itself.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from flinkstreametl_spark.operators.dedup import incremental_lsh_pairs, lsh_band_keys
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.streaming.versioned import (
    compact_parquet,
    read_or_empty,
    start_state_loop,
)

PAIRS_SUBDIR = "pairs"
INDEX_SUBDIR = "band_index"
DOCS_SUBDIR = "docs"

#: Compact the on-disk state every N micro-batches. Append-only state
#: gains ~one file set per batch, so at a deep horizon the per-batch
#: cost is dominated by FILE COUNT (open/footers/listing), not rows —
#: measured in docs/INCREMENTAL.md's 50-batch probe. 10 keeps the file
#: population bounded at ~10 appends between rewrites.
DEFAULT_COMPACT_EVERY = 10


def compact_state(spark: SparkSession, state_dir: str, *, n_files: int = 16) -> None:
    """Compact the band index (clustered by band, so the candidate
    join's band pruning survives the rewrite) and the document store
    (clustered by doc_id). Pairs are a SINK, not probed state —
    their file count never enters the per-batch critical path, so they
    are left to the downstream consumer."""
    compact_parquet(
        spark,
        os.path.join(state_dir, INDEX_SUBDIR),
        _empty_index(spark).schema,
        n_files,
        "band",
    )
    compact_parquet(
        spark,
        os.path.join(state_dir, DOCS_SUBDIR),
        "doc_id LONG, text STRING",
        n_files,
        "doc_id",
    )


def _empty_index(spark: SparkSession) -> DataFrame:
    return lsh_band_keys(
        spark.createDataFrame([], "doc_id LONG, text STRING")
    )


def process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    threshold: float = 0.6,
    *,
    batch_id: int | None = None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
) -> None:
    """One micro-batch of near-dup maintenance against on-disk state.
    Called from ``foreachBatch`` (or directly, for batch replay tests).

    Write order is pairs -> docs -> index: the index append is the
    COMMIT POINT for redelivery dedup. If the batch dies mid-way, its
    docs are not yet in the index, so the replay re-runs the whole
    batch and the pairs sink receives the same rows again — dedupable
    downstream by (doc_a, doc_b), exactly the idempotent-upsert story
    of streaming/sinks.py.

    Every ``compact_every`` batches (when ``batch_id`` is provided) the
    probed state is rewritten into a bounded file count AFTER the
    commit point — compaction changes layout, never content, so a
    crash between commit and compaction costs nothing but deferred
    housekeeping.
    """
    # In-batch self-dedup first: an at-least-once source can duplicate
    # a doc WITHIN one micro-batch (two files of the same retry drained
    # together), where the index anti-join cannot see it. ∝ batch cost.
    batch_df = pin(batch_df.dropDuplicates(["doc_id"]))
    index_path = os.path.join(state_dir, INDEX_SUBDIR)
    docs_path = os.path.join(state_dir, DOCS_SUBDIR)
    pairs_path = os.path.join(state_dir, PAIRS_SUBDIR)

    old_index = read_or_empty(spark, index_path, _empty_index(spark).schema)
    corpus = read_or_empty(spark, docs_path, "doc_id LONG, text STRING").unionByName(
        batch_df.select("doc_id", "text")
    )

    pairs, _updated = incremental_lsh_pairs(old_index, batch_df, corpus, threshold=threshold)
    # Appended rows are derived from the BATCH only (anti-join away
    # redeliveries, then band-key the remainder) — never diffed against
    # the full index (an exceptAll there would make per-batch work
    # proportional to the corpus).
    fresh_docs = batch_df.select("doc_id", "text").join(
        old_index.select("doc_id").distinct(), "doc_id", "left_anti"
    )
    new_rows = lsh_band_keys(fresh_docs)

    pairs.write.mode("append").parquet(pairs_path)
    fresh_docs.write.mode("append").parquet(docs_path)
    new_rows.write.mode("append").parquet(index_path)

    if compact_every and batch_id is not None and (batch_id + 1) % compact_every == 0:
        compact_state(spark, state_dir)


def run_neardup_stream(
    spark: SparkSession,
    source_path: str,
    state_dir: str,
    *,
    threshold: float = 0.6,
    available_now: bool = True,
):
    """Continuous near-dup maintenance over a JSONL document stream.
    ``available_now=True`` drains existing files and stops (test/batch
    replay); ``False`` runs continuously (production)."""
    return start_state_loop(
        spark,
        source_path,
        "doc_id LONG, text STRING",
        state_dir,
        lambda df, bid: process_batch(df.sparkSession, df, state_dir, threshold, batch_id=bid),
        available_now=available_now,
    )
