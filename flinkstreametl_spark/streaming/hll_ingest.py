"""[EXT] Streaming HLL cardinality maintenance: per-group distinct
counts over an unbounded event stream, kept as a persisted register
table merged micro-batch by micro-batch.

Why this module: the reference pipeline upserts enriched rows and
stops (``Main.java:61-106``); the first dashboard question against
that sink is "how many distinct users per type, so far?" — and
``countDistinct`` over an unbounded stream either holds every key in
state (Structured Streaming's exact mode: state grows with distinct
keys, forever) or pays a full recompute per trigger. HLL registers
are the 100 TB answer: the state is AT MOST |groups| x 1024 rows
regardless of key cardinality, and the merge (max per register) is
commutative + idempotent, so at-least-once redelivery is a no-op BY
CONSTRUCTION — no dedup bookkeeping at all (contrast the bloom/shard
loops, which need explicit replay guards).

The register math is ``plans/sketch_ext.py`` verbatim — the batch
``hll_distinct_audit`` and this loop build the SAME registers, which
is the whole evidence story: the incremental sketch after any number
of micro-batches is bit-identical to the batch sketch over the union
of those batches (``tests/test_hll_ingest.py`` pins register-level
equality, not approximate agreement).

Crash contract: the merged register table is committed as one new
version by ``streaming/versioned.commit_version``, which owns the crash
story; a replayed batch re-merges to the identical registers
(idempotence) and commits them again. The per-batch estimate TIMELINE
(one row per group per batch — the growth curve dashboards plot) is
written AFTER the commit as an OVERWRITE of its own ``batch_id=N``
partition directory: a crash between commit and write loses only that
batch's timeline rows, and a replay overwrites the same partition with
the identical rows, so direct readers of the timeline directory need no
keyed dedup. Two jobs must not share a ``state_dir`` (the single-writer
rule); fan-in belongs UPSTREAM (union the sources into one stream), and
since registers are max-mergeable, a later offline merge of two state
dirs is also safe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkstreametl_spark.plans.sketch_ext import (
    hll_estimate_cols,
    hll_registers,
    hll_summarize,
)
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.streaming.versioned import (
    commit_version,
    current_version,
    recover,
    start_state_loop,
    version_dir,
)

REGISTERS_SUBDIR = "registers"
TIMELINE_SUBDIR = "timeline"

_REG_SCHEMA = "grp STRING, bucket BIGINT, rho INT"


def process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    *,
    batch_id: int | None = None,
    key: str = "user_id",
    group: str = "event_type",
) -> dict[str, int]:
    """Merge one micro-batch into the persisted HLL registers; called
    from ``foreachBatch`` (or directly for replay tests). Returns
    per-batch stats on the bounded state (register rows, groups).

    Plan shape per batch: ONE map-side-combined aggregate reduces the
    batch to <= |groups| x 1024 register rows; the merge joins that
    against a state table of the same bounded size — no corpus-sized
    frame exists at any point, and nothing rescans history."""
    reg_root = os.path.join(state_dir, REGISTERS_SUBDIR)
    recover(reg_root)
    # Read CURRENT exactly once; both the load path and the successor
    # version derive from the same observation (ADVICE r9 — two reads
    # widened the lost-update window if the single-writer contract in
    # the module docstring were ever violated).
    ver = current_version(reg_root)
    if ver is None:
        state = spark.createDataFrame([], _REG_SCHEMA)
    else:
        state = spark.read.schema(_REG_SCHEMA).parquet(version_dir(reg_root, ver))
    batch_regs = hll_registers(batch_df, key=key, group=group)
    merged = pin(
        state.unionByName(batch_regs.select("grp", "bucket", F.col("rho").cast("int")))
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("rho"))
    )

    next_ver = commit_version(reg_root, ver, merged.write.parquet)

    # Timeline row(s): the estimate AFTER this batch, OVERWRITING this
    # batch's own partition directory so at-least-once replay is a
    # file-level no-op — the raw timeline never holds duplicate
    # (batch_id, grp) rows.
    summary = hll_estimate_cols(hll_summarize(merged))
    if batch_id is not None:
        summary.write.mode("overwrite").parquet(
            os.path.join(state_dir, TIMELINE_SUBDIR, f"batch_id={int(batch_id)}")
        )

    n_regs = merged.count()
    return {
        "n_register_rows": n_regs,
        "n_groups": merged.select("grp").distinct().count(),
        "state_version": next_ver,
    }


def run_hll_stream(
    spark: SparkSession,
    source_path: str,
    state_dir: str,
    *,
    available_now: bool = True,
):
    """Continuous HLL maintenance over a JSONL event stream
    (``available_now=True`` drains existing files and stops — the
    test / batch-replay mode)."""
    return start_state_loop(
        spark,
        source_path,
        "event_id LONG, user_id LONG, event_type STRING",
        state_dir,
        lambda df, bid: process_batch(df.sparkSession, df, state_dir, batch_id=bid),
        available_now=available_now,
    )
