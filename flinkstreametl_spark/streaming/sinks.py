"""Streaming sinks (reference S3-S6, SURVEY.md §2.1).

The reference writes one row per ``executeUpdate`` through a dbcp2 pool
(``SinkToMySQL.java:57-65``, ``SinkToGreenplum.java:55-64``) — a known
anti-pattern it acknowledges. Our equivalent is ``foreachBatch`` with
set-oriented writes:

- exactly-once = checkpointed offsets + idempotent upsert per batch
  (T1: ``Main.java:49-51`` checkpoint/EXACTLY_ONCE);
- REPLACE INTO semantics (``SinkToMySQL.java:35``) = last-write-wins
  dedup inside the batch, then key-merge into the target (SURVEY.md §7
  hard parts (2)(3)).

The parquet-backed keyed table below is the container-friendly stand-in
for a JDBC/Delta target: the merge pattern (anti-join old ∪ new) is the
same one a real MERGE INTO executes. `jdbc_upsert_writer` shows the real
JDBC shape, gated since the container has no database.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkstreametl_spark.operators.cdc import latest_by_key


class _SwappedParquetTable:
    """A parquet table directory that each commit replaces whole: the
    new version is written beside it and renamed into place, so
    readers see the old table or the new one, never a mix."""

    path: str
    # Name of a file recording the committed batch id, for sinks that
    # keep one; it is written into the new version before the rename,
    # so data and batch id commit together.
    _MARKER: str | None = None

    def read(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.exists(self.path):
            return None
        return spark.read.parquet(self.path)

    def _commit(self, merged: DataFrame, batch_id: int) -> None:
        tmp = self.path + f".tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        if self._MARKER is not None:
            with open(os.path.join(tmp, self._MARKER), "w") as fh:
                fh.write(str(batch_id))
        old = self.path + f".old-{batch_id}"
        if os.path.exists(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        if os.path.exists(old):
            shutil.rmtree(old)


class KeyedParquetUpsertSink(_SwappedParquetTable):
    """foreachBatch target with REPLACE-INTO semantics on `key_cols`.

    Each batch: (1) last-write-wins dedup within the batch by
    `order_cols` — exactly-once under micro-batch retry since replays
    produce the same post-dedup set; (2) merge = existing rows
    anti-joined on new keys, union new rows, atomic directory swap.

    Scale note: on a cluster this is MERGE INTO on a keyed table
    (Delta/Iceberg); the anti-join+union here is the same logical plan
    without the transaction log. The swap is atomic at directory level
    (write tmp, rename).
    """

    def __init__(
        self,
        path: str,
        key_cols: list[str],
        order_cols: list[str],
        *,
        op_col: str = "_op",
        delete_op: str = "DELETE",
    ):
        self.path = path
        self.key_cols = key_cols
        self.order_cols = order_cols
        self.op_col = op_col
        self.delete_op = delete_op

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Upsert + tombstone merge (SURVEY.md §7 hard part (2)): the
        newest record per key decides — a DELETE tombstone removes the
        key (its row is withheld from the union but its key still
        anti-joins away the stored row); anything else upserts. Retry-
        idempotent: replays re-derive the same post-dedup decisions."""
        spark = batch_df.sparkSession
        fresh = latest_by_key(batch_df, self.key_cols, self.order_cols)
        if self.op_col in batch_df.columns:
            upserts = fresh.filter(F.col(self.op_col) != self.delete_op)
        else:
            upserts = fresh
        existing = self.read(spark)
        if existing is not None:
            keep = existing.join(fresh.select(*self.key_cols), self.key_cols, "left_anti")
            merged = keep.unionByName(upserts)
        else:
            merged = upserts
        self._commit(merged, batch_id)


def jdbc_upsert_writer(url: str, table: str, key_cols: list[str], order_cols: list[str], properties: dict | None = None):
    """S3/S4 — the real JDBC foreachBatch body (requires a live database
    + driver jar; not exercised in CI). Batched set-oriented writes
    replace the reference's per-row executeUpdate; idempotency comes
    from the in-batch key dedup + the target's PK upsert.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        fresh = latest_by_key(batch_df, key_cols, order_cols)
        (
            fresh.write.mode("append")
            .format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("batchsize", "10000")
            .options(**(properties or {}))
            .save()
        )

    return write


def console_sink(df: DataFrame, n: int = 20) -> None:
    """S5 — debug print (Main.java:134,146)."""
    df.show(n, truncate=False)


def with_observed_metrics(df: DataFrame, name: str = "pipeline_metrics") -> DataFrame:
    """S5 done the production way: instead of print() sinks, attach
    ``observe`` metrics (row count, null-enrichment count) that the
    engine computes inline — zero extra pass, surfaced per micro-batch
    via QueryProgress.observedMetrics in streaming or
    Observation/listener in batch. This is the monitoring story that
    replaces the reference's per-record System.out.println
    (Tuple2ToMeeting.java:13-28, SinkToGreenplum.java:63) at scale."""
    from pyspark.sql import functions as F

    first = df.columns[0]
    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col(df.columns[-1]).isNull(), 1).otherwise(0)).alias("n_null_last_col"),
        F.count(F.col(first)).alias("n_nonnull_first_col"),
    )


def changelog_with_op(df: DataFrame, op: str = "+I") -> DataFrame:
    """T2 — surface a retract-stream style op column (+I/-U/+U/-D);
    append-only inputs are all +I, as in the reference where the retract
    channel never fires for its insert-only flow."""
    return df.withColumn("op", F.lit(op))


def kafka_sink_options(brokers: str, topic: str, checkpoint_dir: str) -> dict[str, str]:
    """The documented Kafka-writer option set (unit-testable without a
    broker): bootstrap servers + target topic + the checkpoint dir that
    makes the write restart-safe (KafkaConfigUtil.java:9-27 semantics on
    the egress side)."""
    if not brokers or not topic or not checkpoint_dir:
        raise ValueError("brokers, topic, and checkpoint_dir are required")
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


def kafka_payload(df: DataFrame) -> DataFrame:
    """JSON-serialize every column into the Kafka `value` envelope (E8)."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))


def kafka_sink(df: DataFrame, brokers: str, topic: str, checkpoint_dir: str):
    """S6 — Kafka egress (the reference declared SinkToKafka but left it
    an empty stub, sinks/SinkToKafka.java:3-4; this is the completed
    intent). Requires the Kafka connector jar + a broker; gated out of
    CI — ``kafka_sink_options`` / ``kafka_payload`` carry the CI-tested
    wiring."""
    return (
        kafka_payload(df)
        .writeStream.format("kafka")
        .options(**kafka_sink_options(brokers, topic, checkpoint_dir))
        .start()
    )


class IncrementalAggSink(_SwappedParquetTable):
    """Streaming materialized view by DELTA MERGE, not operator state:
    each micro-batch computes its partial (count, sum) per key and
    merges into a stored aggregate table via full-outer coalesce-add.

    Versus a stateful streaming aggregation: state lives in the target
    table (restart-safe, queryable, unbounded key cardinality spills to
    storage) instead of executor state stores — at 100 TB of keys this
    is the only shape that holds, and it is exactly the split Spark's
    own partial/final HashAggregate performs, persisted across batches.

    Exactly-once under foreachBatch retry: the merge is NOT naturally
    idempotent (adding a delta twice double-counts), so the last applied
    batch_id is stored INSIDE the table directory (an `_applied_batch_id`
    metadata file, invisible to the parquet reader like `_SUCCESS`) and
    written into the tmp directory BEFORE the rename — data and marker
    commit atomically in the same directory swap, so a crash between
    write and swap leaves the old table + old marker, and a crash after
    the swap leaves the new table + new marker; there is no window where
    a replayed batch re-merges its delta.
    """

    def __init__(self, path: str, key_cols: list[str], value_col: str):
        self.path = path
        self.key_cols = key_cols
        self.value_col = value_col

    _MARKER = "_applied_batch_id"

    def _applied_batch_id(self) -> int | None:
        marker = os.path.join(self.path, self._MARKER)
        if not os.path.exists(marker):
            return None
        with open(marker) as fh:
            return int(fh.read().strip())

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        applied = self._applied_batch_id()
        if applied is not None and batch_id <= applied:
            return  # replayed batch: already merged
        spark = batch_df.sparkSession
        partial = batch_df.groupBy(*self.key_cols).agg(
            F.count(F.lit(1)).alias("_dn"), F.sum(self.value_col).alias("_ds")
        )
        existing = self.read(spark)
        if existing is None:
            merged = partial.select(
                *self.key_cols, F.col("_dn").alias("n"), F.col("_ds").alias("total")
            )
        else:
            merged = (
                existing.join(partial, self.key_cols, "full_outer")
                .select(
                    *self.key_cols,
                    (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0))).alias("n"),
                    (F.coalesce(F.col("total"), F.lit(0.0)) + F.coalesce(F.col("_ds"), F.lit(0.0))).alias(
                        "total"
                    ),
                )
            )
        self._commit(merged, batch_id)


class FanoutSink:
    """One stream, many destinations: a single ``foreachBatch`` callback
    that drives N child sinks in a fixed order — the Spark shape of the
    reference's dual-sink wiring (MySQL + Greenplum fed from the same
    enriched stream, ``Main.java:143-148``), which it achieves by
    attaching two independent sink operators to one Flink job graph.

    Structured Streaming allows one sink per query, so multi-destination
    delivery is either N queries re-reading the source N times, or ONE
    query fanning out inside foreachBatch — this class is the latter:
    the batch is cached once, written everywhere, delivery stays
    exactly-once per child because each child is individually
    idempotent under batch replay (keyed upsert: replays merge the same
    post-dedup set; incremental agg: the in-directory batch-id marker
    skips re-merges). A crash BETWEEN children replays the whole batch:
    already-written children no-op, unwritten children apply — the
    standard composition rule for heterogeneous exactly-once sinks.

    At scale, caching the micro-batch avoids recomputing the upstream
    plan per destination; for huge batches swap ``cache()`` for a
    persisted staging write that children read back.
    """

    def __init__(self, *children):
        self.children = list(children)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df.cache()
        try:
            for child in self.children:
                child.process_batch(batch_df, batch_id)
        finally:
            batch_df.unpersist()
