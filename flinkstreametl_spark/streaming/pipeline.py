"""The reference job, end-to-end, as Structured Streaming
(Main.java:44-150 reshaped; SURVEY.md §3).

    CDC source (file replay / Kafka)
        ──▶ ingest_meeting_stream: one from_json of the fields read,
            explode(when(F1, data[])), typed projection (meeting_info)
        ──▶ LEFT JOIN broadcast dim (meeting_address, J1 over J2)
        ──▶ foreachBatch upsert, REPLACE-INTO semantics (S3): newest
            row per key over stored ∪ batch, one shuffle

The same builder runs in batch (oracle-checkable, golden tests) and
streaming (availableNow drains in tests; continuous in production) —
one plan, two sources, per SURVEY.md §7 hard-part (4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkstreametl_spark.operators.cdc import ingest_meeting_stream, with_proctime
from flinkstreametl_spark.operators.joins import enrich
from flinkstreametl_spark.operators.windows import ensure_event_time
from flinkstreametl_spark.sources.cdc import (
    meeting_address_dim,
    read_cdc_file_batch,
    read_cdc_file_stream,
)
from flinkstreametl_spark.streaming.sinks import KeyedParquetUpsertSink
from flinkstreametl_spark.streaming.versioned import start_foreach_batch


# model/Meeting.java:13-18 — the enriched-output projection, shared by
# every variant below so the column list cannot drift between them.
MEETING_COLUMNS = (
    "meeting_id",
    "meeting_code",
    "meetingroom_id",
    "meetingroom_name",
    "location_name",
    "city",
    "_es",
    "_ts",
    "_op",
)


def _enrich_project(meeting_info: DataFrame, dim: DataFrame) -> DataFrame:
    """J1 enrich join + Meeting projection over an already-ingested
    meeting_info DataFrame (batch or per-micro-batch)."""
    joined = enrich(meeting_info, dim, "address_id", "meetingroom_id", "left")
    return joined.select(*MEETING_COLUMNS)


def enriched_meetings(raw: DataFrame, dim: DataFrame, *, types: tuple[str, ...] = ("INSERT",)) -> DataFrame:
    """Ingest chain + J1 enrich join + Meeting projection
    (sqlquery/JoinedSQLQuery.java:6-10 -> model/Meeting.java:13-18).
    Works on batch and streaming inputs alike."""
    return _enrich_project(ingest_meeting_stream(raw, types=types), dim)


def run_cdc_batch(spark: SparkSession, source_path: str, *, types: tuple[str, ...] = ("INSERT",)) -> DataFrame:
    """Batch replay of a Canal JSONL file -> enriched meeting rows."""
    raw = read_cdc_file_batch(spark, source_path)
    return enriched_meetings(raw, meeting_address_dim(spark), types=types)


def run_cdc_stream(
    spark: SparkSession,
    source_path: str,
    sink: KeyedParquetUpsertSink,
    checkpoint_dir: str,
    *,
    types: tuple[str, ...] = ("INSERT", "UPDATE"),
    available_now: bool = True,
):
    """The full streaming job with exactly-once delivery:

    - checkpointed source offsets (T1 ≈ enableCheckpointing(1000) +
      EXACTLY_ONCE, Main.java:49-51);
    - stream-static broadcast join — Spark re-EXECUTES the static-side
      plan per micro-batch: for a JDBC dim that re-queries the database
      each batch (fresher than the reference's one-shot snapshot-into-
      state, CreateJDBCInputFormat.java:8-10). A FILE-backed dim pins
      its file listing at query start, so it does NOT pick up rewrites
      mid-query (tested) — use ``run_cdc_stream_fresh_dim`` when a
      file/table dim must refresh;
    - foreachBatch upsert with in-batch last-write-wins by (es, ts) —
      REPLACE INTO semantics under retry (SURVEY.md §7 hard part (3)).

    Returns the StreamingQuery (caller awaits/stops). With
    ``available_now=True`` (default) it drains existing files and stops —
    deterministic for tests; pass ``available_now=False`` for a
    continuous production run (default micro-batch trigger).
    """
    raw = read_cdc_file_stream(spark, source_path)
    enriched = enriched_meetings(raw, meeting_address_dim(spark), types=types)
    return start_foreach_batch(enriched, sink.process_batch, checkpoint_dir, available_now=available_now)


def run_cdc_stream_fresh_dim(
    spark: SparkSession,
    source_path: str,
    sink: KeyedParquetUpsertSink,
    checkpoint_dir: str,
    *,
    dim_fn=meeting_address_dim,
    types: tuple[str, ...] = ("INSERT", "UPDATE"),
    available_now: bool = True,
):
    """``run_cdc_stream`` with a PER-MICRO-BATCH dimension reload: the
    enrich join moves inside ``foreachBatch``, where ``dim_fn(spark)``
    rebuilds the dim DataFrame fresh for every batch — new files, new
    partitions, schema-compatible rewrites all picked up while the query
    keeps running (``available_now=False`` for that continuous mode;
    the default drains-and-stops for deterministic tests).

    This closes the reference's documented limitation — its JDBC dim is
    loaded once into state and "无法感知mysql维表的变化" (cannot see dim
    changes, CreateJDBCInputFormat.java:8-10; async-IO + cache named as
    future work). The cost is re-reading the dim each batch — fine for
    broadcast-sized dims, and the 100 TB answer for bigger ones is a
    slowly-refreshed cached snapshot, not a per-event lookup."""
    raw = read_cdc_file_stream(spark, source_path)
    meeting_info = ingest_meeting_stream(raw, types=types)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sink.process_batch(_enrich_project(batch_df, dim_fn(batch_df.sparkSession)), batch_id)

    return start_foreach_batch(meeting_info, process, checkpoint_dir, available_now=available_now)


def windowed_event_counts(events: DataFrame, *, window: str = "10 minutes", watermark: str = "20 minutes") -> DataFrame:
    """T5 — tumbling-window aggregation with watermark-bounded state
    (the reference declares EventTime but never installs watermarks,
    Main.java:50; this is the completed version). Works in batch too
    (window() is a plain grouping expression)."""
    return (
        ensure_event_time(events, "ts").withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_window_counts(events: DataFrame, *, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Session windows with a dynamic close-on-gap (the streaming twin of
    operators/windows.sessionize): a session closes when no event arrives
    for `gap`; the watermark bounds session state so an idle key's state
    is evicted instead of growing forever — the exact problem the
    reference's setIdleStateRetentionTime(1d, 2d) guards against (T3,
    Main.java:57). Works in batch too (session_window is a grouping
    expression there)."""
    return (
        ensure_event_time(events, "ts").withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    watermark: str = "2 hours",
    max_delay_expr: str = "INTERVAL 1 HOUR",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join with a time-interval condition — the
    Flink interval-join shape the reference's stack offers but never
    uses. Both sides are watermarked so Spark can bound join state: a
    buffered left row is evictable once the right watermark passes
    left.ts + max_delay. Join condition: same user, right event in
    (left.ts, left.ts + max_delay].

    At scale this is THE state-bounding pattern for stream-stream joins
    — without the time bound, state grows with the full history of both
    streams. Works identically in batch (watermarks become no-ops).

    ``how='left_outer'`` adds the unmatched-left rows: in streaming they
    emit (with NULL right columns) only once the right watermark passes
    the interval's end — i.e. when the engine can PROVE no match will
    arrive — which is why outer stream-stream joins require the time
    bound at all."""
    lt = ensure_event_time(left, "ts").withWatermark("ts", watermark).alias("l")
    rt = ensure_event_time(right, "ts").withWatermark("ts", watermark).alias("r")
    return lt.join(
        rt,
        F.expr(
            "l.user_id = r.user_id AND r.ts > l.ts AND r.ts <= l.ts + " + max_delay_expr
        ),
        how,
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("left_event_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.event_id").alias("right_event_id"),
        F.col("r.ts").alias("right_ts"),
    )


def proctime_meetings(raw: DataFrame) -> DataFrame:
    """T6 — the registered stream table shape with the proctime attribute
    (StreamTableSeetings.java:6): current_timestamp() at micro-batch
    evaluation time."""
    return with_proctime(ingest_meeting_stream(raw))
