"""Custom stateful streaming operators (applyInPandasWithState):
cross-batch dedup and running counts with keyed state."""

from __future__ import annotations

import json

from flinkstreametl_spark.streaming.stateful import (
    streaming_dedup_first_seen,
    streaming_running_counts,
)

SCHEMA = "k STRING, v LONG"


def _write_batch(path, rows):
    with open(path, "w") as f:
        for k, v in rows:
            f.write(json.dumps({"k": k, "v": v}) + "\n")


def test_streaming_dedup_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_batch(src / "b1.jsonl", [("a", 1), ("a", 2), ("b", 3)])

    stream = spark.readStream.schema(SCHEMA).json(str(src))
    deduped = streaming_dedup_first_seen(stream, "k")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = {(r.k, r.v) for r in spark.sql("SELECT * FROM dedup_out").collect()}
        # one row per key; 'a' kept exactly one of its two rows
        assert {k for k, _ in first} == {"a", "b"}
        assert len(first) == 2

        # second batch: existing keys suppressed, new key emitted once
        _write_batch(src / "b2.jsonl", [("a", 9), ("c", 7), ("c", 8)])
        q.processAllAvailable()
        both = {(r.k, r.v) for r in spark.sql("SELECT * FROM dedup_out").collect()}
        assert {k for k, _ in both} == {"a", "b", "c"}
        assert len(both) == 3
        assert ("a", 9) not in both  # cross-batch suppression
    finally:
        q.stop()


def test_streaming_running_counts(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_batch(src / "b1.jsonl", [("a", 1), ("a", 2), ("b", 3)])

    stream = spark.readStream.schema(SCHEMA).json(str(src))
    counts = streaming_running_counts(stream, "k")
    q = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName("counts_out")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(src / "b2.jsonl", [("a", 4), ("c", 5)])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM counts_out").collect()
        latest = {}
        for r in rows:  # memory sink appends updates; last write per key wins
            latest[r.key] = r.n_total
        assert latest == {"a": 3, "b": 1, "c": 1}
    finally:
        q.stop()


def test_incremental_agg_sink_matches_batch(spark, sf_dir, tmp_path):
    """Delta-merge materialized view over a 2-file replay must equal the
    batch groupBy(count, sum) exactly."""
    from pyspark.sql import functions as F

    from flinkstreametl_spark.sources.parquet import load_table
    from flinkstreametl_spark.streaming.sinks import IncrementalAggSink

    events = load_table(spark, sf_dir, "events")
    src = tmp_path / "ev"
    src.mkdir()
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(src / "f1"))

    sink = IncrementalAggSink(str(tmp_path / "mv"), ["user_id"], "value")
    stream = spark.readStream.schema(events.schema).option("recursiveFileLookup", "true").parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(src / "f2"))
    q2 = (
        spark.readStream.schema(events.schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        .writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    got = {r.user_id: (r.n, round(r.total, 6)) for r in sink.read(spark).collect()}
    want = {
        r.user_id: (r.n, round(r.total, 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want


def test_incremental_agg_sink_replay_is_noop(spark, sf_dir, tmp_path):
    """Replaying an already-applied batch_id must not double-count."""
    from pyspark.sql import functions as F

    from flinkstreametl_spark.sources.parquet import load_table
    from flinkstreametl_spark.streaming.sinks import IncrementalAggSink

    events = load_table(spark, sf_dir, "events").limit(100).cache()
    sink = IncrementalAggSink(str(tmp_path / "mv2"), ["user_id"], "value")
    sink.process_batch(events, 0)
    first = {r.user_id: (r.n, r.total) for r in sink.read(spark).collect()}
    sink.process_batch(events, 0)  # replay of the same micro-batch
    assert {r.user_id: (r.n, r.total) for r in sink.read(spark).collect()} == first
    sink.process_batch(events, 1)  # genuinely new batch DOES merge
    assert {r.user_id: r.n for r in sink.read(spark).collect()} == {k: v[0] * 2 for k, v in first.items()}


def test_incremental_agg_replay_after_torn_swap(spark, tmp_path, torn_swap):
    """A crash between the swap's renames parks the stored aggregate and
    its batch-id marker together; the replayed batch must merge once
    into the parked table and commit its marker."""
    from pyspark.sql import functions as F

    from flinkstreametl_spark.streaming.sinks import IncrementalAggSink

    schema = "k STRING, v DOUBLE"
    batches = [[("a", 1.0), ("b", 5.0)], [("a", 2.0)]]
    sink = IncrementalAggSink(str(tmp_path / "mv"), ["k"], "v")
    sink.process_batch(spark.createDataFrame(batches[0], schema), 0)
    with torn_swap(sink.path):
        sink.process_batch(spark.createDataFrame(batches[1], schema), 1)
    sink.process_batch(spark.createDataFrame(batches[1], schema), 1)  # the replay

    want = (
        spark.createDataFrame(batches[0] + batches[1], schema)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
    )
    assert sorted(map(tuple, sink.read(spark).collect())) == sorted(map(tuple, want.collect()))
    assert sink._applied_batch_id() == 1


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """Built-in dropDuplicatesWithinWatermark: duplicates inside the
    watermark horizon are suppressed across micro-batches."""
    from flinkstreametl_spark.streaming.stateful import streaming_dedup_within_watermark

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b1.jsonl", "w") as f:
        f.write(json.dumps({"k": "a", "ts": "2024-01-01 10:00:00"}) + "\n")
        f.write(json.dumps({"k": "a", "ts": "2024-01-01 10:00:05"}) + "\n")
        f.write(json.dumps({"k": "b", "ts": "2024-01-01 10:00:10"}) + "\n")

    stream = spark.readStream.schema("k STRING, ts TIMESTAMP").json(str(src))
    deduped = streaming_dedup_within_watermark(stream, ["k"], delay="10 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT k FROM wm_dedup_out").collect()
        assert sorted(r.k for r in rows) == ["a", "b"]

        # same keys again, still within the watermark horizon -> suppressed
        with open(src / "b2.jsonl", "w") as f:
            f.write(json.dumps({"k": "a", "ts": "2024-01-01 10:00:20"}) + "\n")
            f.write(json.dumps({"k": "c", "ts": "2024-01-01 10:00:30"}) + "\n")
        q.processAllAvailable()
        rows = spark.sql("SELECT k FROM wm_dedup_out").collect()
        assert sorted(r.k for r in rows) == ["a", "b", "c"]
    finally:
        q.stop()


def test_incremental_agg_marker_commits_with_data(spark, tmp_path):
    """The applied-batch-id marker must live INSIDE the table directory
    (committed by the same atomic rename as the data): a crash between
    data swap and a separate marker write would otherwise double-merge
    the replayed delta."""
    import os

    from flinkstreametl_spark.streaming.sinks import IncrementalAggSink

    sink = IncrementalAggSink(str(tmp_path / "mv3"), ["k"], "v")
    batch = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "k STRING, v DOUBLE")
    sink.process_batch(batch, 0)
    assert os.path.exists(os.path.join(sink.path, "_applied_batch_id"))
    # no stray sidecar marker outside the directory
    assert not os.path.exists(sink.path + ".batchid")
    # replay of the same batch is a no-op even though the marker moved
    sink.process_batch(batch, 0)
    rows = {r.k: (r.n, r.total) for r in sink.read(spark).collect()}
    assert rows == {"a": (2, 3.0)}
