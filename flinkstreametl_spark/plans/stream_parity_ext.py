"""[EXT] Driver-facing stream-parity queries: the REAL Structured
Streaming engine in the loop, graded against batch-SQL oracles.

The reference's centerpiece is a stream join (``JoinedSQLQuery.java:6-10``
joins two Kafka-backed stream tables). The unit and plan tests prove
the repo's stream-stream interval join
(``streaming/pipeline.py stream_stream_interval_join``,
``tests/test_streaming.py``); these queries put the actual micro-batch
engine — file source, watermark propagation, join state eviction,
exactly-once file sink — in the execution path the DuckDB oracle
checks. The fixture tables are re-chunked into event-time-ordered
micro-batch files, drained with ``Trigger.AvailableNow``, and the
STREAMING output (not a batch re-statement of it) is aggregated and
hash-compared against the one-shot batch SQL.

Harness contract. Every replay runs through ``_replay`` and the
helpers it calls, which guarantee:

* one file per trigger: the input is staged as chunk files and the
  reader admits one file per micro-batch (``versioned.file_stream``);
* pinned, strictly increasing file mtimes, so the file source admits
  the chunks in order;
* pinned state partitions: ``spark.sql.shuffle.partitions`` (and, for
  the RocksDB twin, the state-store provider) is set to
  ``_STATE_PARTITIONS`` for the query start and restored on every exit
  path;
* an AvailableNow drain: the query stops once the staged files are
  consumed;
* an eager pin before cleanup: the result is read from the scratch
  directory, so it is materialised (``session.pin``) before that
  directory is removed, which happens on every exit path.

Why the interval-join parity is exact and not luck:

* Chunks are event-time tertiles with pinned, strictly increasing
  file mtimes, so the file source processes them in event-time order
  and NO row is ever late relative to the 30-minute watermark — the
  late-drop path stays cold (tests/test_streaming.py exercises it
  hot).
* The watermark DOES advance between micro-batches (the tertile
  boundaries are ~10 days apart at every SF), so buffered join rows
  from batch k are genuinely evicted before batch k+2 — the
  state-eviction law runs for real. Eviction is output-safe for the
  inner interval join because a right row in batch k+1 can only match
  left rows within 1 hour of the tertile boundary, and those are
  strictly inside the 30-minute-watermark retention bound (left row
  evicted iff watermark > left.ts + 1h; watermark after batch k is
  maxTs(k) - 30min, and candidate lefts have ts >= maxTs(k) - 1h).
* The inner join emits each match exactly once regardless of
  micro-batch placement, so the drained streaming output row set
  equals the batch join row set — which is what the oracle states.

100 TB story: this is the shape that holds on a real cluster — state
per key bounded by the interval + watermark (never the stream
history), event-time chunking == Kafka partitions' rough time order,
and the file sink's transactional log == the exactly-once output
contract. The fixture prep (chunk/rewrite) is test scaffolding; the
operator under test is the production one, unchanged.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from flinkstreametl_spark.functions.exact import dsum, sql_dsum
from flinkstreametl_spark.operators import text as X
from flinkstreametl_spark.operators.ranks import with_ntile
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.session import job_tag, pin
from flinkstreametl_spark.sources.parquet import load_table
from flinkstreametl_spark.streaming.bloom_ingest import BLOOM_M
from flinkstreametl_spark.streaming.bloom_ingest import _h as bloom_h
from flinkstreametl_spark.streaming.pipeline import stream_stream_interval_join
from flinkstreametl_spark.streaming.versioned import file_stream, live_path

_SSJ_CHUNKS = 3
_SSJ_SCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG"
# Partitions of every replay's state stores, fixed at the query's first
# checkpoint; the store-layout oracles below state this count.
_STATE_PARTITIONS = 8
_BASE_MTIME = 1_600_000_000
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextlib.contextmanager
def _pinned_conf(spark: SparkSession, key: str, value: str):
    """Pin one session conf for the duration of a streaming query
    start, restoring the previous value even on failure. Streaming
    queries freeze several confs at their first checkpoint (state
    partition count, store provider class), so those are deployment
    decisions pinned HERE, per query, never inherited from whatever
    batch tuning the session carries."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _state_partitions(spark: SparkSession, n: int):
    """Pin ``spark.sql.shuffle.partitions`` for a streaming query
    start. Stateful streaming operators materialize one state store
    per shuffle partition and AQE does NOT coalesce them, so a session
    at Spark's 200 default pays ~200 store open/commit cycles per
    micro-batch regardless of data volume (measured: 82s -> ~8s at
    sf0.001 on stream_dedup_replay). On a real cluster this is the
    `numShufflePartitions`-at-first-checkpoint sizing decision."""
    return _pinned_conf(spark, "spark.sql.shuffle.partitions", str(n))


def _state_store_provider(spark: SparkSession, provider_class: str):
    """Pin ``spark.sql.streaming.stateStore.providerClass`` for a
    streaming query start. Like state partitioning, the store provider
    is fixed at the query's first checkpoint — on a real cluster this
    is the HDFS-backed vs RocksDB deployment decision."""
    return _pinned_conf(
        spark, "spark.sql.streaming.stateStore.providerClass", provider_class
    )


def _ntile_chunks(df: DataFrame, n: int, order_cols: list[str]) -> DataFrame:
    """Exact NTILE(``n``) over the total order ``order_cols`` WITHOUT
    a single-partition global-sort Window, which would funnel the whole
    table through one task.

    Two-phase global rank: range-repartition on the order key, rank
    locally per range partition (a PARTITIONED window — every task
    sorts only its slice), then lift local ranks to global ranks with
    the per-partition count prefix sums (a <=P-row driver collect, the
    parameter-sized pattern the graph/ANN operators already use).
    Range partitions are non-overlapping in key order, so
    global rank = offset[pid] + local rank wherever the sampled range
    boundaries land — boundary placement affects load balance only,
    never chunk membership. Chunk contents are therefore DETERMINISTIC
    and bit-identical to the NTILE(n) the replay oracles state in SQL
    (tests/test_chunk_split.py pins both laws).

    The rank machinery is single-sourced in ``operators/ranks.py``
    (the quantile-sketch audit shares it). Returns the input columns
    plus the 1-based ``_b`` tile column."""
    return with_ntile(df, n, order_cols, "_b")


def _one_file(df: DataFrame, dst: str, mtime: int, fmt: str = "parquet") -> None:
    """Write ``df`` as exactly ONE data file at ``dst`` with a pinned
    mtime (stage dir -> coalesce(1) -> promote the part file -> utime)."""
    stage = dst + "._stage"
    getattr(df.coalesce(1).write.mode("overwrite"), fmt)(stage)
    suffix = ".txt" if fmt == "text" else f".{fmt}"
    part = next(f for f in sorted(os.listdir(stage)) if f.endswith(suffix))
    os.replace(os.path.join(stage, part), dst)
    shutil.rmtree(stage)
    os.utime(dst, (mtime, mtime))


def _write_chunks(
    df: DataFrame,
    out_dir: str,
    order_cols: list[str],
    fmt: str = "parquet",
    redeliver: int | str | None = None,
) -> None:
    """Stage ``df`` as ``_SSJ_CHUNKS`` micro-batch files ``b1..bn`` in
    ``out_dir`` with strictly increasing pinned mtimes, so the file
    source replays them in order. File i holds tile i of the exact
    NTILE over ``order_cols`` (deterministic under any input
    partitioning, see ``_ntile_chunks``). ``redeliver`` adds an
    at-least-once upstream: each file i > 1 also carries rows of tile
    i-1 — ``"all"`` of them, or those within ``redeliver`` seconds of
    that tile's last event time. A text file stores only ``value``.

    One hash-partitioned ``partitionBy`` write lands each file's rows
    in one task, so each partition directory holds exactly one part
    file, promoted to its chunk name. Row order inside a file is not
    fixed; a micro-batch is a set."""
    n = _SSJ_CHUNKS
    tiles = _ntile_chunks(df, n, order_cols)
    if redeliver is not None:
        tiles = pin(tiles)  # read by both union sides and the tile bounds
        prev = tiles.filter(F.col("_b") < n)
        if redeliver != "all":
            mx = tiles.groupBy("_b").agg(F.max("ts").alias("_mx"))
            prev = (
                prev.join(F.broadcast(mx), "_b")
                .filter(F.col("ts") >= F.col("_mx") - F.make_interval(secs=F.lit(redeliver)))
                .drop("_mx")
            )
        tiles = tiles.unionByName(prev.withColumn("_b", F.col("_b") + 1))
    cols = ["value"] if fmt == "text" else df.columns
    stage = out_dir + "._stage"
    (
        tiles.select("_b", *cols)
        .repartition(n, "_b")
        .write.partitionBy("_b")
        .mode("overwrite")
        .format(fmt)
        .save(stage)
    )
    os.makedirs(out_dir, exist_ok=True)
    suffix = ".txt" if fmt == "text" else f".{fmt}"
    for i in range(1, n + 1):
        dst, mtime = os.path.join(out_dir, f"b{i}{suffix}"), _BASE_MTIME + 10 * i
        d = os.path.join(stage, f"_b={i}")
        if not os.path.isdir(d):
            # an empty tile (only on sub-n-row fixtures) still gets its
            # file, so the replay sees exactly n micro-batches
            _one_file(df.select(cols).filter(F.lit(False)), dst, mtime, fmt)
            continue
        parts = sorted(f for f in os.listdir(d) if f.endswith(suffix))
        if len(parts) != 1:
            # >1 part file means a writer-config change (e.g.
            # maxRecordsPerFile); promoting only parts[0] would
            # silently drop rows from the replay fixture
            raise RuntimeError(
                f"expected exactly one part file in {d}, found "
                f"{len(parts)}: {parts} — the single-task-per-tile "
                "write invariant broke"
            )
        os.replace(os.path.join(d, parts[0]), dst)
        os.utime(dst, (mtime, mtime))
    shutil.rmtree(stage)


def _write_sentinels(ev: DataFrame, out_dir: str, fill: tuple, poison: bool = False) -> None:
    """Append files n+1 and n+2 to a chunk directory of ``ev``
    (columns event_id, ts, then the ones ``fill`` gives values for).
    Each holds one sentinel row, event_id -1 then -2, 1 then 2 days
    after the last event: the first advances the watermark past every
    real window end, and the second's batch runs with that watermark,
    so append mode flushes every real window and an outer join emits
    every unmatched row whether or not the engine schedules a trailing
    no-data batch. Callers filter the sentinel rows out of the output.

    With ``poison``, file n+1 also redelivers the stream's first hour,
    late by then, which the engine must drop. That needs the watermark
    past every first-hour window/session end before the poison batch
    runs, i.e. a fixture spanning comfortably more than 1h (poisoned
    prefix) + 1h (window/gap rounding) + 30min (watermark). Below that
    the replay silently flips to "late rows accepted" and diverges from
    the oracle, so it fails loudly instead (the shipped fixtures span
    ~30 days at every SF)."""
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    if hi is None:
        raise ValueError("events fixture is empty — nothing to replay")
    if poison and hi - lo < datetime.timedelta(hours=3):
        raise ValueError(
            f"events fixture spans only {hi - lo}; the late-poison "
            "replay construction requires >= 3h of event time"
        )
    for k in (1, 2):
        rows = ev.sparkSession.createDataFrame(
            [(-k, hi + datetime.timedelta(days=k), *fill)], schema=ev.schema
        )
        if poison and k == 1:
            late = ev.filter(F.col("ts") < F.lit(lo) + F.expr("INTERVAL 1 HOUR"))
            rows = late.unionByName(rows)
        i = _SSJ_CHUNKS + k
        _one_file(rows, os.path.join(out_dir, f"b{i}.parquet"), _BASE_MTIME + 10 * i)


def _copy_chunk_dir(src_dir: str, dst_dir: str) -> None:
    """Duplicate a staged chunk directory for the second side of a
    stream-stream join, preserving the pinned mtimes (copy2) — the
    chunk split is deterministic, so copying beats recomputing it."""
    os.makedirs(dst_dir, exist_ok=True)
    for f in sorted(os.listdir(src_dir)):
        shutil.copy2(os.path.join(src_dir, f), os.path.join(dst_dir, f))


def _not_sentinel(col: str, sentinel) -> Column:
    """Drop sentinel rows ONLY: a plain ``col != sentinel`` would also
    drop NULL-keyed groups through three-valued logic, silently
    diverging from the oracles (which keep NULL groups) if the fixture
    ever carries NULL keys."""
    return ~F.col(col).eqNullSafe(F.lit(sentinel))


def _read(spark: SparkSession, path: str, schema: str, fmt: str = "parquet") -> DataFrame:
    """Stream the chunk files under ``path``, one file per micro-batch."""
    return file_stream(spark, path, schema, fmt)


def _drain(spark: SparkSession, tmp: str, job, provider: str | None = None):
    """Run one replay query to completion with the state-partition
    count (and ``provider``, if given) pinned for its start. ``job`` is
    a streaming DataFrame, drained into a parquet file sink under
    ``tmp`` whose files are the returned output; a foreachBatch
    ``DataStreamWriter``; or a function that starts its own AvailableNow
    query (the production ingest loops). The stream's jobs carry the
    job tag ``drain``, which its thread inherits. Returns ``(output or
    None, progress entries sorted by batchId)``."""
    out = os.path.join(tmp, "out")
    file_sink = isinstance(job, DataFrame)
    with contextlib.ExitStack() as stack:
        stack.enter_context(job_tag(spark.sparkContext, "drain"))
        stack.enter_context(_state_partitions(spark, _STATE_PARTITIONS))
        if provider is not None:
            stack.enter_context(_state_store_provider(spark, provider))
        if file_sink:
            job = job.writeStream.format("parquet").option("path", out)
        if isinstance(job, DataStreamWriter):
            job = (
                job.option("checkpointLocation", os.path.join(tmp, "_ckpt"))
                .trigger(availableNow=True)
                .start
            )
        q = job()
        q.awaitTermination()
    progress = sorted(q.recentProgress, key=lambda p: p["batchId"])
    return (spark.read.parquet(out) if file_sink else None), progress


def _replay(body) -> DataFrame:
    """Run ``body(tmp)`` in a fresh scratch directory and pin the frame
    it returns eagerly, since that frame reads files the directory
    holds; the directory is removed on every exit path."""
    tmp = tempfile.mkdtemp(prefix="replay_")
    try:
        return pin(body(tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _interval_join_replay(spark: SparkSession, sf_dir: str, result, provider: str | None = None):
    """The production interval-join replay: the events table as
    ``_SSJ_CHUNKS`` in-order chunk files on BOTH sides of
    ``stream_stream_interval_join`` (same-user pairs within (0, 1h],
    30-minute watermarks bounding join state), drained into the
    exactly-once parquet file sink. Returns ``result(pairs, progress)``.
    Shared by stream_stream_join_replay and its three state-metric
    twins, so the replay cannot drift between them. Raises unless the
    drain ran ``_SSJ_CHUNKS`` data batches + 1 eviction batch."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")

    def body(tmp: str) -> DataFrame:
        left, right = os.path.join(tmp, "left"), os.path.join(tmp, "right")
        _write_chunks(ev, left, ["ts", "event_id"])
        _copy_chunk_dir(left, right)
        joined = stream_stream_interval_join(
            _read(spark, left, _SSJ_SCHEMA),
            _read(spark, right, _SSJ_SCHEMA),
            watermark="30 minutes",
            max_delay_expr="INTERVAL 1 HOUR",
        )
        pairs, progress = _drain(spark, tmp, joined, provider)
        if len(progress) != _SSJ_CHUNKS + 1:
            raise ValueError(
                f"expected {_SSJ_CHUNKS} data batches + 1 eviction batch, "
                f"got {len(progress)} progress entries — chunking or "
                "trigger semantics changed"
            )
        return result(pairs, progress)

    return _replay(body)


_SSJ_ORACLE = """
WITH pr AS (
    SELECT l.user_id,
           l.event_id AS left_event_id,
           epoch_us(r.ts) - epoch_us(l.ts) AS delta_us
    FROM events l
    JOIN events r
      ON l.user_id = r.user_id
     AND r.ts > l.ts
     AND r.ts <= l.ts + INTERVAL 1 HOUR
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT left_event_id) AS BIGINT) AS n_left_matched,
       CAST(SUM(delta_us) AS BIGINT) AS sum_delta_us,
       CAST(MAX(delta_us) AS BIGINT) AS max_delta_us
FROM pr
GROUP BY user_id
"""


@register(
    "stream_stream_join_replay",
    # "bench": the bench set's stream-parity entry, so a state-store or
    # watermark regression shows in BENCH. AvailableNow-bounded, so it
    # times deterministically.
    tags=("ext", "streaming", "join", "parity", "bench"),
    oracle=_SSJ_ORACLE,
)
def stream_stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join through the REAL micro-batch engine:
    the events table arrives as 3 event-time-ordered micro-batch files
    on BOTH sides of ``stream_stream_interval_join`` (the production
    operator, unchanged — same-user pairs within (0, 1h], 30-minute
    watermarks bounding join state), drained with Trigger.AvailableNow
    into an exactly-once parquet file sink. The drained pair stream is
    then aggregated per user and must hash-match the one-shot batch
    join the oracle states — the stream==batch parity law for the
    reference's centerpiece join shape (JoinedSQLQuery.java:6-10),
    with watermark state-eviction actually firing between batches (the
    module docstring carries the eviction-is-output-safe proof)."""

    def result(pairs: DataFrame, progress: list) -> DataFrame:
        delta = F.unix_micros(F.col("right_ts")) - F.unix_micros(F.col("left_ts"))
        return (
            pairs.withColumn("delta_us", delta)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.countDistinct("left_event_id").cast("long").alias("n_left_matched"),
                F.sum("delta_us").cast("long").alias("sum_delta_us"),
                F.max("delta_us").cast("long").alias("max_delta_us"),
            )
        )

    return _interval_join_replay(spark, sf_dir, result)


# --- bloom saturation audit --------------------------------------------------
# The ingest loop's filter-health signal (streaming/bloom_ingest.py
# returns bloom_fill_ppm per batch) as an oracle-graded query: replay
# the history growing in 4 cumulative stages and report the saturation
# curve an operator would watch to schedule the rebuild-from-history
# resize. Audit width is 2^12 (vs the loop's 2^20) so the curve is
# VISIBLE at fixture scale — the hash construction is the loop's own
# `_h`, parameterized, not a copy.
_SAT_M = 1 << 12
_SAT_STAGES = 4

_SAT_H_SQL = {
    salt: f"CAST(concat('0x', substr(md5('{salt}' || fp), 1, 8)) AS BIGINT) % {_SAT_M}"
    for salt in ("a", "b")
}

_SAT_ORACLE = f"""
WITH d AS (
    SELECT doc_id, {X.sql_fingerprint('text')} AS fp FROM documents
), st AS (
    SELECT s.stage, d.fp
    FROM d, (SELECT unnest(range(1, {_SAT_STAGES + 1})) AS stage) s
    WHERE d.doc_id % {_SAT_STAGES} < s.stage
), pos AS (
    SELECT stage, fp, {_SAT_H_SQL['a']} AS b FROM st
    UNION ALL
    SELECT stage, fp, {_SAT_H_SQL['b']} AS b FROM st
), agg AS (
    SELECT stage,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_keys,
           CAST(COUNT(DISTINCT b) AS BIGINT) AS bits_set
    FROM pos GROUP BY stage
)
SELECT CAST(stage AS BIGINT) AS stage, n_keys, bits_set,
       CAST(bits_set * 1000000 // {_SAT_M} AS BIGINT) AS fill_ppm,
       CAST(bits_set * bits_set * 1000000 // ({_SAT_M} * {_SAT_M}) AS BIGINT) AS pred_fpr_ppm
FROM agg
"""


@register(
    "bloom_saturation_audit",
    tags=("ext", "streaming", "dedup", "audit"),
    oracle=_SAT_ORACLE,
)
def bloom_saturation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter saturation curve for the bloom-fronted dedup ingest
    (streaming/bloom_ingest.py): the history fingerprint set grows in
    4 cumulative stages (docs with doc_id % 4 < stage — the replay
    shape), and each stage reports distinct keys, set bits, fill in
    ppm of the filter width, and the k=2 predicted false-positive rate
    (fill², the signal that schedules the rebuild-from-history
    resize). Hash positions come from the ingest loop's own salted-md5
    `_h`, so the audit measures the production filter's arithmetic,
    not a model of it.

    Plan shape / 100 TB story: one scan computes every stage — the
    (fp, bit) projection is exploded across the 4 stage tags map-side
    and reduced by one hash aggregate; state is bounded by
    stages x filter width (16k rows here), never by the corpus. The
    fill/FPR math is exact BIGINT (bits² x 1e6 tops out at ~2^44)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.fingerprint("text").alias("fp")
    )
    pos = docs.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(bloom_h("a", F.col("fp"), _SAT_M), bloom_h("b", F.col("fp"), _SAT_M))
        ).alias("b"),
    )
    stage = F.explode(F.array([F.lit(s) for s in range(1, _SAT_STAGES + 1)])).alias("stage")
    staged = pos.select("doc_id", "fp", "b", stage).filter(
        F.col("doc_id") % _SAT_STAGES < F.col("stage")
    )
    return (
        staged.groupBy(F.col("stage").cast("long").alias("stage"))
        .agg(
            F.countDistinct("fp").cast("long").alias("n_keys"),
            F.countDistinct("b").cast("long").alias("bits_set"),
        )
        .select(
            "stage",
            "n_keys",
            "bits_set",
            F.expr(f"CAST(bits_set * 1000000 DIV {_SAT_M} AS BIGINT)").alias("fill_ppm"),
            F.expr(
                f"CAST(bits_set * bits_set * 1000000 DIV ({_SAT_M} * {_SAT_M}) AS BIGINT)"
            ).alias("pred_fpr_ppm"),
        )
    )


# --- streaming dedup replay ---------------------------------------------------
# The streaming counterpart of exact_dup_groups / keep-first dedup: the
# engine's watermark-bounded dedup operator (dropDuplicatesWithinWatermark)
# fed an AT-LEAST-ONCE stream — every chunk boundary redelivers the
# previous chunk's 40-second tail — and graded against the one-shot
# batch DISTINCT the oracle states. Event time is derived FROM the
# dedup key (md5-prefix of the fingerprint), which makes the parity a
# THEOREM instead of luck: (1) all copies of a key carry the identical
# (source, fp, ts) triple, so whichever copy survives is byte-identical;
# (2) same-key copies always share ts, so they land in the same
# event-time chunk (in-batch dedup) or arrive as the redelivered tail
# within the 60s watermark with live state (2*60 > 40 — cross-batch
# dedup), never outside it; (3) redelivered rows sit above the
# post-batch watermark (40 < 60), so the late-drop path stays cold.
_SDD_TAIL_S = 40
_SDD_WM = "60 seconds"
_SDD_SPREAD_S = 400
_SDD_SCHEMA = "source STRING, fp STRING, ts TIMESTAMP"

_SDD_ORACLE = f"""
WITH d AS (
    SELECT source, {X.sql_fingerprint('text')} AS fp FROM documents
)
SELECT source,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_rows_out
FROM d GROUP BY source
"""


@register(
    "stream_dedup_replay",
    tags=("ext", "streaming", "dedup", "parity"),
    oracle=_SDD_ORACLE,
)
def stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup through the REAL micro-batch
    engine: document (source, fingerprint) keys arrive as 3 event-time
    chunk files where every chunk k>1 REDELIVERS chunk k-1's 40-second
    tail (the at-least-once upstream shape the bloom/minhash ingest
    loops guard against), the engine's own
    ``dropDuplicatesWithinWatermark`` drops in-batch and cross-batch
    copies with state bounded by the 60s watermark, and the drained
    exactly-once parquet output must aggregate to the batch
    COUNT(DISTINCT fp) per source — n_rows_out == n_unique pins that
    not a single redelivered copy leaked past the operator. Event time
    is a pure function of the key (md5-prefix mod 400s), so parity is
    deterministic by construction (block comment above carries the
    proof). 100 TB story: dedup state is bounded by keys-per-watermark-
    window, not stream history — the law this query puts in the
    driver's gate; full-history exact dedup stays the batch operator's
    job (exact_dup_groups)."""
    epoch = F.lit("2020-01-01 00:00:00").cast("timestamp")
    keyed = (
        load_table(spark, sf_dir, "documents")
        .select("source", X.fingerprint("text").alias("fp"))
        .select(
            "source",
            "fp",
            (
                epoch
                + F.make_interval(
                    secs=F.conv(F.substring(F.md5(F.col("fp")), 1, 8), 16, 10).cast("long")
                    % _SDD_SPREAD_S
                )
            ).alias("ts"),
        )
    )

    def body(tmp: str) -> DataFrame:
        src = os.path.join(tmp, "in")
        _write_chunks(keyed, src, ["ts", "fp"], redeliver=_SDD_TAIL_S)
        deduped = (
            _read(spark, src, _SDD_SCHEMA)
            .withWatermark("ts", _SDD_WM)
            .dropDuplicatesWithinWatermark(["source", "fp"])
        )
        out, _ = _drain(spark, tmp, deduped)
        return out.groupBy("source").agg(
            F.countDistinct("fp").cast("long").alias("n_unique"),
            F.count(F.lit(1)).cast("long").alias("n_rows_out"),
        )

    return _replay(body)


# --- streaming windowed aggregation replay ------------------------------------
# Completes the streaming-parity trio (join / dedup / WINDOWED AGG —
# the three stateful operators every Flink ETL job composes from). The
# tumbling-window aggregate runs in the REAL micro-batch engine in
# append mode, fed event-time-ordered chunks PLUS (a) a late-poison
# file that redelivers the stream's first hour after the watermark has
# advanced ~the whole fixture span — the engine must drop every copy or
# a duplicate (window_start, event_type) key reaches the output and the
# hash breaks — and (b) two far-future sentinel files that advance the
# watermark past every real window end so append mode FLUSHES all real
# windows before the drain terminates (``_write_sentinels``). Sentinel
# rows aggregate into their own far-future windows which the post-drain
# event_type filter removes if they ever emit, so the oracle is the
# PLAIN batch tumbling group-by — no closure predicate needed.
_SWA_WM = "30 minutes"
_SWA_SCHEMA = "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"

_SWA_ORACLE = f"""
SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 * 1000000)
         AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum('value', 18, 6)} AS sum_value
FROM events
GROUP BY 1, 2
"""


@register(
    "stream_window_agg_replay",
    tags=("ext", "streaming", "window", "parity"),
    oracle=_SWA_ORACLE,
)
def stream_window_agg_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation through the REAL
    micro-batch engine (the reference's streaming-agg shape,
    Main.java:102-106, run as Flink would run it): events arrive as 3
    event-time-ordered chunk files, a 4th file REDELIVERS the stream's
    entire first hour long after the 30-minute watermark has passed it
    (at-least-once upstream), and two sentinel files advance the
    watermark past every real window end so append mode flushes the
    full window set before Trigger.AvailableNow terminates. The drained
    exactly-once parquet output must hash-match the one-shot batch
    tumbling group-by — count AND exact decimal value sum per
    (window, event_type) — so a single late-poison row leaking into a
    closed window, a missed final-window flush, or a double-emitted
    window all break parity (block comment above carries the
    construction). 100 TB story: window state is bounded by
    windows-per-watermark-horizon × group keys, never stream history,
    and the flush discipline is exactly how a production drain hands
    off to a downstream batch consumer."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")

    def body(tmp: str) -> DataFrame:
        src = os.path.join(tmp, "in")
        _write_chunks(ev, src, ["ts", "event_id"])
        _write_sentinels(ev, src, ("__sentinel__", 0.0), poison=True)
        agg = (
            _read(spark, src, _SWA_SCHEMA)
            .withWatermark("ts", _SWA_WM)
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), dsum("value", 18, 6).alias("sum_value"))
            .select(
                F.col("win.start").alias("window_start"), "event_type", "n", "sum_value"
            )
        )
        # The sentinel filter must NOT sit in the streaming plan:
        # event_type is a grouping column, so Catalyst pushes the
        # predicate through the Aggregate AND the EventTimeWatermark
        # node down to the scan — the sentinel rows then never reach
        # the watermark tracker and the final real windows are never
        # flushed (observed: watermark stuck at maxTs(b3)-30min).
        # Filtering the drained OUTPUT removes the sentinel's own
        # window whether or not the engine schedules the trailing
        # no-data batch that emits it, keeping the result set
        # deterministic across engine versions.
        out, _ = _drain(spark, tmp, agg)
        return out.filter(_not_sentinel("event_type", "__sentinel__"))

    return _replay(body)


# --- streaming CDC upsert replay ----------------------------------------------
# The reference END-TO-END, through the real engine: a changelog stream
# (op derived per row: 'error' events are DELETE tombstones, everything
# else upserts — changelog_op_column's law) replayed as at-least-once
# micro-batches into the PRODUCTION KeyedParquetUpsertSink
# (REPLACE-INTO semantics, SinkToMySQL.java:35), and the final keyed
# table must equal the batch latest-row-per-key with deleted keys
# absent. Why redelivery cannot regress a key: chunks are ntile'd over
# the total order (ts, event_id), so every chunk-(k-1) row outranks
# every chunk-(k-2) row; the redelivered tail is a ts-suffix OF chunk
# k-1, so if key K has any row in batch k, the batch's latest-for-K is
# either a genuinely newer chunk-k row or K's stored latest itself
# (K's overall latest r* lives in the highest chunk containing K; if
# that is chunk k-1 and any K-row clears the tail cutoff, r* does too,
# since r* is the latest) — the sink's blind REPLACE therefore never
# overwrites with an older row, matching MySQL REPLACE under the same
# ordered-with-bounded-redelivery delivery contract.
_SCU_TAIL_S = 6 * 3600

_SCU_ORACLE = """
SELECT event_id, user_id, event_type, value, ts
FROM (
    SELECT e.*,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events e
) t
WHERE rn = 1 AND event_type <> 'error'
"""


@register(
    "stream_cdc_upsert_replay",
    # "bench": see stream_stream_join_replay — the CDC upsert replay
    # covers the keyed-state + exactly-once sink path in BENCH.
    tags=("ext", "streaming", "cdc", "upsert", "parity", "bench"),
    oracle=_SCU_ORACLE,
)
def stream_cdc_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline end-to-end in the REAL micro-batch engine:
    an event changelog ('error' rows become DELETE tombstones, the
    retract law of changelog_op_column; everything else upserts)
    arrives as 3 event-time-ordered chunks where each chunk k>1
    REDELIVERS chunk k-1's 6-hour tail (at-least-once upstream), and
    foreachBatch drives the PRODUCTION KeyedParquetUpsertSink — one
    newest-row-per-key pass over the stored table ∪ the batch (batch
    rows first, winning tombstones dropped), atomic directory swap
    (streaming/sinks.py, the Spark re-expression of
    SinkToMySQL.java:31-65's REPLACE INTO). The final
    keyed table must hash-match the batch latest-row-per-key oracle
    with tombstoned keys absent — every column exact, so a redelivered
    row regressing a key, a tombstone leak, or a lost upsert all break
    parity (the block comment above carries the no-regression proof).
    100 TB story: per-batch cost is |batch| + one key-merge against the
    keyed table — MERGE INTO on Delta/Iceberg on a cluster — and
    redelivery safety comes from the delivery contract, not from
    history kept in state."""
    from flinkstreametl_spark.streaming.sinks import KeyedParquetUpsertSink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def body(tmp: str) -> DataFrame:
        src = os.path.join(tmp, "in")
        _write_chunks(ev, src, ["ts", "event_id"], redeliver=_SCU_TAIL_S)
        changelog = _read(
            spark, src, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
        ).withColumn(
            "_op",
            F.when(F.col("event_type") == "error", F.lit("DELETE")).otherwise(F.lit("UPSERT")),
        )
        sink = KeyedParquetUpsertSink(
            os.path.join(tmp, "table"), ["user_id"], ["ts", "event_id"]
        )
        _drain(spark, tmp, changelog.writeStream.foreachBatch(sink.process_batch))
        return sink.read(spark).select("event_id", "user_id", "event_type", "value", "ts")

    return _replay(body)


# --- streaming session window replay ------------------------------------------
# The fourth stateful-operator shape (after join / dedup / tumbling
# agg): MERGING window state. Session windows can't pre-assign rows to
# buckets — the engine must merge an arriving event into an open
# session and extend its end, so the state transition is
# fundamentally different from the tumbling case. Why the replay is
# deterministic: chunks are event-time-ordered (ntile over (ts,
# event_id)), so an event in chunk k+1 has ts >= maxTs(k); a session
# emitted before chunk k+1 has end <= watermark(k) = maxTs(k) - 30min
# < any future ts, and merging requires ts < end — so no emitted
# session can ever be extended (no premature emission), and every
# still-extendable session is still in state. The poison file
# redelivers the stream's first hour (watermark long past: must drop),
# and the two sentinel files flush all real sessions exactly as in
# stream_window_agg_replay (same post-drain filter, same
# Catalyst-pushdown caveat).
_SSW_GAP = "30 minutes"

_SSW_ORACLE = f"""
WITH flagged AS (
    SELECT user_id, ts, value, event_id,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE OR
                LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           THEN 1 ELSE 0 END AS is_new
    FROM events
), numbered AS (
    SELECT user_id, ts, value,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum('value', 18, 6)} AS sum_value
FROM numbered
GROUP BY user_id, sid
"""


@register(
    "stream_session_window_replay",
    tags=("ext", "streaming", "window", "sessionize", "parity"),
    oracle=_SSW_ORACLE,
)
def stream_session_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGING session-window aggregation through the REAL micro-batch
    engine: events arrive as 3 event-time-ordered chunks (+ late-poison
    + two flush sentinels), the engine's own session_window operator
    merges arrivals into open sessions across micro-batch boundaries,
    and the drained exactly-once output must hash-match the batch
    gaps-and-islands sessionization (lag -> break flag -> running-sum
    session id) — the SAME oracle session_window_agg pins for the batch
    operator, now proving the streaming state machine: a session split
    at a chunk boundary, a merge into an already-emitted session, a
    leaked late event, or a missed final flush all break parity (the
    no-premature-emission proof is in the block comment). 100 TB
    story: session state is bounded by OPEN sessions per key within
    the watermark horizon — the merging-window law that makes
    sessionization viable on unbounded streams."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")

    def body(tmp: str) -> DataFrame:
        src = os.path.join(tmp, "in")
        _write_chunks(ev, src, ["ts", "event_id"])
        _write_sentinels(ev, src, (-1, 0.0), poison=True)
        agg = (
            _read(spark, src, "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
            .withWatermark("ts", _SSW_GAP)
            .groupBy(F.session_window("ts", _SSW_GAP).alias("win"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 18, 6).alias("sum_value"))
            .select(
                "user_id",
                F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "n_events",
                "sum_value",
            )
        )
        out, _ = _drain(spark, tmp, agg)
        return out.filter(_not_sentinel("user_id", -1))

    return _replay(body)


# --- custom stateful operator replay ------------------------------------------
# The fifth stateful shape: CUSTOM keyed state (applyInPandasWithState —
# the Spark form of Flink's KeyedProcessFunction, the API the
# reference would need for its implied continuous occupancy counter).
# The per-key running count emits ONE cumulative snapshot per
# micro-batch in which the key appears, so the drained output is not
# just a final value but the whole emission TRAJECTORY — and the
# trajectory is deterministic because the chunk split is the same
# ntile(3) over (ts, event_id) the oracle restates: the snapshot set
# per user equals the prefix sums of that user's per-chunk row counts.
# A key emitting without data, state lost between batches, or a batch
# boundary drifting by one row all change the set and break the hash.
# NTILE tile count interpolated from _SSJ_CHUNKS so the oracle cannot
# drift from the plan's split.
_SCS_ORACLE = f"""
WITH b AS (
    SELECT user_id, NTILE({_SSJ_CHUNKS}) OVER (ORDER BY ts, event_id) AS bk FROM events
), g AS (
    SELECT user_id, bk, COUNT(*) AS c FROM b GROUP BY user_id, bk
)
SELECT user_id,
       CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY bk) AS BIGINT) AS running_n
FROM g
"""


@register(
    "stream_custom_state_replay",
    tags=("ext", "streaming", "stateful", "parity"),
    oracle=_SCS_ORACLE,
)
def stream_custom_state_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom keyed state through the REAL micro-batch engine: the
    production ``streaming_running_counts`` operator
    (applyInPandasWithState, update mode — streaming/stateful.py)
    carries a per-user running event count in keyed state across 3
    event-time-ordered micro-batches, foreachBatch appends each batch's
    emitted snapshots, and the drained snapshot TRAJECTORY must
    hash-match the oracle's prefix-sum restatement of the same ntile
    chunk split (block comment above: one cumulative row per (user,
    chunk-with-rows)). This puts the Arrow-batched custom-state path —
    state row round-trip, per-key invocation contract, cross-batch
    state carry — under the driver gate next to the engine-native
    operators the other replays cover. 100 TB story: keyed state is
    one fixed-width row per key, the operator touches only keys
    present in the batch, and emission volume is |active keys| per
    batch — the KeyedProcessFunction cost model."""
    from flinkstreametl_spark.streaming.stateful import streaming_running_counts

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")

    def body(tmp: str) -> DataFrame:
        src, snaps = os.path.join(tmp, "in"), os.path.join(tmp, "snapshots")
        _write_chunks(ev, src, ["ts", "event_id"])

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # per-batch subdirectory overwrite: replay-idempotent the
            # same way the HLL timeline is
            batch_df.write.mode("overwrite").parquet(
                os.path.join(snaps, f"batch_id={int(batch_id)}")
            )

        counted = streaming_running_counts(_read(spark, src, _SSJ_SCHEMA), "user_id")
        _drain(spark, tmp, counted.writeStream.foreachBatch(sink).outputMode("update"))
        return spark.read.option("recursiveFileLookup", "true").parquet(snaps).select(
            F.col("key").cast("long").alias("user_id"),
            F.col("n_total").alias("running_n"),
        )

    return _replay(body)


# --- streaming LEFT-OUTER interval join replay --------------------------------
# The inner replay proves match emission; this one proves the harder
# half: NULL emission. A left row may produce its null-padded row ONLY
# when the engine can PROVE no match will ever arrive (right watermark
# past left.ts + max_delay) — emit early and a late match double-counts
# the left; never emit and unmatched lefts are lost. Why the replay is
# deterministic: (1) no null-then-match — a right arriving after the
# null emission has ts >= maxTs(prev chunk) >= watermark + 30min >
# left.ts + 1h, so it cannot satisfy the interval; (2) no match-then-
# null — the engine's matched-flag state, which is exactly the law
# under test (a violation adds a null row for a matched left and breaks
# n_rows); (3) all real unmatched lefts flush — the two sentinel files
# on BOTH sides advance the min-of-sources watermark past every real
# left.ts + 1h, and the second sentinel's batch runs with the first's
# watermark (the stream_window_agg_replay discipline applied to join
# eviction). Sentinel rows (user_id = -1) match nothing on either side
# and are filtered post-drain, so their own (engine-version-dependent)
# null rows never reach the output.
_SOJ_ORACLE = """
WITH pr AS (
    SELECT l.user_id,
           l.event_id AS lid,
           r.event_id AS rid,
           epoch_us(r.ts) - epoch_us(l.ts) AS delta_us
    FROM events l
    LEFT JOIN events r
      ON l.user_id = r.user_id
     AND r.ts > l.ts
     AND r.ts <= l.ts + INTERVAL 1 HOUR
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(rid) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN rid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
       CAST(SUM(COALESCE(delta_us, 0)) AS BIGINT) AS sum_delta_us
FROM pr
GROUP BY user_id
"""


@register(
    "stream_outer_join_replay",
    tags=("ext", "streaming", "join", "parity"),
    oracle=_SOJ_ORACLE,
)
def stream_outer_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join through the REAL
    micro-batch engine: the production operator
    (``stream_stream_interval_join(how='left_outer')``) over 3
    event-time-ordered chunk files per side plus two flush-sentinel
    files per side, drained exactly-once and aggregated per user —
    n_rows / n_matched / n_unmatched / exact delta sum must hash-match
    the one-shot batch LEFT JOIN. This gates the null-emission law the
    inner replay cannot see: nulls exactly for match-free lefts,
    emitted exactly once, only after the watermark proves no match can
    arrive (determinism argument in the block comment above). 100 TB
    story: outer-join state carries a matched bit per buffered row and
    is evicted on the same watermark bound as the inner join — the
    time-interval condition is what makes outer stream-stream joins
    expressible at all."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")

    def body(tmp: str) -> DataFrame:
        left, right = os.path.join(tmp, "left"), os.path.join(tmp, "right")
        _write_chunks(ev, left, ["ts", "event_id"])
        _write_sentinels(ev, left, (-1,))
        _copy_chunk_dir(left, right)
        joined = stream_stream_interval_join(
            _read(spark, left, _SSJ_SCHEMA),
            _read(spark, right, _SSJ_SCHEMA),
            watermark="30 minutes",
            max_delay_expr="INTERVAL 1 HOUR",
            how="left_outer",
        )
        out, _ = _drain(spark, tmp, joined)
        delta = F.when(
            F.col("right_event_id").isNotNull(),
            F.unix_micros(F.col("right_ts")) - F.unix_micros(F.col("left_ts")),
        ).otherwise(F.lit(0))
        return (
            out.filter(_not_sentinel("user_id", -1))
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count("right_event_id").cast("long").alias("n_matched"),
                F.sum(
                    F.when(F.col("right_event_id").isNull(), 1).otherwise(0)
                ).cast("long").alias("n_unmatched"),
                F.sum(delta).cast("long").alias("sum_delta_us"),
            )
        )

    return _replay(body)


# --- streaming HLL maintenance replay -----------------------------------------
# Promotes the streaming sketch-state axis from tests-only to the
# driver gate. The replay is deliberately brutal about delivery: every
# chunk k>1 redelivers ALL of chunk k-1 (full at-least-once
# duplication), because the register merge (max per (grp, bucket)) is
# commutative AND idempotent — redelivery is a no-op BY CONSTRUCTION,
# with no dedup bookkeeping at all (the property the bloom/shard
# ingest loops have to engineer explicitly). The final persisted
# registers after the 3-batch drain must therefore be bit-identical to
# the one-shot batch sketch, and the query emits the SAME estimator
# audit as hll_distinct_audit (same oracle): register census, dyadic
# harmonic sum, two-branch estimate, signed error vs the exact
# distinct count.
@register(
    "stream_hll_maintenance_replay",
    tags=("ext", "streaming", "sketch", "parity"),
    oracle=None,  # installed below — shares hll_distinct_audit's oracle verbatim
)
def stream_hll_maintenance_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL cardinality maintenance through the PRODUCTION
    ingest loop (streaming/hll_ingest.run_hll_stream: foreachBatch
    merge into versioned register state with atomic CURRENT flips),
    fed 3 JSONL micro-batches where every batch k>1 REDELIVERS all of
    batch k-1 — and the persisted registers after the drain must yield
    the exact same estimator audit as the one-shot batch sketch
    (hll_distinct_audit's oracle, verbatim): max-merge idempotence
    makes at-least-once delivery invisible, which is the whole reason
    sketch state needs no replay guards. 100 TB story: state is
    bounded at |groups| x 1024 register rows forever, each micro-batch
    ships one map-side-combined register aggregate, and crash recovery
    is the versioned-pointer protocol (streaming/versioned.py) — no
    corpus-sized frame exists at any point."""
    from flinkstreametl_spark.plans.sketch_ext import hll_estimate_cols, hll_summarize
    from flinkstreametl_spark.streaming.hll_ingest import (
        REGISTERS_SUBDIR,
        _REG_SCHEMA,
        run_hll_stream,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")

    def body(tmp: str) -> DataFrame:
        src, state = os.path.join(tmp, "in"), os.path.join(tmp, "state")
        _write_chunks(ev, src, ["event_id"], fmt="json", redeliver="all")
        _drain(spark, tmp, lambda: run_hll_stream(spark, src, state))
        reg_root = os.path.join(state, REGISTERS_SUBDIR)
        regs = spark.read.schema(_REG_SCHEMA).parquet(live_path(reg_root))
        s = hll_summarize(regs).withColumnRenamed("grp", "event_type")
        ex = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
        return hll_estimate_cols(s.join(ex, "event_type")).select(
            "event_type",
            "n_buckets",
            "s_scaled",
            "n_exact",
            "method",
            "hll_est",
            F.round(
                (F.col("hll_est") - F.col("n_exact")) / F.col("n_exact") * 10000, 1
            ).alias("err_bp"),
        )

    return _replay(body)


def _install_shm_oracle() -> None:
    # Shares hll_distinct_audit's oracle VERBATIM: the streamed
    # registers must reproduce the batch sketch bit-for-bit, so the
    # same SQL grades both.
    from flinkstreametl_spark.plans.registry import REGISTRY as _R
    from flinkstreametl_spark.plans.sketch_ext import _HLL_ORACLE

    _R["stream_hll_maintenance_replay"].oracle = _HLL_ORACLE


_install_shm_oracle()


# --- streaming bloom-fronted dedup ingest replay ------------------------------
# Promotes the SECOND streaming-state module to the driver gate. Unlike
# the HLL registers (idempotent by algebra), the bloom loop has to
# ENGINEER its replay safety: in-batch self-dedup, the exact history
# anti-join behind the bloom front, and the accepted -> bits -> history
# write order that keeps bits ⊇ hashes(history) through any crash. The
# replay feeds full at-least-once duplication (every chunk k>1
# redelivers ALL of chunk k-1) and then grades the POST-DRAIN state:
# history must hold each unique fingerprint exactly once
# (n_history_rows == n_unique_fp pins zero leaked redeliveries), and
# the persisted bit table must be exactly the salted-md5 positions of
# that history (the no-false-negative invariant, stated as equality
# because no crash occurred in the clean drain).
# BLOOM_M is interpolated from the production module, so the oracle
# cannot drift from the loop when the filter is re-sized.
_SBD_H_SQL = {
    salt: f"CAST(concat('0x', substr(md5('{salt}' || fp), 1, 8)) AS BIGINT) % {BLOOM_M}"
    for salt in ("a", "b")
}

_SBD_ORACLE = f"""
WITH d AS (SELECT DISTINCT {X.sql_fingerprint('text')} AS fp FROM documents),
pos AS (
    SELECT {_SBD_H_SQL['a']} AS b FROM d
    UNION ALL
    SELECT {_SBD_H_SQL['b']} AS b FROM d
)
SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_history_rows,
       CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_unique_fp,
       CAST(COUNT(DISTINCT b) AS BIGINT) AS n_bits_set,
       CAST(COUNT(DISTINCT b) * 1000000 // {BLOOM_M} AS BIGINT) AS fill_ppm
FROM pos
"""


@register(
    "stream_bloom_dedup_replay",
    tags=("ext", "streaming", "dedup", "parity"),
    oracle=_SBD_ORACLE,
)
def stream_bloom_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-fronted exact-dedup ingest through the PRODUCTION loop
    (streaming/bloom_ingest.run_bloom_stream: foreachBatch with the
    m=2^20 k=2 filter fast path, history anti-join slow path, and the
    accepted->bits->history crash ordering), fed 3 JSONL micro-batches
    where every batch k>1 REDELIVERS all of batch k-1. Post-drain
    parity (oracle above): the history holds each unique document
    fingerprint EXACTLY once and the persisted bit table equals the
    salted-md5 position set of those fingerprints — a leaked
    redelivery, a dropped new doc, or a bit written for a rejected row
    all break the hash. Complements bloom_saturation_audit (which
    grades the filter MATH on cumulative prefixes) by grading the
    STATE the real loop persists. 100 TB story: per batch, bloom-MISS
    rows skip the history probe entirely — only |dups| + fpr·|new|
    rows pay the exact anti-join — and the filter is a ≤2^20-row
    broadcast."""
    from flinkstreametl_spark.streaming.bloom_ingest import (
        BITS_SUBDIR,
        HISTORY_SUBDIR,
        run_bloom_stream,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def body(tmp: str) -> DataFrame:
        src, state = os.path.join(tmp, "in"), os.path.join(tmp, "state")
        _write_chunks(docs, src, ["doc_id"], fmt="json", redeliver="all")
        _drain(spark, tmp, lambda: run_bloom_stream(spark, src, state))
        history = spark.read.schema("fp STRING").parquet(os.path.join(state, HISTORY_SUBDIR))
        bits = spark.read.schema("b LONG").parquet(os.path.join(state, BITS_SUBDIR))
        return (
            history.agg(
                F.count(F.lit(1)).cast("long").alias("n_history_rows"),
                F.countDistinct("fp").cast("long").alias("n_unique_fp"),
            )
            .crossJoin(
                F.broadcast(
                    bits.agg(F.countDistinct("b").cast("long").alias("n_bits_set"))
                )
            )
            .select(
                "n_history_rows",
                "n_unique_fp",
                "n_bits_set",
                F.expr(f"CAST(n_bits_set * 1000000 DIV {BLOOM_M} AS BIGINT)").alias(
                    "fill_ppm"
                ),
            )
        )

    return _replay(body)


# --- streaming dead-letter (quarantine) observability replay ------------------
# The batch split_dead_letters operator (operators/cdc.py — the
# hardening the reference omits: its unguarded fastjson parse,
# JsonFilter.java:24, crash-loops on one bad Kafka record) run through
# the real micro-batch engine, with the resulting drop-rate ledger
# oracle-graded: a mixed-validity Canal line stream is synthesized from
# the events table under a closed-form corruption law (event_id mod 7
# == 3 -> payload truncated mid-token, syntactically broken; == 5 ->
# well-formed JSON missing every Canal required field; else a parseable
# envelope), replayed as at-least-once micro-batches (each batch
# redelivers its predecessor), routed by the PRODUCTION splitter inside
# foreachBatch into separate good/quarantine ledgers, and the final
# observability readout — per-class distinct record counts and ppm drop
# rates — is hash-compared against the closed form stated directly on
# events.
#
# The quarantine ledger is keyed by record identity (raw line for dead
# rows, envelope id for good rows), so redelivered corruption doesn't
# double-bill the drop rate — at-least-once delivery + identity-keyed
# ledger = effectively-once observability, the same composition rule
# the upsert sink uses for data. A misrouted class (parse accepting a
# truncated line, or a schema-shaped line quarantined), a leaked
# redelivery, or a lost quarantine row all change a count and break
# the hash.
_SDL_ORACLE = """
WITH cls AS (
    SELECT CASE WHEN event_id % 7 = 3 THEN 'UNPARSEABLE_JSON'
                WHEN event_id % 7 = 5 THEN 'MISSING_REQUIRED_FIELDS'
                ELSE 'good' END AS klass
    FROM events
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM cls)
SELECT klass,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) * 1000000 // tot.t AS BIGINT) AS rate_ppm
FROM cls, tot
GROUP BY klass, tot.t
"""


@register(
    "stream_dead_letter_replay",
    tags=("ext", "streaming", "quarantine", "parity"),
    oracle=_SDL_ORACLE,
)
def stream_dead_letter_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing through the REAL micro-batch engine with a
    driver-graded drop-rate ledger (spec, corruption law, and the
    at-least-once/identity-dedup argument in the block comment above).
    100 TB story: the split is one map-side predicate per batch (no
    shuffle), the quarantine ledger is append-only storage keyed by
    record identity, and the rate readout is a 3-row aggregate — the
    shape a production pipeline dashboards continuously."""
    from flinkstreametl_spark.operators.cdc import split_dead_letters

    ev = load_table(spark, sf_dir, "events").select("event_id")
    payload = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            F.lit("t_meeting_info").alias("table"),
            F.lit("INSERT").alias("type"),
            F.lit(False).alias("isDdl"),
        )
    )
    lines = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 7 == 3,
            F.substring(payload, 1, F.length(payload) - F.lit(3)),
        )
        .when(
            F.col("event_id") % 7 == 5,
            F.to_json(F.struct(F.col("event_id").alias("event_id"))),
        )
        .otherwise(payload)
        .alias("value"),
    )

    def body(tmp: str) -> DataFrame:
        src = os.path.join(tmp, "in")
        good_dir, dead_dir = os.path.join(tmp, "good"), os.path.join(tmp, "quarantine")
        _write_chunks(lines, src, ["event_id"], fmt="text", redeliver="all")

        def route(batch_df: DataFrame, batch_id: int) -> None:
            # cache: good and dead are two plans over the same parse —
            # pay it once per batch (the split_dead_letters contract).
            batch_df.cache()
            try:
                good, dead = split_dead_letters(batch_df)
                good.select("id").write.mode("append").parquet(good_dir)
                dead.select("raw_value", "error").write.mode("append").parquet(dead_dir)
            finally:
                batch_df.unpersist()

        _drain(spark, tmp, _read(spark, src, "value STRING", "text").writeStream.foreachBatch(route))
        good = spark.read.schema("id LONG").parquet(good_dir)
        dead = spark.read.schema("raw_value STRING, error STRING").parquet(dead_dir)
        cls = good.agg(F.countDistinct("id").alias("n")).select(
            F.lit("good").alias("klass"), "n"
        ).unionByName(
            dead.groupBy(F.col("error").alias("klass")).agg(
                F.countDistinct("raw_value").alias("n")
            )
        )
        tot = cls.agg(F.sum("n").alias("t"))
        return cls.crossJoin(F.broadcast(tot)).select(
            "klass",
            F.col("n").cast("long").alias("n"),
            F.expr("CAST(n * 1000000 DIV t AS BIGINT)").alias("rate_ppm"),
        )

    return _replay(body)


# --- streaming state-metrics observability -----------------------------------
# The OPS half of state TTL: stream_stream_join_replay grades that
# watermark eviction produces correct OUTPUT; this grades the ENGINE'S
# OWN state counters — the progress-listener numbers (state rows
# total/updated/removed, per-batch watermark) an operator alarms on in
# production — against a closed-form oracle.
#
# Why the counters are deterministic and SQL-statable:
# * Micro-batch k (1..3) admits exactly tile k on each side
#   (one file per trigger per source, in-order mtimes), so
#   input_rows(k) = 2 * |tile k|; a final no-data batch 4 runs the
#   last eviction after the watermark's final advance.
# * The watermark USED in batch k is the one computed after batch k-1:
#   max event time over tiles 1..k-1 truncated to MILLISECONDS (the
#   engine tracks event-time stats in ms) minus the 30-minute delay;
#   epoch 0 for batch 1.
# * Join-state eviction follows the interval condition's exact
#   strictness (pinned by a boundary-exact probe, see
#   tests/test_state_metrics_law.py): a LEFT row is kept iff
#   l.ts >= wm - 1h (the match r.ts <= l.ts + 1h is NON-strict, so a
#   future right row at exactly wm can still match l at wm - 1h), and
#   a RIGHT row is kept iff r.ts > wm STRICTLY (the match r.ts > l.ts
#   is strict, so a right row at exactly wm can never match a future
#   left). Both sides replay the same events fixture, so the totals
#   are the sum of the two predicates over tiles 1..min(k, 3).
# * state_rows_updated(k) = input_rows(k) (every admitted row enters
#   one side's state store), and removals close the balance:
#   removed(k) = total(k-1) + updated(k) - total(k).
#
# 100 TB story: this is pure observability — the metrics ride the
# progress listener the engine already publishes per micro-batch; the
# graded frame is 4 rows however large the stream. The law the oracle
# states is the capacity-planning model for join state: rows held =
# interval span + watermark delay worth of BOTH sides, never stream
# history.
# Shared CTE prefix for ALL state-observability oracles (rows, memory
# and RocksDB twins): batch admission (e), per-tile stats (tiles), the
# watermark law (wm), and the interval-strictness state-retention law
# (st). One spelling — a change to the law cannot silently reach only
# one twin.
_SSJ_STATE_CTES = f"""
WITH e AS (
    SELECT epoch_us(ts) AS us,
           NTILE({_SSJ_CHUNKS}) OVER (ORDER BY ts, event_id) AS b
    FROM events
), tiles AS (
    SELECT b, CAST(COUNT(*) AS BIGINT) AS n, MAX(us) AS mx FROM e GROUP BY b
), wm AS (
    SELECT k,
           CASE WHEN k = 1 THEN 0
                ELSE (SELECT (MAX(mx) // 1000) * 1000 - 1800000000
                      FROM tiles WHERE b < k) END AS wm_us,
           COALESCE((SELECT 2 * n FROM tiles WHERE b = k), 0) AS input_rows
    FROM (SELECT unnest(range(1, {_SSJ_CHUNKS + 2})) AS k)
), st AS (
    SELECT w.k, w.wm_us, w.input_rows,
           (SELECT COUNT(*) FROM e
             WHERE e.b <= LEAST(w.k, {_SSJ_CHUNKS})
               AND e.us >= w.wm_us - 3600000000)
         + (SELECT COUNT(*) FROM e
             WHERE e.b <= LEAST(w.k, {_SSJ_CHUNKS})
               AND e.us > w.wm_us) AS total
    FROM wm w
)
"""

_SMR_ORACLE = _SSJ_STATE_CTES + """
SELECT CAST(k AS BIGINT) AS batch_seq,
       CAST(input_rows AS BIGINT) AS input_rows,
       CAST(wm_us // 1000 AS BIGINT) AS watermark_ms,
       CAST(total AS BIGINT) AS state_rows_total,
       CAST(input_rows AS BIGINT) AS state_rows_updated,
       CAST(COALESCE(LAG(total) OVER (ORDER BY k), 0) + input_rows - total
            AS BIGINT) AS state_rows_removed
FROM st
"""


@register(
    "stream_state_metrics_replay",
    tags=("ext", "streaming", "observability", "parity"),
    oracle=_SMR_ORACLE,
)
def stream_state_metrics_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-expired join-state metrics surfaced from the REAL
    engine's progress listener and graded row-for-row (the block
    comment above states the closed-form law and why it is exact).
    Runs the same production interval join replay as
    stream_stream_join_replay, then reads q.recentProgress — batch id,
    input rows, the batch's watermark, and the state operator's
    rows-total/updated/removed counters — into a 4-row frame the
    oracle must reproduce from the fixture alone. A counter drift
    (eviction not firing, state leak across batches, watermark stuck)
    breaks the hash even when the join OUTPUT is still correct —
    that's the observability gap this closes."""
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    ms = datetime.timedelta(milliseconds=1)

    def result(pairs: DataFrame, progress: list) -> DataFrame:
        rows = []
        for seq, p in enumerate(progress, start=1):
            so = p["stateOperators"][0]
            wm = datetime.datetime.fromisoformat(p["eventTime"]["watermark"])
            rows.append(
                (
                    seq,
                    int(p["numInputRows"]),
                    (wm - epoch) // ms,
                    int(so["numRowsTotal"]),
                    int(so["numRowsUpdated"]),
                    int(so["numRowsRemoved"]),
                )
            )
        return spark.createDataFrame(
            rows,
            "batch_seq LONG, input_rows LONG, watermark_ms LONG, "
            "state_rows_total LONG, state_rows_updated LONG, "
            "state_rows_removed LONG",
        )

    return _interval_join_replay(spark, sf_dir, result)


# --- streaming state-store memory/layout observability -----------------------
# The MEMORY half of the state-ops story: stream_state_metrics_replay
# grades the ROW counters; this grades the store-layout and memory-side
# counters an operator uses for capacity planning and spill detection
# on the exact same production replay.
#
# What is deterministic and therefore gradable (probed on the real
# progress payloads, see docs/ROUND13.md):
# * operator_name — the plan must carry a symmetricHashJoin state
#   operator (a plan rewrite that silently drops to a different
#   stateful operator breaks the hash).
# * n_shuffle_partitions = _STATE_PARTITIONS — the drain pins the state
#   store count; the progress payload must echo the configured value
#   (this is the number an operator multiplies by to size a cluster).
# * n_store_instances = 4 × _STATE_PARTITIONS — the symmetric hash join
#   keeps FOUR stores per partition (left/right × keyToNumValues/
#   keyWithIndexToValue). THE capacity-planning law: RocksDB instance
#   count scales with partitions, not stream length.
# * state_rows_total — the same closed-form watermark-eviction law
#   _SMR_ORACLE states (tiles admitted so far filtered by the interval
#   condition's exact strictness); re-graded here so the memory frame
#   is pinned to the row law, not free-floating.
# * rows_dropped_late = 0 — both replay sides are written in event
#   order, so the late-row counter must stay zero; a watermark
#   regression that starts dropping in-order rows breaks the hash.
# * cache_miss_count = 0 — with a healthy executor the HDFS-backed
#   store never reloads a map version from checkpoint files
#   (loadedMapCacheMissCount counts exactly those reloads); a nonzero
#   value is the cache-thrash/spill signal this query exists to alarm
#   on.
# * mem_used_positive / mem_current_le_used — memoryUsedBytes is
#   positive whenever the store holds rows, and the current-version
#   size (stateOnCurrentVersionSizeBytes) can never exceed the total
#   cached size (current ⊆ retained versions). The raw byte counts are
#   allocation-dependent, so the frame grades the INVARIANTS, not the
#   bytes.
#
# 100 TB story: pure observability — a 9-column × 4-row frame however
# large the stream; every law above is scale-free (instances = 4 ×
# partitions holds at 8 or 8000 partitions; miss-count 0 holds until
# executors churn, which is exactly when an operator wants the alarm).
_SMEM_ORACLE = _SSJ_STATE_CTES + f"""
SELECT CAST(k AS BIGINT) AS batch_seq,
       'symmetricHashJoin' AS operator_name,
       CAST({_STATE_PARTITIONS} AS BIGINT) AS n_shuffle_partitions,
       CAST({4 * _STATE_PARTITIONS} AS BIGINT) AS n_store_instances,
       CAST(total AS BIGINT) AS state_rows_total,
       CAST(0 AS BIGINT) AS rows_dropped_late,
       CAST(0 AS BIGINT) AS cache_miss_count,
       CAST(1 AS BIGINT) AS mem_used_positive,
       CAST(1 AS BIGINT) AS mem_current_le_used
FROM st
"""


@register(
    "stream_state_memory_replay",
    tags=("ext", "streaming", "observability", "parity"),
    oracle=_SMEM_ORACLE,
)
def stream_state_memory_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store memory/layout counters surfaced from the REAL
    engine's progress listener and graded row-for-row against the
    scale-free laws the block comment above states (instances = 4 ×
    partitions, zero late drops on an in-order replay, zero
    checkpoint reloads, current-version bytes ≤ cached bytes, and the
    same closed-form rows-total eviction law as
    stream_state_metrics_replay). Runs the production interval-join
    replay (ref parity: the state TTL/ops half of
    `Main.java`'s streaming pipeline, re-expressed on Structured
    Streaming's progress listener), then reads q.recentProgress into
    a 4-row frame. The raw byte counts are allocation-dependent, so
    the nondeterministic quantities are graded as INVARIANT indicator
    columns computed from the real counters — a memory-accounting
    regression (zero/negative memory, current > retained, a cache
    thrash, a store-layout change) breaks the hash even when join
    output and row counters are still correct."""

    def result(pairs: DataFrame, progress: list) -> DataFrame:
        rows = []
        for seq, p in enumerate(progress, start=1):
            so = p["stateOperators"][0]
            mem_used = int(so["memoryUsedBytes"])
            mem_current = int(so["customMetrics"]["stateOnCurrentVersionSizeBytes"])
            rows.append(
                (
                    seq,
                    str(so["operatorName"]),
                    int(so["numShufflePartitions"]),
                    int(so["numStateStoreInstances"]),
                    int(so["numRowsTotal"]),
                    int(so["numRowsDroppedByWatermark"]),
                    int(so["customMetrics"]["loadedMapCacheMissCount"]),
                    1 if mem_used > 0 else 0,
                    1 if mem_current <= mem_used else 0,
                )
            )
        return spark.createDataFrame(
            rows,
            "batch_seq LONG, operator_name STRING, n_shuffle_partitions LONG, "
            "n_store_instances LONG, state_rows_total LONG, "
            "rows_dropped_late LONG, cache_miss_count LONG, "
            "mem_used_positive LONG, mem_current_le_used LONG",
        )

    return _interval_join_replay(spark, sf_dir, result)


# --- streaming state-store observability on the RocksDB provider ------------
# The ops story across BOTH production store engines: the rows twin and
# memory twin above grade the default HDFS-backed provider; real
# deployments at state sizes that don't fit an executor heap run
# `spark.sql.streaming.stateStore.providerClass =
# RocksDBStateStoreProvider`. This twin runs the SAME
# `_interval_join_replay` under that provider and grades the
# provider-specific counters against scale-free laws (each probed on
# real progress payloads, see docs/ROUND14.md):
# * operator_name / n_shuffle_partitions / n_store_instances and the
#   closed-form state_rows_total eviction law — identical to the HDFS
#   twins. Swapping the store engine may not change join semantics,
#   row counters, or store layout; grading them again HERE is the
#   proof.
# * rows_dropped_late = 0 — in-order replay, same as the twins.
# * changelog_replay_files = 0 — with changelog checkpointing off
#   (the default) every commit writes a full snapshot, so a healthy
#   uninterrupted run never replays a changelog file; nonzero means
#   the store lineage was rebuilt mid-query (executor churn /
#   checkpoint corruption) — the recovery alarm.
# * writer_stall_ms = 0 — RocksDB write stalls fire on memtable /
#   compaction backlog, THE RocksDB-specific backpressure signal an
#   operator alarms on; any nonzero stall time on this bounded state
#   is a regression.
# * mem_used_positive / pinned_blocks_positive — memoryUsedBytes and
#   rocksdbPinnedBlocksMemoryUsage (block-cache index/filter pins)
#   are positive whenever stores hold rows; raw byte counts are
#   allocation-dependent, so the frame grades the INVARIANTS, not the
#   bytes (same posture as the memory twin).
# * snapshot_version_le_commit — every SnapshotLastUploaded.* version
#   in the payload is ≤ the batch's commit version (an upload can lag
#   maintenance, never come from the future).
#
# 100 TB story: pure observability — a fixed 4-row frame however large
# the stream; every law is scale-free (instances = 4 × partitions at 8
# or 8000 partitions; stall/replay zeros hold until backpressure or
# churn, exactly when the alarm should fire).
_SROCKS_ORACLE = _SSJ_STATE_CTES + f"""
SELECT CAST(k AS BIGINT) AS batch_seq,
       'symmetricHashJoin' AS operator_name,
       CAST({_STATE_PARTITIONS} AS BIGINT) AS n_shuffle_partitions,
       CAST({4 * _STATE_PARTITIONS} AS BIGINT) AS n_store_instances,
       CAST(total AS BIGINT) AS state_rows_total,
       CAST(0 AS BIGINT) AS rows_dropped_late,
       CAST(0 AS BIGINT) AS changelog_replay_files,
       CAST(0 AS BIGINT) AS writer_stall_ms,
       CAST(1 AS BIGINT) AS mem_used_positive,
       CAST(1 AS BIGINT) AS pinned_blocks_positive,
       CAST(1 AS BIGINT) AS snapshot_version_le_commit
FROM st
"""


@register(
    "stream_state_rocksdb_replay",
    tags=("ext", "streaming", "observability", "parity"),
    oracle=_SROCKS_ORACLE,
)
def stream_state_rocksdb_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store observability counters from the REAL engine running
    the production interval-join replay under the RocksDB state-store
    provider (`spark.sql.streaming.stateStore.providerClass`), graded
    row-for-row against the scale-free laws the block comment above
    states. Completes the ops story across both production store
    engines (ref parity: the state the reference's `Main.java:57`
    bounds with idle-state TTL lives in a pluggable Flink backend —
    heap or RocksDB; Spark's equivalent deployment switch is the
    state-store providerClass this query pins): the same harness,
    watermark law, and store-layout law
    as stream_state_metrics_replay / stream_state_memory_replay, plus
    the RocksDB-specific backpressure (write stalls), recovery
    (changelog replay), block-cache, and snapshot-upload counters. A
    provider regression — semantics drifting between store engines,
    a stall, a mid-query lineage rebuild, an upload from a future
    version — breaks the hash even when join output is still
    correct."""

    def result(pairs: DataFrame, progress: list) -> DataFrame:
        rows = []
        for seq, p in enumerate(progress, start=1):
            so = p["stateOperators"][0]
            cm = so["customMetrics"]
            snap_versions = [
                int(v) for k, v in cm.items() if k.startswith("SnapshotLastUploaded.")
            ]
            rows.append(
                (
                    seq,
                    str(so["operatorName"]),
                    int(so["numShufflePartitions"]),
                    int(so["numStateStoreInstances"]),
                    int(so["numRowsTotal"]),
                    int(so["numRowsDroppedByWatermark"]),
                    int(cm["rocksdbNumReplayChangelogFiles"]),
                    int(cm["rocksdbWriterStallLatencyMs"]),
                    1 if int(so["memoryUsedBytes"]) > 0 else 0,
                    1 if int(cm["rocksdbPinnedBlocksMemoryUsage"]) > 0 else 0,
                    1 if all(v <= seq for v in snap_versions) else 0,
                )
            )
        return spark.createDataFrame(
            rows,
            "batch_seq LONG, operator_name STRING, n_shuffle_partitions LONG, "
            "n_store_instances LONG, state_rows_total LONG, "
            "rows_dropped_late LONG, changelog_replay_files LONG, "
            "writer_stall_ms LONG, mem_used_positive LONG, "
            "pinned_blocks_positive LONG, snapshot_version_le_commit LONG",
        )

    return _interval_join_replay(spark, sf_dir, result, provider=_ROCKSDB_PROVIDER)
