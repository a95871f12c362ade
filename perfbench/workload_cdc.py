"""The CDC workloads. Both run the reference job through the engine's
public functions: file stream source -> ``enriched_meetings`` (parse,
F1 filter, flatten, broadcast enrich) -> ``foreachBatch`` into a
``KeyedParquetUpsertSink``.

- ``cdc_backlog``: closed loop. A seeded backlog is drained in a few
  large micro-batches, again and again for the run's seconds.
- ``cdc_live``: open loop. A generator thread drops one small file at a
  time on a fixed schedule onto a pre-populated keyed table.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass
from urllib.parse import urlparse

import canal
import pyarrow.parquet as pq
import suite
from harness import Bench, log, noop, pct
from pyspark.sql import functions as F
from tracing import StateProgressRecorder

from flinkstreametl_spark.operators.cdc import cdc_event_filter, ingest_meeting_stream, parse_envelope
from flinkstreametl_spark.sources.cdc import read_cdc_file_batch, read_cdc_file_stream
from flinkstreametl_spark.streaming.pipeline import enriched_meetings
from flinkstreametl_spark.streaming.sinks import KeyedParquetUpsertSink

KEY, ORDER = ["meeting_id"], ["_es", "_ts"]
SECONDS_PER_DRAIN = 5  # a 10 s run makes 2 drains


@dataclass(frozen=True)
class Sizes:
    backlog: int = 24_000  # envelopes per drain
    file_envelopes: int = 500
    batch_files: int = 24  # files per micro-batch: 2 batches of 12K envelopes
    warm: int = 2_000  # envelopes of the set-up drain
    live_rows: int = 50_000  # pre-populated keyed table
    live_interval_ms: int = 150  # one file due every interval
    live_file_envelopes: int = 20  # 133 envelopes/s offered


FULL = Sizes()
TINY = Sizes(backlog=1_500, file_envelopes=250, batch_files=3, warm=500, live_rows=2_000, live_file_envelopes=5)


class Committer:
    """The foreachBatch target: the sink's ``process_batch`` plus the time
    each batch became visible. Traced, it also records a span and the
    size of the table each batch rewrote."""

    def __init__(self, sink: KeyedParquetUpsertSink, tracer=None, parent: int | None = None):
        self.sink, self.tracer, self.parent = sink, tracer, parent
        self.visible: dict[int, float] = {}
        self.batches: list[dict] = []
        self._committed = threading.Condition()
        self.run_id = ""  # the run id of the query that calls it

    def process_batch(self, df, batch_id: int) -> None:
        t0 = time.perf_counter()
        self.sink.process_batch(df, batch_id)
        t1 = time.perf_counter()
        with self._committed:
            self.visible[batch_id] = t1
            self._committed.notify_all()
        if self.tracer is not None:
            self.tracer.add("streaming.sinks.process_batch", t0, t1, self.parent, batch_id=batch_id)
            files = [os.path.join(self.sink.path, f) for f in os.listdir(self.sink.path)]
            self.batches.append({
                "ms": (t1 - t0) * 1e3,
                "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files if f.endswith(".parquet")),
                "bytes": sum(os.path.getsize(f) for f in files),
            })

    def wait(self, batches: int, query) -> None:
        """Block until ``batches`` batches have committed; raises if the
        query stopped first."""
        with self._committed:
            while len(self.visible) < batches:
                if not query.isActive:
                    raise query.exception() or RuntimeError("query stopped")
                self._committed.wait(0.05)

    def sink_metrics(self, upserted: int) -> dict[str, float]:
        """``upserted``: keys the batches touched, counted from the input."""
        ms = [b["ms"] for b in self.batches]
        rows = sum(b["rows"] for b in self.batches)
        return {
            "streaming.sinks.upsert_s": sum(ms) / 1e3,
            "streaming.sinks.upsert_ms_p50": statistics.median(ms) if ms else 0.0,
            "streaming.sinks.rows_written": rows,
            "streaming.sinks.write_amplification": rows / upserted if upserted else 0.0,
            "streaming.sinks.bytes_written": sum(b["bytes"] for b in self.batches),
        }


def start_stream(spark, src: str, dim_path: str, committer: Committer, ckpt: str):
    """The reference job over the files under ``src``, on the default
    trigger."""
    out = enriched_meetings(read_cdc_file_stream(spark, src), spark.read.parquet(dim_path), types=canal.KEPT_TYPES)
    return out.writeStream.foreachBatch(committer.process_batch).option("checkpointLocation", ckpt).start()


def await_idle(query, timeout: float = 60.0) -> None:
    """Wait until the query has started and is polling for data."""
    deadline = time.perf_counter() + timeout
    while not query.status["message"].startswith("Waiting for"):
        if time.perf_counter() > deadline:
            raise TimeoutError(f"stream not idle: {query.status}")
        time.sleep(0.05)


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's offset log."""
    log_dir = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(urlparse(entry["path"]).path)] = entry["batchId"]
    return out


def write_backlog(path: str, envelopes: list[dict], per_file: int, per_batch: int) -> tuple[list[str], list[str]]:
    """Write ``envelopes`` as files in envelope order, ``per_batch`` files
    to a chunk directory (one micro-batch each); returns the chunk
    directories and the file names."""
    chunks, names = [], []
    for i in range(-(-len(envelopes) // per_file)):
        if i % per_batch == 0:
            chunks.append(os.path.join(path, f"c{len(chunks):03d}"))
            os.makedirs(chunks[-1])
        names.append(f"part-{i:05d}.json")
        canal.write_lines(os.path.join(chunks[-1], names[-1]), envelopes[i * per_file:(i + 1) * per_file])
    return chunks, names


class Inputs:
    """The seeded dimension, shared by both CDC workloads."""

    def __init__(self, bench: Bench):
        rows = canal.make_dim(random.Random(bench.seed))
        self.dim = {r[0]: r for r in rows}
        self.dim_path = os.path.join(bench.work, "dim.parquet")
        canal.write_dim(rows, self.dim_path)


def drain(bench: Bench, chunks: list[str], dim_path: str, parent: int | None = None):
    """Drain the backlog ``chunks`` into a fresh table, one micro-batch a
    chunk: a linked copy of each chunk directory is moved into the
    watched directory as soon as the batch before it has committed.
    Returns (start, committer, table path, file -> batch) or raises if
    the query failed."""
    watch, staging = bench.fresh_dir("watch"), bench.fresh_dir("staging")
    staged = []
    for chunk in chunks:
        staged.append(os.path.join(staging, os.path.basename(chunk)))
        os.makedirs(staged[-1])
        for name in os.listdir(chunk):
            os.link(os.path.join(chunk, name), os.path.join(staged[-1], name))
    table = os.path.join(bench.fresh_dir("table"), "t")
    ckpt = bench.fresh_dir("ckpt")
    committer = Committer(KeyedParquetUpsertSink(table, KEY, ORDER), bench.tracer if parent is not None else None, parent)
    query = start_stream(bench.spark, os.path.join(watch, "*"), dim_path, committer, ckpt)
    committer.run_id = str(query.runId)
    try:
        await_idle(query)
        t0 = time.perf_counter()
        for i, chunk in enumerate(staged):
            os.rename(chunk, os.path.join(watch, os.path.basename(chunk)))
            committer.wait(i + 1, query)
        query.processAllAvailable()  # the last batch's commit log and progress event
    finally:
        query.stop()
    return t0, committer, table, file_batches(ckpt)


def warm_drain(bench: Bench, inputs: Inputs, sizes: Sizes):
    """The set-up unit of both CDC workloads: one small drain in two
    batches, so that the sink's merge into an existing table (the second
    batch's path) is warm before anything is timed."""
    files = -(-sizes.warm // sizes.file_envelopes)
    chunks, _ = write_backlog(bench.fresh_dir("warm-in"), canal.backlog(bench.seed + 1, sizes.warm),
                              sizes.file_envelopes, max(1, files // 2))
    return lambda spark: drain(bench, chunks, inputs.dim_path)


def layer_passes(bench: Bench, src: str, dim_path: str, reps: int = 2) -> dict[str, float]:
    """Batch passes over the same files into ``noop``: read, +parse,
    +filter/flatten/project, +enrich. Differences of the medians give
    each layer's time."""
    spark, tracer = bench.spark, bench.tracer
    raw = read_cdc_file_batch(spark, src)
    enriched = enriched_meetings(raw, spark.read.parquet(dim_path), types=canal.KEPT_TYPES)
    steps = {
        "sources.cdc.read_cdc_file_batch": raw,
        "operators.cdc.parse_envelope": parse_envelope(raw),
        "operators.cdc.ingest_meeting_stream": ingest_meeting_stream(raw, types=canal.KEPT_TYPES),
        "streaming.pipeline.enriched_meetings": enriched,
    }
    t = {}
    for name, df in steps.items():
        samples = []
        for _ in range(reps):
            with tracer.span(name) as sp:
                noop(df)
            samples.append(sp.seconds)
        t[name] = statistics.median(samples)
    read, parse, ingest, enrich = t.values()
    offered = raw.count()
    kept = parse_envelope(raw).filter(cdc_event_filter(types=canal.KEPT_TYPES)).count()
    rows, matched = enriched.agg(F.count(F.lit(1)), F.count("meetingroom_id")).first()
    return {
        "operators.cdc.parse_s": parse - read,
        "operators.cdc.ingest_s": ingest - parse,
        "operators.cdc.keep_ratio": kept / offered,
        "operators.joins.enrich_s": enrich - ingest,
        "operators.joins.match_ratio": matched / rows if rows else 0.0,
    }


def traced_stream_metrics(recorder: StateProgressRecorder, envelopes: int) -> dict[str, float]:
    s = recorder.summary()
    return {
        "sources.cdc.rows_read": s["rows_read"],
        "sources.cdc.read_amplification": s["rows_read"] / envelopes,
        "sources.cdc.get_batch_ms": s["get_batch_ms"],
        "streaming.batches": s["batches"],
        "streaming.trigger_ms_p50": s["trigger_ms_p50"],
        "streaming.overhead_ms": s["overhead_ms"],
        "streaming.state_commit_ms": s["state_commit_ms"],
        "streaming.state_rows": s["state_rows"],
        "streaming.no_data_batches": s["no_data_batches"],
    }


def session_metrics(bench: Bench, run_id: str, skip: int) -> dict[str, float]:
    """Stage totals and Python-node metrics of the jobs of the stream
    with ``run_id``; a stream's jobs are all action, none construction."""
    store = bench.status()
    jobs = store.group_jobs(run_id)
    out = {f"session.action.{k}": v for k, v in store.stage_totals(jobs).items()}
    out.update({f"operators.python.{k}": v for k, v in store.python_nodes(jobs, skip).items()})
    return out


def keys_upserted(batch_of: dict[str, int], files: dict[str, list[dict]]) -> int:
    """Keys each micro-batch upserts or deletes, summed over batches,
    counted from the generated envelopes of the files in each batch."""
    keys: dict[int, set] = {}
    for name, envelopes in files.items():
        batch = keys.setdefault(batch_of[name], set())
        for e in envelopes:
            if not e["isDdl"] and e["table"] == canal.TARGET_TABLE and e["type"] in canal.KEPT_TYPES:
                batch.update(row["id"] for row in e["data"])
    return sum(len(k) for k in keys.values())


def traced(bench: Bench, run, envelopes: int):
    """Run ``run(parent_span)`` once with the progress recorder attached;
    returns its result and the stream and session metrics of the run."""
    recorder = StateProgressRecorder()
    bench.spark.streams.addListener(recorder)
    store = bench.status()
    store.wait_for_events()
    skip = store.executions()
    try:
        with bench.tracer.span(f"workload.{bench.workload}") as sp:
            result = run(sp.id)
        store.wait_for_events()  # the last progress event, every job's end
    finally:
        bench.spark.streams.removeListener(recorder)
    if result is None:
        return None, {}
    session = session_metrics(bench, result["committer"].run_id, skip)
    return result, {**traced_stream_metrics(recorder, envelopes), **session}


# ---------------------------------------------------------------------------
# cdc_backlog
# ---------------------------------------------------------------------------


def cdc_backlog(bench: Bench, tiny: bool) -> None:
    sizes = TINY if tiny else FULL
    inputs = Inputs(bench)
    setup_s = bench.set_up(warm_drain(bench, inputs, sizes))
    envelopes = canal.backlog(bench.seed, sizes.backlog)
    src = bench.fresh_dir("backlog")
    chunks, names = write_backlog(src, envelopes, sizes.file_envelopes, sizes.batch_files)
    expected = canal.reference(envelopes, inputs.dim)
    per_file = {n: envelopes[i * sizes.file_envelopes:(i + 1) * sizes.file_envelopes] for i, n in enumerate(names)}

    def measure(parent: int | None = None) -> dict | None:
        try:
            t0, committer, table, batch_of = drain(bench, chunks, inputs.dim_path, parent)
        except Exception as exc:  # a failed drain is a failed operation
            bench.check("backlog drain", [f"{type(exc).__name__}: {exc}"])
            return None
        end = max(committer.visible.values())
        fresh = [(committer.visible[batch_of[n]] - t0) * 1e3 for n in names]
        bench.check("backlog drain table", canal.diff(canal.read_table(table), expected))
        return {"drain_s": end - t0, "events_per_s": len(envelopes) / (end - t0), "fresh": fresh,
                "committer": committer, "batch_of": batch_of}

    if bench.tracer is None:
        drains = []
        # A fixed number of drains per run length: the later drains of a
        # run are warmer, so a count that depended on how fast the first
        # ones went would split runs into two groups.
        for _ in range(max(1, round(bench.seconds / SECONDS_PER_DRAIN))):
            r = measure()
            if r is None:
                return
            drains.append(r)
            log(f"drain {len(drains)}: {r['drain_s']:.3f}s {r['events_per_s']:.0f} envelopes/s")
        bench.put("setup_s", setup_s)
        bench.put("events_per_s", statistics.median(d["events_per_s"] for d in drains))
        bench.put("freshness_p50_ms", statistics.median(pct(d["fresh"], 50) for d in drains))
        bench.put("freshness_p90_ms", statistics.median(pct(d["fresh"], 90) for d in drains))
        return

    # Traced: one traced drain between two untraced ones.
    before = measure()
    t, layer = traced(bench, measure, len(envelopes))
    after = measure()
    if None in (before, t, after):
        return
    sink = t["committer"].sink_metrics(keys_upserted(t["batch_of"], per_file))
    for k, v in {**layer, **sink, **layer_passes(bench, os.path.join(src, "*"), inputs.dim_path)}.items():
        bench.put(k, v)
    bench.put("harness.trace_overhead_pct", (t["drain_s"] / statistics.mean((before["drain_s"], after["drain_s"])) - 1) * 100)
    bench.put("harness.canary_s", bench.canary_s())
    suite.traced_queries(bench, tiny)


# ---------------------------------------------------------------------------
# cdc_live
# ---------------------------------------------------------------------------


def live_schedule(bench: Bench, inputs: Inputs, sizes: Sizes, snapshot: dict, files: list[list[dict]],
                  parent: int | None = None) -> dict | None:
    """One open-loop schedule onto a fresh copy of the pre-populated
    table. File j is due at t0 + j * interval, whatever the engine does."""
    interval = sizes.live_interval_ms / 1e3
    table = os.path.join(bench.fresh_dir("live-table"), "t")
    canal.write_table(snapshot, table)
    watch, staging, ckpt = bench.fresh_dir("live-in"), bench.fresh_dir("live-staging"), bench.fresh_dir("live-ckpt")
    payload = ["".join(canal.dumps(e) + "\n" for e in f) for f in files]
    committer = Committer(KeyedParquetUpsertSink(table, KEY, ORDER), bench.tracer if parent is not None else None, parent)
    query = start_stream(bench.spark, watch, inputs.dim_path, committer, ckpt)
    committer.run_id = str(query.runId)
    written = [0.0] * len(files)
    try:
        await_idle(query)
        t0 = time.perf_counter() + 0.2

        errors: list[BaseException] = []

        def generate() -> None:
            try:
                for j, text in enumerate(payload):
                    delay = t0 + j * interval - time.perf_counter()
                    if delay > 0:
                        time.sleep(delay)
                    tmp = os.path.join(staging, f"f{j:05d}.json")
                    with open(tmp, "w") as fh:
                        fh.write(text)
                    os.rename(tmp, os.path.join(watch, f"f{j:05d}.json"))
                    written[j] = time.perf_counter()
            except BaseException as exc:  # re-raised on the caller's thread
                errors.append(exc)

        generator = threading.Thread(target=generate, name="perfbench-generator")
        generator.start()
        generator.join()
        if errors:
            raise errors[0]
        query.processAllAvailable()
    except Exception as exc:  # a failed schedule is a failed operation
        bench.check("live schedule", [f"{type(exc).__name__}: {exc}"])
        return None
    finally:
        query.stop()
    end = t0 + len(files) * interval
    batch_of = file_batches(ckpt)
    visible = [committer.visible[batch_of[f"f{j:05d}.json"]] for j in range(len(files))]
    n_env = [len(f) for f in files]
    backlog_end = sum(n for n, v in zip(n_env, visible) if v > end)
    samples = [
        sum(n for n, w, v in zip(n_env, written, visible) if w <= c < v)
        for c in sorted(committer.visible.values()) if c <= end
    ]
    third = max(len(samples) // 3, 1)
    grew = len(samples) >= 3 and (
        statistics.mean(samples[-third:]) > 2 * statistics.mean(samples[:third]) + 2 * sizes.live_file_envelopes
    )
    bench.check("live schedule backlog", [f"backlog grew: {samples}"] if grew else [])
    expected = canal.reference([e for f in files for e in f], inputs.dim, initial=snapshot)
    bench.check("live table", canal.diff(canal.read_table(table), expected))
    last = max(visible)
    return {
        "fresh": [(v - (t0 + j * interval)) * 1e3 for j, v in enumerate(visible)],
        "late": [(w - (t0 + j * interval)) * 1e3 for j, w in enumerate(written)],
        "backlog_end": backlog_end,
        "events_per_s": sum(n_env) / (last - t0),
        "watch": watch,
        "committer": committer,
        "upserted": keys_upserted(batch_of, {f"f{j:05d}.json": f for j, f in enumerate(files)}),
    }


def cdc_live(bench: Bench, tiny: bool) -> None:
    sizes = TINY if tiny else FULL
    inputs = Inputs(bench)
    setup_s = bench.set_up(warm_drain(bench, inputs, sizes))
    snapshot = canal.snapshot(bench.seed, sizes.live_rows, inputs.dim)
    n_files = max(int(bench.seconds * 1000 // sizes.live_interval_ms), 3)
    files = canal.live_files(bench.seed, n_files, sizes.live_file_envelopes, sizes.live_interval_ms, sizes.live_rows)

    def schedule(parent: int | None = None) -> dict | None:
        return live_schedule(bench, inputs, sizes, snapshot, files, parent)

    if bench.tracer is None:
        r = schedule()
        if r is None:
            return
        log(f"live: p50 {pct(r['fresh'], 50):.0f}ms p90 {pct(r['fresh'], 90):.0f}ms "
            f"late p90 {pct(r['late'], 90):.1f}ms backlog_end {r['backlog_end']}")
        bench.put("setup_s", setup_s)
        bench.put("events_per_s", r["events_per_s"])
        bench.put("freshness_p50_ms", pct(r["fresh"], 50))
        bench.put("freshness_p90_ms", pct(r["fresh"], 90))
        return

    # Traced: one traced schedule between two untraced ones.
    before = schedule()
    t, layer = traced(bench, schedule, sum(len(f) for f in files))
    after = schedule()
    if None in (before, t, after):
        return
    sink = t["committer"].sink_metrics(t["upserted"])
    for k, v in {**layer, **sink, **layer_passes(bench, t["watch"], inputs.dim_path)}.items():
        bench.put(k, v)
    bench.put("harness.gen_late_ms_p90", pct(t["late"], 90))
    bench.put("harness.backlog_end_envelopes", t["backlog_end"])
    untraced = statistics.mean((pct(before["fresh"], 50), pct(after["fresh"], 50)))
    bench.put("harness.trace_overhead_pct", (pct(t["fresh"], 50) / untraced - 1) * 100)
    bench.put("harness.canary_s", bench.canary_s())
