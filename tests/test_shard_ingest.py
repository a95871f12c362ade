"""Streaming token-balanced sharding (streaming/shard_ingest.py): the
foreachBatch loop must place documents at globally consistent token
offsets across micro-batches, survive at-least-once redelivery and a
crash between the two state appends, and keep every closed shard's
token total inside the capacity law."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from flinkstreametl_spark.sources.parquet import load_table
from flinkstreametl_spark.streaming.shard_ingest import (
    ASSIGN_SUBDIR,
    TOTALS_SUBDIR,
    _ASSIGN_SCHEMA,
    _batch_key,
    _placed,
    process_batch,
    run_shard_stream,
)
from flinkstreametl_spark.streaming.versioned import read_or_empty

CAP = 500


def _docs_rows(spark, sf_dir, lo, hi):
    return (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .select("doc_id", "text")
        .collect()
    )


def _write_jsonl(path, rows):
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n")


def _state(spark, state_dir):
    a = read_or_empty(spark, os.path.join(state_dir, ASSIGN_SUBDIR), _ASSIGN_SCHEMA)
    t = read_or_empty(
        spark, os.path.join(state_dir, TOTALS_SUBDIR), "batch_key STRING, batch_tokens LONG, batch_docs LONG"
    )
    return a, t


def _check_invariants(spark, state_dir):
    """The laws every interleaving must preserve: one row per doc,
    totals == assignments (token accounting exact), and every CLOSED
    shard's token total within one document of the capacity (a doc
    straddling a boundary belongs to the shard its offset starts in,
    so the deviation bound is max_doc on either side — the same
    one-document bound as the batch operator; requires max_doc < CAP,
    true for these fixtures)."""
    a, t = _state(spark, state_dir)
    rows = a.collect()
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids)), "doc assigned twice"
    assert sum(r.batch_tokens for r in t.collect()) == sum(r.n_tokens for r in rows)
    by_shard = {}
    max_doc = max((r.n_tokens for r in rows), default=0)
    for r in rows:
        by_shard[r.shard] = by_shard.get(r.shard, 0) + r.n_tokens
    if by_shard:
        assert max_doc < CAP, "law precondition"
        last = max(by_shard)
        for s, tok in by_shard.items():
            if s != last:
                assert CAP - max_doc < tok < CAP + max_doc, (s, tok, max_doc)
    return rows


def test_stream_equals_sequential_batches(spark, sf_dir, tmp_path):
    rows = _docs_rows(spark, sf_dir, 0, 90)
    chunks = [rows[:30], rows[30:60], rows[60:]]

    src = tmp_path / "src"
    src.mkdir()
    for i, ch in enumerate(chunks):
        _write_jsonl(src / f"b{i}.jsonl", ch)
    sdir = str(tmp_path / "stream_state")
    q = run_shard_stream(spark, str(src), sdir, capacity=CAP)
    q.awaitTermination(120)

    bdir = str(tmp_path / "batch_state")
    for ch in chunks:
        df = spark.createDataFrame([(r.doc_id, r.text) for r in ch], "doc_id LONG, text STRING")
        process_batch(spark, df, bdir, capacity=CAP)

    got_s = sorted((r.doc_id, r.n_tokens, r.shard) for r in _check_invariants(spark, sdir))
    got_b = sorted((r.doc_id, r.n_tokens, r.shard) for r in _check_invariants(spark, bdir))
    assert got_s == got_b
    assert len(got_s) > 0


def test_redelivered_batch_is_noop_and_duplicates_skipped(spark, sf_dir, tmp_path):
    rows = _docs_rows(spark, sf_dir, 0, 60)
    sdir = str(tmp_path / "state")
    b1 = spark.createDataFrame([(r.doc_id, r.text) for r in rows[:30]], "doc_id LONG, text STRING")
    b2 = spark.createDataFrame([(r.doc_id, r.text) for r in rows[30:]], "doc_id LONG, text STRING")
    process_batch(spark, b1, sdir, capacity=CAP)
    before = sorted(map(tuple, _state(spark, sdir)[0].collect()))

    # whole-batch redelivery: exact no-op
    process_batch(spark, b1, sdir, capacity=CAP)
    assert sorted(map(tuple, _state(spark, sdir)[0].collect())) == before

    # partial overlap: a later batch re-delivers 10 docs of b1 plus b2's
    # content — the overlap is skipped, placement continues correctly
    mixed = spark.createDataFrame(
        [(r.doc_id, r.text) for r in rows[20:]], "doc_id LONG, text STRING"
    )
    process_batch(spark, mixed, sdir, capacity=CAP)
    final = _check_invariants(spark, sdir)
    assert {r.doc_id for r in final} == {r.doc_id for r in rows if len(r.text.split()) > 0}


def test_partial_assignments_commit_replay_reproduces_placement(spark, sf_dir, tmp_path):
    """ADVICE r7 item 1: a crash mid job-commit can leave only a SUBSET
    of the batch's assignment rows on disk. The replay must reproduce
    the crashed attempt's placement exactly (same offsets for every
    doc), never re-place the survivors at the orphans' offsets — the
    interleaving that let a closed shard reach ~2x capacity."""
    rows = _docs_rows(spark, sf_dir, 0, 90)
    sdir = str(tmp_path / "state")
    clean = str(tmp_path / "clean")
    b1 = spark.createDataFrame([(r.doc_id, r.text) for r in rows[:30]], "doc_id LONG, text STRING")
    b2 = spark.createDataFrame([(r.doc_id, r.text) for r in rows[30:]], "doc_id LONG, text STRING")
    for d in (sdir, clean):
        process_batch(spark, b1, d, capacity=CAP)

    # simulate the torn append: place b2 fully, but only HALF its rows
    # reach the assignments dir before the crash (totals never written)
    b2p = b2.dropDuplicates(["doc_id"]).localCheckpoint()
    key = _batch_key(b2p)
    a, t = _state(spark, sdir)
    start = t.agg(F.coalesce(F.sum("batch_tokens"), F.lit(0).cast("long"))).collect()[0][0]
    full = (
        _placed(b2p.join(a.select("doc_id"), "doc_id", "left_anti"), int(start), CAP)
        .withColumn("batch_key", F.lit(key))
        .localCheckpoint()
    )
    torn = full.orderBy("doc_id").limit(full.count() // 2).localCheckpoint()
    torn.write.mode("append").parquet(os.path.join(sdir, ASSIGN_SUBDIR))
    assert _state(spark, sdir)[1].filter(F.col("batch_key") == key).count() == 0

    # replay b2 against the torn state; run it cleanly in the twin dir
    process_batch(spark, b2, sdir, capacity=CAP)
    process_batch(spark, b2, clean, capacity=CAP)

    got = sorted((r.doc_id, r.n_tokens, r.shard) for r in _check_invariants(spark, sdir))
    want = sorted((r.doc_id, r.n_tokens, r.shard) for r in _check_invariants(spark, clean))
    assert got == want


def test_changed_text_redelivery_is_not_swallowed(spark, sf_dir, tmp_path):
    """ADVICE r7 item 2: the batch key fingerprints content, not just
    the doc_id set — a retry with the same ids but different text must
    take the normal path (distinct key, its own totals row), not the
    byte-identical no-op fast path."""
    rows = _docs_rows(spark, sf_dir, 0, 30)
    sdir = str(tmp_path / "state")
    b1 = spark.createDataFrame([(r.doc_id, r.text) for r in rows], "doc_id LONG, text STRING")
    changed = spark.createDataFrame(
        [(r.doc_id, r.text + " amended") for r in rows], "doc_id LONG, text STRING"
    )
    assert _batch_key(b1.localCheckpoint()) != _batch_key(changed.localCheckpoint())

    process_batch(spark, b1, sdir, capacity=CAP)
    process_batch(spark, changed, sdir, capacity=CAP)
    a, t = _state(spark, sdir)
    # placement is first-writer-wins per doc_id: no re-assignment...
    assert a.count() == a.select("doc_id").distinct().count()
    # ...but the changed-text batch is RECORDED (own totals row), not
    # silently dropped as a redelivery
    assert t.count() == 2
    _check_invariants(spark, sdir)


def test_crash_between_appends_recovers_exactly_once(spark, sf_dir, tmp_path):
    rows = _docs_rows(spark, sf_dir, 0, 60)
    sdir = str(tmp_path / "state")
    os.makedirs(sdir)
    b1 = spark.createDataFrame([(r.doc_id, r.text) for r in rows[:30]], "doc_id LONG, text STRING")
    b2 = spark.createDataFrame([(r.doc_id, r.text) for r in rows[30:]], "doc_id LONG, text STRING")
    process_batch(spark, b1, sdir, capacity=CAP)

    # simulate the crash: replicate process_batch's first half for b2 —
    # assignments append lands, the totals commit does not
    b2p = b2.dropDuplicates(["doc_id"]).localCheckpoint()
    key = _batch_key(b2p)
    a, t = _state(spark, sdir)
    start = t.agg(F.coalesce(F.sum("batch_tokens"), F.lit(0).cast("long"))).collect()[0][0]
    fresh = b2p.join(a.select("doc_id"), "doc_id", "left_anti")
    _placed(fresh, int(start), CAP).withColumn("batch_key", F.lit(key)).write.mode(
        "append"
    ).parquet(os.path.join(sdir, ASSIGN_SUBDIR))
    # totals does NOT have b2's row yet; assignments has orphans
    assert _state(spark, sdir)[1].filter(F.col("batch_key") == key).count() == 0

    # replay of b2 (at-least-once): must not re-assign, must commit the
    # orphans' tokens into the total exactly once
    process_batch(spark, b2, sdir, capacity=CAP)
    rows_after = _check_invariants(spark, sdir)

    # and the NEXT batch continues at the right global offset: its
    # first shard index must be consistent with the accounted total
    b3_rows = _docs_rows(spark, sf_dir, 60, 90)
    b3 = spark.createDataFrame([(r.doc_id, r.text) for r in b3_rows], "doc_id LONG, text STRING")
    process_batch(spark, b3, sdir, capacity=CAP)
    _check_invariants(spark, sdir)
    assert len(_state(spark, sdir)[0].collect()) > len(rows_after)
