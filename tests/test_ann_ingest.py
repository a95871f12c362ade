"""Streaming ANN index maintenance (streaming/ann_ingest.py): the
foreachBatch loop over a JSONL vector stream must keep the parquet IVF
index equal to the batch recompute — arrivals assigned to the persisted
centroids with the exact fixed-point kernel, redeliveries no-oped, and
the growth-triggered re-fit committed atomically by version flip."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from flinkstreametl_spark.operators.clustering import assign_to_centroids, kmeans_fit
from flinkstreametl_spark.sources.parquet import load_table
from flinkstreametl_spark.streaming.ann_ingest import (
    build_index,
    load_centroids,
    load_meta,
    load_postings,
    maybe_refit,
    process_batch,
    refit_index,
    run_ann_stream,
    staleness,
)
from flinkstreametl_spark.streaming.versioned import (
    CURRENT_FILE,
    current_version,
    version_dir,
)

K, ITERS = 4, 2  # small fit so the whole suite stays in seconds


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def _assignments(df):
    return {(r.vec_id, r.cluster) for r in df.select("vec_id", "cluster").collect()}


def _write_jsonl(path, rows):
    with open(path, "w") as fh:
        for r in rows:
            fh.write(
                json.dumps({"vec_id": r.vec_id, "embedding": [float(x) for x in r.embedding]})
                + "\n"
            )


def test_ingest_matches_batch_assignment(spark, sf_dir, tmp_path):
    """Build on the base 60%, stream the rest in two batches with a
    redelivery: the postings must equal assigning EVERY vector to the
    base-fit centroids in one shot (and contain no duplicates)."""
    emb = _emb(spark, sf_dir).localCheckpoint()
    n = emb.count()
    cut = (n * 3) // 5
    base = emb.filter(F.col("vec_id") < cut)
    arrivals = sorted(
        emb.filter(F.col("vec_id") >= cut).collect(), key=lambda r: r.vec_id
    )
    idx = str(tmp_path / "ann")
    build_index(spark, base, idx, k=K, n_iters=ITERS)

    mid = len(arrivals) // 2
    b1 = spark.createDataFrame(arrivals[:mid], "vec_id LONG, embedding ARRAY<DOUBLE>")
    # second batch redelivers the whole first batch (at-least-once)
    b2 = spark.createDataFrame(
        arrivals[mid:] + arrivals[:mid], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    process_batch(spark, b1, idx, refit_growth=None)
    process_batch(spark, b2, idx, refit_growth=None)

    import numpy as np

    cents_rows = sorted(load_centroids(spark, idx).collect(), key=lambda r: r.cluster)
    c_mat = np.array([r.centroid for r in cents_rows], dtype=np.float64)
    expected = _assignments(assign_to_centroids(emb, c_mat))
    got = _assignments(load_postings(spark, idx))
    assert got == expected
    assert load_postings(spark, idx).count() == n  # no duplicate rows

    # the fit itself matches the library fit on the same base
    fit_mat, _ = kmeans_fit(base, k=K, n_iters=ITERS)
    assert np.array_equal(c_mat, fit_mat)


def test_stream_driver_equals_direct_batches(spark, sf_dir, tmp_path):
    """The Structured Streaming wiring (readStream -> foreachBatch)
    lands the same index as calling process_batch directly."""
    emb = _emb(spark, sf_dir).localCheckpoint()
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    base_rows, arrive_rows = rows[: len(rows) // 2], rows[len(rows) // 2 :]
    base = spark.createDataFrame(base_rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    src = tmp_path / "src"
    src.mkdir()
    mid = len(arrive_rows) // 2
    _write_jsonl(src / "a.jsonl", arrive_rows[:mid])
    _write_jsonl(src / "b.jsonl", arrive_rows[mid:] + arrive_rows[:3])  # tail redelivery

    idx_stream = str(tmp_path / "ann_stream")
    build_index(spark, base, idx_stream, k=K, n_iters=ITERS)
    q = run_ann_stream(spark, str(src), idx_stream, refit_growth=None)
    q.awaitTermination(120)

    idx_direct = str(tmp_path / "ann_direct")
    build_index(spark, base, idx_direct, k=K, n_iters=ITERS)
    for chunk in (arrive_rows[:mid], arrive_rows[mid:] + arrive_rows[:3]):
        process_batch(
            spark,
            spark.createDataFrame(chunk, "vec_id LONG, embedding ARRAY<DOUBLE>"),
            idx_direct,
            refit_growth=None,
        )

    assert _assignments(load_postings(spark, idx_stream)) == _assignments(
        load_postings(spark, idx_direct)
    )


def test_refit_versions_and_growth_trigger(spark, sf_dir, tmp_path):
    """staleness tracks appends; maybe_refit fires only past the
    threshold, bumps the version, reassigns everything to the NEW fit,
    and preserves the posting population."""
    emb = _emb(spark, sf_dir).localCheckpoint()
    n = emb.count()
    cut = n // 2
    base = emb.filter(F.col("vec_id") < cut)
    arrivals = emb.filter(F.col("vec_id") >= cut)
    idx = str(tmp_path / "ann")
    build_index(spark, base, idx, k=K, n_iters=ITERS)
    assert current_version(idx) == 0
    assert staleness(spark, idx) == 0.0
    assert not maybe_refit(spark, idx, growth=0.5)  # nothing arrived yet

    process_batch(spark, arrivals, idx, refit_growth=None)
    st = staleness(spark, idx)
    assert abs(st - (n - cut) / cut) < 1e-9
    assert not maybe_refit(spark, idx, growth=st + 0.1)  # under threshold
    assert current_version(idx) == 0

    assert maybe_refit(spark, idx, growth=st - 0.1)
    assert current_version(idx) == 1
    assert load_postings(spark, idx).count() == n
    assert load_meta(idx)["fit_n"] == n  # staleness resets against the new fit
    assert staleness(spark, idx) == 0.0

    # post-refit postings == a fresh full fit's assignment
    import numpy as np

    fit_mat, assign_df = kmeans_fit(emb, k=K, n_iters=ITERS)
    cents_rows = sorted(load_centroids(spark, idx).collect(), key=lambda r: r.cluster)
    assert np.array_equal(np.array([r.centroid for r in cents_rows]), fit_mat)
    assert _assignments(load_postings(spark, idx)) == _assignments(assign_df(emb))


def test_crash_before_flip_keeps_old_version_live(spark, sf_dir, tmp_path, torn_flip):
    """A refit that dies after writing v1 but BEFORE the CURRENT flip
    must leave v0 fully live; the orphan v1 is swept by the next batch
    and a later refit lands cleanly as v2... (version numbers advance,
    content is what matters)."""
    emb = _emb(spark, sf_dir).localCheckpoint()
    base = emb.filter(F.col("vec_id") % 2 == 0)
    idx = str(tmp_path / "ann")
    build_index(spark, base, idx, k=K, n_iters=ITERS)
    before = _assignments(load_postings(spark, idx))

    # crash the refit at the flip: v1 is written, CURRENT never moves
    with torn_flip(idx):
        refit_index(spark, idx)
    assert os.path.isdir(version_dir(idx, 1))
    assert current_version(idx) == 0  # pointer untouched -> v0 still live
    assert _assignments(load_postings(spark, idx)) == before

    # next micro-batch sweeps the orphan and appends normally
    arrivals = emb.filter(F.col("vec_id") % 2 == 1)
    process_batch(spark, arrivals, idx, refit_growth=None)
    assert not os.path.isdir(version_dir(idx, 1))
    assert load_postings(spark, idx).count() == emb.count()

    # a clean refit now commits (version bumps, pointer flips atomically)
    refit_index(spark, idx)
    assert current_version(idx) == 1
    assert os.path.exists(os.path.join(idx, CURRENT_FILE))
