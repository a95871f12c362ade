"""[EXT] Streaming ANN index maintenance: the IVF coarse-quantizer
index (plans/ml_ext.py ``ivf_kmeans_recall_curve``) kept live under a
continuous vector stream — the missing incremental story next to the
LSH band index (``streaming/neardup_ingest.py``).

The reference engine maintains no index (its core is Flink source→sink
wiring, ``Main.java:61-106``); this module is part of the LLM-pipeline
tier: a production similarity index is never re-fit per batch — new
vectors are assigned to the EXISTING centroids and appended to the
posting lists, and the index is re-fit only when enough arrivals have
accumulated that the stale partition costs recall (the drift that
``plans/ann_ext.ann_index_staleness_audit`` measures in-query).

Per micro-batch the job

    1. reads the live index version (``CURRENT`` pointer file);
    2. anti-joins the batch against already-indexed vec_ids
       (at-least-once redelivery dedup — embeddings are immutable per
       vec_id by contract, so id-level dedup is content-level dedup);
    3. assigns survivors to the persisted centroids with the SAME
       2^-40 fixed-point kernel the fit used
       (operators/clustering.py) — a broadcast k x dim matrix, no
       shuffle, cost ∝ batch;
    4. appends (vec_id, cluster, embedding) to the version's postings
       — the append is the COMMIT POINT: a crash before it replays the
       whole batch, a crash after it makes the replay a no-op.

Re-fit (``refit_index``/``maybe_refit``) writes centroids and fully
re-assigned postings as one new version through
``streaming/versioned.commit_version``, which owns the crash story:
centroids and postings never disagree (the hazard an in-place
two-directory swap would have).

State lives in storage, not executor memory: centroids are a k-row
parquet (a parameter table — collected and broadcast per batch),
postings are the parquet table the IVF search probes, partitioned by
cluster on compaction so nprobe pruning holds on disk.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from flinkstreametl_spark.operators.clustering import (
    CENTROIDS_SCHEMA,
    DEFAULT_ITERS,
    DEFAULT_K,
    assign_to_centroids,
    centroid_frame,
    kmeans_fit,
)
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.streaming.versioned import (
    commit_version,
    current_version,
    live_path,
    live_version,
    recover,
    start_state_loop,
)

CENTROIDS_SUBDIR = "centroids"
POSTINGS_SUBDIR = "postings"
META_FILE = "meta.json"

POSTINGS_SCHEMA = "vec_id LONG, cluster LONG, embedding ARRAY<DOUBLE>"

#: Re-fit when arrivals since the last fit exceed this fraction of the
#: fit-time corpus. 0.5 = re-fit at 1.5x growth — each re-fit is O(index)
#: so the amortized maintenance cost stays O(1) per ingested vector.
DEFAULT_REFIT_GROWTH = 0.5


def _write_version(spark: SparkSession, emb: DataFrame, vdir: str, k: int, n_iters: int) -> None:
    """Fit centroids on ``emb`` and materialize a complete version
    directory (centroids + postings + meta): the ``commit_version``
    callback."""
    cents_mat, assign_df = kmeans_fit(emb, k=k, n_iters=n_iters)
    cents = centroid_frame(spark, cents_mat)
    postings = assign_df(emb).select("vec_id", "cluster", "embedding")
    # Cluster-partitioned layout from birth so IVF probes prune files.
    postings.repartition(max(k, 1), "cluster").write.mode("overwrite").parquet(
        os.path.join(vdir, POSTINGS_SUBDIR)
    )
    cents.coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, CENTROIDS_SUBDIR))
    # Count what actually landed (one parquet-footer scan) rather than
    # recomputing the assignment UDF a second time.
    fit_n = spark.read.schema(POSTINGS_SCHEMA).parquet(
        os.path.join(vdir, POSTINGS_SUBDIR)
    ).count()
    with open(os.path.join(vdir, META_FILE), "w") as f:
        json.dump({"k": k, "n_iters": n_iters, "fit_n": int(fit_n)}, f)


def build_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    *,
    k: int = DEFAULT_K,
    n_iters: int = DEFAULT_ITERS,
) -> None:
    """Offline bootstrap: fit the coarse quantizer on the base corpus
    and commit it as v0 (or the next version if the dir already holds
    one — rebuild semantics)."""
    commit_version(
        index_dir,
        current_version(index_dir),
        lambda vdir: _write_version(spark, emb, vdir, k, n_iters),
    )


def load_meta(index_dir: str) -> dict:
    with open(live_path(index_dir, META_FILE)) as f:
        return json.load(f)


def load_centroids(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.schema(CENTROIDS_SCHEMA).parquet(live_path(index_dir, CENTROIDS_SUBDIR))


def load_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.schema(POSTINGS_SCHEMA).parquet(live_path(index_dir, POSTINGS_SUBDIR))


def _centroid_matrix(spark: SparkSession, index_dir: str):
    """Collect the k-row centroid table into the (k x dim) numpy matrix
    the assignment kernel broadcasts — a parameter-table pull, never
    data."""
    import numpy as np

    rows = sorted(load_centroids(spark, index_dir).collect(), key=lambda r: r.cluster)
    return np.array([r.centroid for r in rows], dtype=np.float64)


def process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_dir: str,
    *,
    refit_growth: float | None = DEFAULT_REFIT_GROWTH,
) -> None:
    """One micro-batch of index maintenance: dedupe, assign to the
    LIVE centroids, append to the live version's postings (the commit
    point), then re-fit if the growth threshold is crossed. Called from
    ``foreachBatch`` (or directly, for batch replay tests).

    Embeddings are immutable per vec_id (upstream contract: a re-embed
    gets a new vec_id), so the anti-join on vec_id is a complete
    redelivery dedup — the content-blind-batch-key hazard the shard
    writer had does not exist here."""
    recover(index_dir)
    batch_df = pin(batch_df.dropDuplicates(["vec_id"]))
    postings_path = live_path(index_dir, POSTINGS_SUBDIR)
    indexed = spark.read.schema(POSTINGS_SCHEMA).parquet(postings_path).select("vec_id")
    fresh = batch_df.select("vec_id", "embedding").join(indexed, "vec_id", "left_anti")
    assigned = assign_to_centroids(fresh, _centroid_matrix(spark, index_dir)).select(
        "vec_id", "cluster", "embedding"
    )
    assigned.write.mode("append").parquet(postings_path)  # commit point

    if refit_growth is not None:
        maybe_refit(spark, index_dir, growth=refit_growth)


def refit_index(spark: SparkSession, index_dir: str) -> None:
    """Re-fit the quantizer on everything indexed so far and commit it
    as the next version by ``commit_version``. Fit parameters carry
    over from the live meta."""
    live = live_version(index_dir)
    meta = load_meta(index_dir)
    emb = pin(load_postings(spark, index_dir).select("vec_id", "embedding"))
    commit_version(
        index_dir, live, lambda vdir: _write_version(spark, emb, vdir, meta["k"], meta["n_iters"])
    )


def staleness(spark: SparkSession, index_dir: str) -> float:
    """Fraction of the index appended since the live fit:
    (n_postings - fit_n) / fit_n. The refit trigger."""
    meta = load_meta(index_dir)
    n = load_postings(spark, index_dir).count()
    return (n - meta["fit_n"]) / max(meta["fit_n"], 1)


def maybe_refit(
    spark: SparkSession, index_dir: str, *, growth: float = DEFAULT_REFIT_GROWTH
) -> bool:
    """Re-fit when arrivals exceed ``growth`` x the fit-time corpus.
    Amortized O(1) per vector: each O(index) re-fit pays for the
    growth-fraction of appends that triggered it."""
    if staleness(spark, index_dir) >= growth:
        refit_index(spark, index_dir)
        return True
    return False


def run_ann_stream(
    spark: SparkSession,
    source_path: str,
    index_dir: str,
    *,
    refit_growth: float | None = DEFAULT_REFIT_GROWTH,
    available_now: bool = True,
):
    """Continuous index maintenance over a JSONL vector stream
    (``{"vec_id": ..., "embedding": [...]}``). ``available_now=True``
    drains existing files and stops (test/batch replay); ``False`` runs
    continuously (production)."""
    return start_state_loop(
        spark,
        source_path,
        "vec_id LONG, embedding ARRAY<DOUBLE>",
        index_dir,
        lambda df, bid: process_batch(df.sparkSession, df, index_dir, refit_growth=refit_growth),
        available_now=available_now,
    )
