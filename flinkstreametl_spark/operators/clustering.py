"""[EXT] One deterministic fixed-point Lloyd kernel, shared by k-means
and product quantization (PQ). K-means is PQ with one subspace:
``lloyd_fit`` splits every embedding into ``n_sub`` equal-width
subvectors and runs Lloyd in each subspace in the same jobs, and
``n_sub = 1`` is plain k-means over the whole vector (``kmeans_fit`` is
that view, with a ``[k, dim]`` centroid matrix and a long ``cluster``
column).

Users: the batch analytics plans (``plans/ml_ext.py`` —
``kmeans_cluster_sizes``, ``semantic_dedup_pairs``,
``ivf_kmeans_recall_curve``, ``semantic_cosine_histogram``,
``simplified_silhouette_by_cluster`` and, with 8 subspaces,
``pq_adc_recall``; ``plans/ann_ext.py`` — ``ann_index_staleness_audit``)
and the streaming ANN index maintenance (``streaming/ann_ingest.py``).

The reference engine has no ML kernels (its whole core is Flink wiring,
``Main.java``); this module exists for the LLM-pipeline tier the brief
demands: coarse and product quantizers for ANN indexes and semantic
clustering for corpus curation. The design constraint that shapes
everything here is DRIVER-ORACLE EXACTNESS: every accumulation is
2^-40 fixed point in int64, so the full Lloyd trajectory is
partition-order independent and replayable CTE-by-CTE in DuckDB
(``plans/ml_ext._kmeans_ctes`` and ``_pq_ctes``).

Scale shape: assignment is an Arrow-batched numpy kernel against the
centroids in the closure (n_sub x k x width floats) — never a shuffle
of (vector, centroid) pairs; centroid updates are one groupBy per
iteration; only n_sub x k x width means reach the driver per iteration.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkstreametl_spark.session import pin

#: Fixed-point scale (2^40) — the repo-wide determinism convention for
#: float folds that must hash-match a DuckDB oracle.
KM_FP = 1099511627776.0

DEFAULT_K = 8
DEFAULT_ITERS = 5

#: A ``[k, dim]`` centroid matrix as a frame: one row per cluster id.
CENTROIDS_SCHEMA = "cluster LONG, centroid ARRAY<DOUBLE>"


def fp_dists(M: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Fixed-point squared distances, int64 ``[rows, n_sub, k]``, from
    the rows of ``M`` (``rows x dim``) to every centroid of every
    subspace in ``cents`` (``n_sub x k x width``): per element
    ``floor((x-c)^2 * 2^40)``, summed as int64."""
    n_sub, _, width = cents.shape
    diff = M.reshape(-1, n_sub, 1, width) - cents[None, :, :, :]
    return np.floor(diff * diff * KM_FP).astype(np.int64).sum(axis=3)


def _nearest(M: np.ndarray, cents: np.ndarray) -> np.ndarray:
    # np.argmin takes the first minimum: ties go to the lowest code,
    # matching the oracle's ORDER BY dist, cluster.
    return np.argmin(fp_dists(M, cents), axis=2)


def _codes_udf(cents: np.ndarray):
    """The assignment kernel: an Arrow-batched pandas_udf giving every
    row its nearest code per subspace (``array<long>``, length n_sub)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def codes(emb_s):
        import pandas as pd

        M = np.array(emb_s.tolist(), dtype=np.float64)
        return pd.Series(list(_nearest(M, cents).astype(np.int64)))

    return codes


def _partials(cents: np.ndarray):
    """One Lloyd pass over a partition: assign every row, then emit one
    ``(sub, code, n, sums)`` row per non-empty cell, ``sums`` being the
    cell's Σ floor(val·2^40) per dimension as int64. The exchange
    carries partitions x n_sub x k parameter-sized rows, never the
    (vector, code) stream."""
    n_sub = cents.shape[0]
    subs = np.arange(n_sub)

    def partials(batches):
        import pandas as pd

        sums = np.zeros(cents.shape, dtype=np.int64)
        counts = np.zeros(cents.shape[:2], dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            cell = (subs, _nearest(M, cents))
            np.add.at(sums, cell, np.floor(M * KM_FP).astype(np.int64).reshape(len(M), n_sub, -1))
            np.add.at(counts, cell, 1)
        s, c = np.nonzero(counts)
        yield pd.DataFrame(
            {"sub": s, "code": c, "n": counts[s, c], "sums": [v.tolist() for v in sums[s, c]]}
        )

    return partials


def lloyd_fit(emb: DataFrame, k: int = DEFAULT_K, n_iters: int = DEFAULT_ITERS, n_sub: int = 1):
    """Lloyd's algorithm over the embedding table, per subspace,
    fully deterministic AND engine-exact: init = the k lowest vec_ids
    split into ``n_sub`` subvectors (no RNG), a fixed iteration count,
    assignment by ``fp_dists`` (ties to the lowest code), and centroid
    updates by the fixed-point mean double(Σ floor(v·2^40)) / 2^40 / n
    (the label_centroids scheme). An empty cell keeps its previous
    centroid. Integer sums are associative, so the whole trajectory is
    partition-order independent.

    Each iteration is one ``_partials`` pass and one global
    groupBy(sub, code, pos) over its exploded partial sums.

    Returns ``(cents, codes_fn)``: the ``[n_sub, k, dim // n_sub]``
    centroids and a function adding a ``codes`` ``array<long>`` column
    (length n_sub) to a frame with an ``embedding`` column. Raises
    ``ValueError`` when ``n_sub`` does not divide the embedding dim.
    """
    # Every Lloyd iteration reads the input (Spark's KMeans caches it too).
    emb = pin(emb)
    init_rows = sorted(
        emb.orderBy("vec_id").limit(k).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    full = np.array([r.embedding for r in init_rows], dtype=np.float64)
    dim = full.shape[1]
    if dim % n_sub:
        raise ValueError(f"n_sub={n_sub} does not divide the embedding dim {dim}")
    cents = full.reshape(len(full), n_sub, dim // n_sub).transpose(1, 0, 2).copy()

    emb_only = emb.select("embedding")
    for _ in range(n_iters):
        means = (
            emb_only.mapInPandas(_partials(cents), schema="sub LONG, code LONG, n LONG, sums ARRAY<LONG>")
            .select("sub", "code", "n", F.posexplode("sums").alias("pos", "s"))
            .groupBy("sub", "code", "pos")
            .agg((F.sum("s").cast("double") / F.lit(KM_FP) / F.sum("n")).alias("m"))
            .collect()
        )
        cents = cents.copy()
        for r in means:
            cents[r.sub, r.code, r.pos] = r.m

    codes = _codes_udf(cents)

    def codes_fn(df: DataFrame) -> DataFrame:
        return df.withColumn("codes", codes(F.col("embedding")))

    return cents, codes_fn


def assign_to_centroids(
    df: DataFrame, c_mat: np.ndarray, *, col: str = "embedding", out: str = "cluster"
) -> DataFrame:
    """Attach the nearest row of the ``[k, dim]`` centroid matrix to
    every row as a long — the k-means view of the assignment kernel,
    and the streaming ingest path's whole per-batch compute (no refit,
    no shuffle)."""
    return df.withColumn(out, _codes_udf(c_mat[None])(F.col(col))[0])


def kmeans_fit(emb: DataFrame, k: int = DEFAULT_K, n_iters: int = DEFAULT_ITERS):
    """K-means: ``lloyd_fit`` with one subspace. Returns the ``[k, dim]``
    centroid matrix and a function adding the long ``cluster`` column."""
    cents, _ = lloyd_fit(emb, k, n_iters)
    c_mat = cents[0]
    return c_mat, lambda df: assign_to_centroids(df, c_mat)


def centroid_frame(spark: SparkSession, mat: np.ndarray) -> DataFrame:
    """The ``[k, dim]`` centroid matrix ``mat`` as a k-row
    ``CENTROIDS_SCHEMA`` frame, row i holding cluster i."""
    return spark.createDataFrame([(i, [float(x) for x in row]) for i, row in enumerate(mat)], CENTROIDS_SCHEMA)
