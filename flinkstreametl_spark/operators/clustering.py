"""[EXT] Deterministic fixed-point K-Means primitives, shared by the
batch analytics plans (``plans/ml_ext.py`` — ``kmeans_cluster_sizes``,
``ivf_kmeans_recall_curve``, ``semantic_dedup_pairs``) and the streaming
ANN index maintenance (``streaming/ann_ingest.py``).

The reference engine has no ML kernels (its whole core is Flink wiring,
``Main.java``); this module exists for the LLM-pipeline tier the brief
demands: a coarse quantizer for IVF ANN indexes and semantic clustering
for corpus curation. The design constraint that shapes everything here
is DRIVER-ORACLE EXACTNESS: every accumulation is 2^-40 fixed point in
int64, so the full Lloyd trajectory is partition-order independent and
replayable CTE-by-CTE in DuckDB (``plans/ml_ext._kmeans_ctes``).

Scale shape: assignment is an Arrow-batched Pandas UDF against a
broadcast (k x dim) centroid matrix — never a shuffle of (vector,
centroid) pairs; centroid updates are one groupBy per iteration; only
k rows reach the driver per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flinkstreametl_spark.session import pin

#: Fixed-point scale (2^40) — the repo-wide determinism convention for
#: float folds that must hash-match a DuckDB oracle.
KM_FP = 1099511627776.0

DEFAULT_K = 8
DEFAULT_ITERS = 5


def kmeans_assign_udf(c_mat):
    """Arrow-batched assignment kernel: nearest centroid in ``c_mat``
    under the fixed-point squared distance (per-element
    ``floor((x-c)^2 * 2^40)`` summed as int64), ties broken by lowest
    cluster id (``np.argmin`` takes the first minimum, matching the
    oracle's ``ORDER BY dist, cluster``). The centroid matrix rides in
    the closure — k x dim floats broadcast to every executor."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def assign(emb_s):
        import pandas as pd

        M = np.array(emb_s.tolist(), dtype=np.float64)
        diff = M[:, None, :] - c_mat[None, :, :]
        d = np.floor(diff * diff * KM_FP).astype(np.int64).sum(axis=2)
        return pd.Series(np.argmin(d, axis=1).astype(np.int64))

    return assign


def assign_to_centroids(
    df: DataFrame, c_mat, *, col: str = "embedding", out: str = "cluster"
) -> DataFrame:
    """Attach the nearest-centroid id to every row — the streaming
    ingest path's whole per-batch compute (no refit, no shuffle)."""
    return df.withColumn(out, kmeans_assign_udf(c_mat)(F.col(col)))


def kmeans_fit(emb: DataFrame, k: int = DEFAULT_K, n_iters: int = DEFAULT_ITERS):
    """Lloyd's algorithm over the embedding table, fully deterministic
    AND engine-exact (round 2): init = the k lowest vec_ids (no RNG),
    fixed iteration count, and EVERY accumulation in 2^-40 fixed point —
    assignment distances are per-element floor((x-c)²·2^40) summed as
    int64 (ties broken by lowest cluster id), centroid updates are the
    fixed-point mean (double(Σ floor(v·2^40)) / 2^40 / n, the
    label_centroids scheme). Integer sums are associative, so the whole
    trajectory is partition-order independent and reproducible in
    DuckDB CTE-by-CTE (``plans/ml_ext._kmeans_ctes``).

    Assignment is an Arrow-batched mapInPandas pass (a (batch x k x
    dim) numpy kernel against the broadcast centroid matrix — k x dim
    floats in the closure, never a shuffle of pairs) that ALSO emits
    the per-partition fixed-point partial sums, so the per-iteration
    exchange carries partitions×k parameter-sized rows; one global
    groupBy finishes the mean and only k×dim values reach the driver
    per iteration. Returns (centroids ndarray, assign_fn).

    Empty clusters keep their previous centroid (standard Lloyd
    fallback), preserving determinism.
    """
    import numpy as np

    # Every Lloyd iteration reads the input (Spark's KMeans caches it too).
    emb = pin(emb)
    init_rows = sorted(
        emb.orderBy("vec_id").limit(k).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    cents = np.array([r.embedding for r in init_rows], dtype=np.float64)

    # Iteration shape (r14 opt, guide §2.3 "aggregate before you
    # shuffle"): assignment AND the per-cluster fixed-point sums are
    # fused into ONE Arrow-batched pass that emits k partial rows per
    # partition — (cluster, n, Σ floor(val·2^40) per dim as int64) —
    # instead of the former pandas_udf + posexplode(dim·N rows) + two
    # hash aggregates. The exchange then carries partitions×k tiny rows
    # rather than the partially-aggregated (cluster, pos) stream of the
    # exploded formulation, and one global groupBy(cluster, pos) over
    # the exploded partials (k·dim·partitions rows) finishes the mean.
    # Integer partial sums are associative, so totals — and therefore
    # the fixed-point mean double(Σ)/2^40/n — are bit-identical to the
    # old posexplode path under any partitioning.
    emb_only = emb.select("embedding")

    def _make_partials(c_mat):
        def partials(batches):
            import pandas as pd

            sums = np.zeros((k, c_mat.shape[1]), dtype=np.int64)
            counts = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                diff = M[:, None, :] - c_mat[None, :, :]
                d = np.floor(diff * diff * KM_FP).astype(np.int64).sum(axis=2)
                idx = np.argmin(d, axis=1)
                Mfp = np.floor(M * KM_FP).astype(np.int64)
                for c in range(k):
                    mask = idx == c
                    n = int(mask.sum())
                    if n:
                        sums[c] += Mfp[mask].sum(axis=0)
                        counts[c] += n
            live = [c for c in range(k) if counts[c]]
            yield pd.DataFrame(
                {
                    "cluster": [c for c in live],
                    "n": [int(counts[c]) for c in live],
                    "sums": [sums[c].tolist() for c in live],
                }
            )

        return partials

    for _ in range(n_iters):
        part = emb_only.mapInPandas(
            _make_partials(cents), schema="cluster LONG, n LONG, sums ARRAY<LONG>"
        )
        means = (
            part.select("cluster", "n", F.posexplode("sums").alias("pos", "s"))
            .groupBy("cluster", "pos")
            .agg(
                (
                    F.sum("s").cast("double") / F.lit(KM_FP) / F.sum("n")
                ).alias("m")
            )
            .collect()
        )
        new = cents.copy()
        for r in means:
            new[r.cluster][r.pos] = r.m
        cents = new

    final_assign = kmeans_assign_udf(cents)

    def assign_df(df: DataFrame) -> DataFrame:
        return df.withColumn("cluster", final_assign(F.col("embedding")))

    return cents, assign_df
