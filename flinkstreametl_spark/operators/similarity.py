"""[EXT] Similarity search over an embedding column (array<float>):
brute-force cosine top-k (the correctness baseline) and an LSH/IVF-style
bucketed variant (the 100 TB path). SURVEY.md §2.9 / north-star.

Two cosine implementations:

1. `knn_exact` — relational: posexplode + equi-join on position with
   FIXED-POINT accumulation: each double product is quantized to
   floor(x * 2^40) and summed as BIGINT. Integer sums are exact and
   associative, so results are partition-order independent and
   bit-identical to the DuckDB oracle (double->decimal casts are NOT
   portable — Spark rounds half-up, DuckDB differs at the last digit;
   floor() of an identical double is). Quantization error ~2^-40 per
   term. This is the *verifiable* path.
2. `cosine_col` / `cosine_col_fp` — higher-order functions (zip_with +
   aggregate) staying entirely inside one row: no explode blow-up, the
   *fast* path used in bench. The float fold (`cosine_col`) is not
   portable bit-wise; the fixed-point fold (`cosine_col_fp`, round 2)
   quantizes per element exactly like knn_exact, so the fast path and
   the IVF path are oracle-checkable too.

At cluster scale, brute-force k-NN is O(Q x N); `ivf_topk` prunes
candidates by coarse quantization (centroid assignment) — only the
nprobe nearest clusters are scanned, and the centroid table broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 2^40: fixed-point scale for exact cross-engine accumulation.
FP_SCALE = 1099511627776.0


def fp(x: F.Column) -> F.Column:
    """Quantize a double to fixed-point: floor(x * 2^40) as BIGINT."""
    return F.floor(x * F.lit(FP_SCALE)).cast("long")


def cosine_col(a, b) -> F.Column:
    """In-row cosine via higher-order functions (JVM, no Python)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    nb = F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    return dot / F.sqrt(na * nb)


def cosine_col_fp(a, b) -> F.Column:
    """In-row cosine with the SAME fixed-point quantization as
    knn_exact: per-element floor(x*y*2^40) summed as BIGINT inside the
    row, then double(dot)/sqrt(double(qq)·double(cc)). Integer folds
    are order-exact, so this equals the relational path bit-for-bit —
    the no-explode fast path, promoted from rows-only to oracle-backed
    (round 2)."""
    dot = dot_fp_col(a, b)
    na = self_norm_fp_col(a)
    nb = self_norm_fp_col(b)
    return dot.cast("double") / F.sqrt(na.cast("double") * nb.cast("double"))


def dot_fp_col(a, b) -> F.Column:
    """The dot-product half of ``cosine_col_fp``: Σ floor(x·y·2^40)
    folded in-row as BIGINT."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    zero = F.lit(0).cast("long")
    return F.aggregate(F.zip_with(ad, bd, lambda x, y: fp(x * y)), zero, lambda acc, x: acc + x)


def self_norm_fp_col(a) -> F.Column:
    """Σ floor(x²·2^40) as BIGINT, folded in-row — the per-VECTOR half
    of ``cosine_col_fp``, exposed separately (r14 opt) so pair-scoring
    paths precompute each side's norm once per vector instead of once
    per pair: the pair stage then folds only the dot, a ~3x cut of the
    per-pair arithmetic at any scale where |pairs| >> |vectors|. Values
    are the exact integers ``cosine_col_fp`` folds internally, so
    ``cosine_from_fp(dot, qq, cc)`` is bit-identical to it."""
    ad = F.transform(a, lambda x: x.cast("double"))
    zero = F.lit(0).cast("long")
    return F.aggregate(F.transform(ad, lambda x: fp(x * x)), zero, lambda acc, x: acc + x)


def cosine_from_fp(dot, qq, cc) -> F.Column:
    """double(dot) / sqrt(double(qq)·double(cc)) — the final division
    of ``cosine_col_fp`` over precomputed fixed-point parts."""
    return dot.cast("double") / F.sqrt(qq.cast("double") * cc.cast("double"))


def _exploded(emb: DataFrame, id_alias: str) -> DataFrame:
    return emb.select(
        F.col("vec_id").alias(id_alias),
        F.posexplode("embedding").alias("pos", "val"),
    )


def knn_exact(emb: DataFrame, n_queries: int = 5, k: int = 5) -> DataFrame:
    """Brute-force cosine top-k for query vectors vec_id < n_queries,
    excluding self. Fixed-point-exact accumulation -> deterministic ranking.

    Plan: two narrow exploded relations joined on position, hash
    aggregate on (query, candidate); the query side is tiny so it
    broadcasts. 2000 vectors x 64 dims stays a few hundred k rows; at
    real scale swap in `ivf_topk`.
    """
    q = _exploded(emb.filter(F.col("vec_id") < n_queries), "query_id")
    c = _exploded(emb, "neighbor_id")
    prod = fp(F.col("q.val").cast("double") * F.col("c.val").cast("double"))
    qq = fp(F.col("q.val").cast("double") * F.col("q.val").cast("double"))
    cc = fp(F.col("c.val").cast("double") * F.col("c.val").cast("double"))
    pairs = (
        F.broadcast(q.alias("q"))
        .join(c.alias("c"), (F.col("q.pos") == F.col("c.pos")) & (F.col("q.query_id") != F.col("c.neighbor_id")))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(prod).alias("dot"), F.sum(qq).alias("qq"), F.sum(cc).alias("cc"))
    )
    cosine = F.col("dot").cast("double") / F.sqrt(F.col("qq").cast("double") * F.col("cc").cast("double"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        pairs.select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def knn_fast(emb: DataFrame, n_queries: int = 5, k: int = 5) -> DataFrame:
    """Same semantics as knn_exact via in-row HOF cosine: broadcast the
    query vectors, one pass over the candidates, no explode. Uses the
    fixed-point fold (cosine_col_fp), so scores are bit-identical to
    knn_exact and the query is oracle-checkable."""
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        self_norm_fp_col(F.col("embedding")).alias("qq"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        self_norm_fp_col(F.col("embedding")).alias("cc"),
    )
    pairs = F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_from_fp(
            dot_fp_col(F.col("q_emb"), F.col("c_emb")), F.col("qq"), F.col("cc")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def label_centroids(emb: DataFrame) -> DataFrame:
    """Coarse-quantizer centroids: elementwise mean embedding per label
    (IVF's cluster table; here the fixture `label` is the cluster id).
    Fixed-point-exact means keep it oracle-checkable."""
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    return (
        ex.groupBy("label", "pos")
        .agg(
            (F.sum(fp(F.col("val").cast("double"))).cast("double") / F.lit(FP_SCALE) / F.count(F.lit(1))).alias(
                "centroid_val"
            )
        )
    )


def ivf_probe_ranks(emb: DataFrame, n_queries: int = 5) -> DataFrame:
    """(query_id, q_emb, label, prb): every cluster ranked per query by
    centroid cosine (prb = 1 is the nearest). The shared front half of
    the IVF path — ``ivf_topk`` keeps ``prb <= nprobe``; the recall
    curve keeps all ranks and slices them per nprobe value. Both the
    centroid table and the query side broadcast (parameter-sized)."""
    cents = (
        label_centroids(emb)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))).alias("cs"))
        .select("label", F.transform("cs", lambda x: x["centroid_val"]).alias("centroid"))
    )
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.col("c_score").desc(), "label")
    return (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .select("query_id", "q_emb", "label", cosine_col_fp(F.col("q_emb"), F.col("centroid")).alias("c_score"))
        .withColumn("prb", F.row_number().over(probe_w))
        .select("query_id", "q_emb", "label", "prb")
    )


def ivf_topk(emb: DataFrame, n_queries: int = 5, k: int = 5, nprobe: int = 3) -> DataFrame:
    """IVF-style ANN: score each query against the (broadcast) centroid
    table, keep the nprobe nearest clusters, then run exact cosine only
    against candidates in those clusters. Output schema matches
    knn_exact; recall < 1 by construction (tests measure it). Both the
    probe ranking and the candidate scores use the fixed-point fold
    (cosine_col_fp), so the whole ANN decision path — which clusters
    are probed AND how candidates rank — is bit-exact and
    oracle-checkable (round 2)."""
    probes = (
        ivf_probe_ranks(emb, n_queries)
        .filter(F.col("prb") <= nprobe)
        .select("query_id", "q_emb", self_norm_fp_col(F.col("q_emb")).alias("qq"), "label")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        self_norm_fp_col(F.col("embedding")).alias("cc"),
        F.col("label"),
    )
    # panel is n_queries×nprobe rows; must be the build side; Catalyst misestimates the windowed crossJoin
    cand = F.broadcast(probes).join(c, "label").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_from_fp(
            dot_fp_col(F.col("q_emb"), F.col("c_emb")), F.col("qq"), F.col("cc")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
