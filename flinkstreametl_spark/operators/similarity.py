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

At cluster scale, brute-force k-NN is O(Q x N); IVF prunes candidates
by coarse quantization (centroid assignment) — only the nprobe nearest
clusters are scanned, and the centroid table broadcasts. One IVF kernel
(``ivf_scored``, the probe ranking and candidate scorer, and
``ivf_recall_curve``) serves the label-index serving path ``ivf_topk``
and every nprobe recall audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.session import pin

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


def top_k(scored: DataFrame, k: int, *keys: str) -> DataFrame:
    """The rows of ``scored`` ranked ``rk`` 1..k within each ``keys``
    group, by cosine descending and ties to the lower neighbor_id."""
    w = Window.partitionBy(*keys).orderBy(F.col("cosine").desc(), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


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
    return top_k(pairs.select("query_id", "neighbor_id", cosine.alias("cosine")), k, "query_id")


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
    return top_k(scored, k, "query_id")


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


def label_index(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The label IVF index over ``emb``: its centroid frame
    ``(cluster, centroid)``, the ``label_centroids`` means collected
    into one array per label, and its member frame ``(vec_id, embedding,
    cluster)``, with the fixture ``label`` as the cluster id."""
    cents = (
        label_centroids(emb)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))).alias("cs"))
        .select(F.col("label").alias("cluster"), F.transform("cs", lambda x: x["centroid_val"]).alias("centroid"))
    )
    return cents, emb.select("vec_id", "embedding", F.col("label").alias("cluster"))


# The IVF kernel. An index is a centroid frame (*g, cluster, centroid)
# and a member frame (*g, vec_id, embedding, cluster); the extra
# columns *g, when there are any, hold several indexes side by side and
# each value of them is probed, scored and counted on its own (the
# staleness audit's index_state).
AUDIT_QUERIES = 5  # recall audits query the vectors vec_id < 5
RECALL_K = 10  # and compare top-10 lists


def _index_keys(cents: DataFrame) -> list[str]:
    return [c for c in cents.columns if c not in ("cluster", "centroid")]


def ivf_scored(emb: DataFrame, cents: DataFrame, members: DataFrame, n_queries: int) -> DataFrame:
    """(*g, query_id, neighbor_id, prb, cosine): every member of every
    cluster scored against each query vector (vec_id < n_queries),
    other than the query itself, with the probe rank of its cluster
    attached. Every cluster is ranked for each query by centroid
    cosine, prb = 1 the nearest, ties to the lower cluster id; a filter
    on prb keeps the probed clusters, and Catalyst pushes it into the
    probe panel, below the candidate join. The query side and the
    centroid frame are parameter-sized and both broadcast. Per-vector
    self-norms are folded once per side, so the candidate stage folds
    only the dot (bit-identical to ``cosine_col_fp``)."""
    g = _index_keys(cents)
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        self_norm_fp_col(F.col("embedding")).alias("qq"),
    )
    probe_w = Window.partitionBy(*g, "query_id").orderBy(F.col("c_score").desc(), "cluster")
    ranks = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .select(*g, "query_id", "q_emb", "qq", "cluster", cosine_col_fp("q_emb", "centroid").alias("c_score"))
        .withColumn("prb", F.row_number().over(probe_w))
    )
    c = members.select(
        *g,
        "cluster",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        self_norm_fp_col(F.col("embedding")).alias("cc"),
    )
    # panel is |g|×queries×clusters rows; must be the build side; Catalyst misestimates the windowed crossJoin
    return (
        F.broadcast(ranks)
        .join(c, [*g, "cluster"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            *g,
            "query_id",
            "neighbor_id",
            "prb",
            cosine_from_fp(dot_fp_col(F.col("q_emb"), F.col("c_emb")), F.col("qq"), F.col("cc")).alias("cosine"),
        )
    )


def ivf_topk(emb: DataFrame, n_queries: int = 5, k: int = 5, nprobe: int = 3) -> DataFrame:
    """IVF-style ANN over the label index: probe the nprobe nearest
    label centroids, then rank exact cosine among the members of those
    clusters only. Output schema matches knn_exact; recall < 1 by
    construction (tests measure it). Both the probe ranking and the
    candidate scores use the fixed-point fold, so the whole ANN
    decision path — which clusters are probed AND how candidates rank —
    is bit-exact and oracle-checkable."""
    cents, members = label_index(emb)
    scored = ivf_scored(emb, cents, members, n_queries).filter(F.col("prb") <= nprobe)
    return top_k(scored.drop("prb"), k, "query_id")


def ivf_recall_curve(emb: DataFrame, cents: DataFrame, members: DataFrame, nprobes: list[int]) -> DataFrame:
    """(*g, nprobe, n_candidates, n_overlap, recall_at_10): for each
    nprobe, how many candidates the probe-pruned scan touches and how
    many of the exact cosine top-RECALL_K of the AUDIT_QUERIES query
    vectors its own top-RECALL_K recovers, counted over all queries.

    The scored set is pinned once and every nprobe is a filter and
    re-rank of it, so widening the curve adds window work, not another
    scan. The exact top-k is derived from the same set: every cluster
    is ranked for every query, so the set holds every (query, member)
    cosine as long as membership is total, each vector in one cluster
    of each index. A null cluster id would drop its vector from both
    the candidates and the truth, and inflate recall. The ordering keys
    and integer folds are knn_fast's, so the derived set is knn_fast's.
    The nprobe that covers every cluster therefore reads recall 1.0."""
    g = _index_keys(cents)
    scored = pin(ivf_scored(emb, cents, members, AUDIT_QUERIES))
    exact = top_k(scored, RECALL_K, *g, "query_id").select(*g, "query_id", "neighbor_id")
    np_df = scored.sparkSession.range(1).select(F.explode(F.array(*[F.lit(n) for n in nprobes])).alias("nprobe"))
    cand = scored.join(F.broadcast(np_df), F.col("prb") <= F.col("nprobe"))
    # audit tail: both sides are bounded by panel×K×|nprobes| rows; broadcast, never SortMergeJoin
    hits = (
        top_k(cand, RECALL_K, *g, "nprobe", "query_id")
        .join(F.broadcast(exact), [*g, "query_id", "neighbor_id"], "left_semi")
        .groupBy(*g, "nprobe")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    overlap = F.coalesce("n_overlap", F.lit(0))
    return (
        cand.groupBy(*g, "nprobe")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
        .join(F.broadcast(hits), [*g, "nprobe"], "left")
        .select(
            *g,
            "nprobe",
            "n_candidates",
            overlap.cast("long").alias("n_overlap"),
            (overlap.cast("double") / F.lit(float(AUDIT_QUERIES * RECALL_K))).alias(f"recall_at_{RECALL_K}"),
        )
    )
