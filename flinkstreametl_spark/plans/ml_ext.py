"""[EXT] ML-adjacent corpus operators (round 2): vectorized Pandas-UDF
kNN (the Arrow/BLAS path for dense math), deterministic K-Means over the
embedding table (semantic clustering for data curation), and a
linear-model quality classifier with integer weights.

Placement of the Python boundary follows the repo rule: JVM column
expressions wherever they express the op; Arrow-batched Pandas UDFs only
where dense linear algebra genuinely beats per-element expression trees
(matrix products here); never row-at-a-time Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.operators import similarity as S
from flinkstreametl_spark.operators import text as X
from flinkstreametl_spark.operators.clustering import (
    DEFAULT_ITERS,
    DEFAULT_K,
    KM_FP as _KM_FP,
    centroid_frame,
    fp_dists,
    kmeans_fit,
    lloyd_fit,
)
from flinkstreametl_spark.plans.llm import _KNN_ORACLE
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.plans.shared import DAILY_SQL as _SHARED_DAILY_SQL
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.sources.parquet import ensure_parallelism, load_table

_TOKS = X.sql_tokens("text")


@register(
    "knn_pandas_topk",
    tags=("ext", "llm", "similarity", "pandas", "bench"),
    oracle=_KNN_ORACLE,
)
def knn_pandas_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 5, computed
    vectorized inside mapInPandas — the Arrow-batch path that at 100 TB
    replaces both the posexplode join (knn_brute_topk) and the
    per-element HOF fold (knn_cosine_fast) for dense scoring: one Arrow
    batch in, a (batch x queries x dim) numpy product, top-k PER BATCH
    out (map-side combine), then a tiny global top-k window.

    Promoted from rows-only in round 2: the numpy kernel now floors
    each elementwise product to the SAME 2^-40 fixed point as the
    relational path and sums int64 (a float GEMM sums in BLAS order and
    differs in the last ulp), so all THREE brute-force implementations
    share one oracle (_KNN_ORACLE). The query side is collected
    driver-side by design — it is the operator's parameter table (a
    handful of vectors), broadcast into the UDF closure; candidates
    stream through executors and only k rows per query survive each
    batch.
    """
    import numpy as np

    n_queries, k = 5, 5
    fp_scale = 1099511627776.0  # 2^40
    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = sorted(
        emb.filter(F.col("vec_id") < n_queries).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    qids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    qq = np.floor(Q * Q * fp_scale).astype(np.int64).sum(axis=1)  # (nq,)

    schema = "query_id long, neighbor_id long, cosine double"

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            C = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            cids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cc = np.floor(C * C * fp_scale).astype(np.int64).sum(axis=1)  # (batch,)
            dot = np.floor(C[:, None, :] * Q[None, :, :] * fp_scale).astype(np.int64).sum(axis=2)
            cos = dot.astype(np.float64) / np.sqrt(
                qq[None, :].astype(np.float64) * cc[:, None].astype(np.float64)
            )
            out = []
            for j, qid in enumerate(qids):
                col = cos[:, j]
                mask = cids != qid  # exclude self
                order = np.lexsort((cids[mask], -col[mask]))[:k]
                idx = np.flatnonzero(mask)[order]
                out.append(
                    pd.DataFrame(
                        {"query_id": qid, "neighbor_id": cids[idx], "cosine": col[idx]}
                    )
                )
            yield pd.concat(out, ignore_index=True)

    per_batch = emb.select("vec_id", "embedding").mapInPandas(score, schema=schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        per_batch.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def _kmeans_ctes(
    k: int = DEFAULT_K, iters: int = DEFAULT_ITERS, *, prefix: str = "", where: str = ""
) -> str:
    """Chained-CTE Lloyd mirror (the WITH prefix shared by every
    kmeans-derived oracle): c0 = k lowest-id embeddings; per iteration,
    fixed-point distances -> argmin assignment (tie-break by cluster
    id) -> fixed-point centroid means with the empty-cluster
    carry-forward. The final assignment lives in a{iters+1}; exploded
    vector elements in e. Every accumulation is int64, so the
    trajectory is bit-identical to the Spark/pandas implementation.

    ``prefix`` renames every CTE (e -> {prefix}e, c0 -> {prefix}c0, …)
    and ``where`` restricts the FIT SET (a SQL predicate over
    embeddings), so two Lloyd chains — e.g. a stale fit over the base
    corpus and a re-fit over base+arrivals — can coexist in one oracle
    (ann_index_staleness_audit). Defaults reproduce the historical
    unprefixed full-corpus chain byte-for-byte. Note the leading WITH
    is emitted only for the unprefixed chain's callers to join with
    ",\\n"."""
    fp = "1099511627776.0"
    p = prefix
    wh = f" WHERE {where}" if where else ""
    ctes = [
        f"{p}e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,"
        f" CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings{wh})",
        f"{p}init AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster"
        f" FROM (SELECT vec_id FROM embeddings{wh} ORDER BY vec_id LIMIT {k}) t)",
        f"{p}c0 AS (SELECT i.cluster, e.pos, e.val AS cval"
        f" FROM {p}init i JOIN {p}e e ON e.vec_id = i.vec_id)",
    ]
    for i in range(1, iters + 2):  # iters updates + one final assignment
        prev = f"{p}c{i - 1}"
        ctes.append(
            f"{p}d{i} AS (SELECT e.vec_id, c.cluster,"
            f" SUM(CAST(floor((e.val - c.cval) * (e.val - c.cval) * {fp}) AS BIGINT)) AS dist"
            f" FROM {p}e e JOIN {prev} c ON e.pos = c.pos GROUP BY e.vec_id, c.cluster)"
        )
        ctes.append(
            f"{p}a{i} AS (SELECT vec_id, cluster FROM ("
            f"SELECT vec_id, cluster, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn"
            f" FROM {p}d{i}) t WHERE rn = 1)"
        )
        if i <= iters:
            ctes.append(
                f"{p}cm{i} AS (SELECT a.cluster, e.pos,"
                f" CAST(SUM(CAST(floor(e.val * {fp}) AS BIGINT)) AS DOUBLE) / {fp} / COUNT(*) AS cval"
                f" FROM {p}a{i} a JOIN {p}e e ON e.vec_id = a.vec_id GROUP BY a.cluster, e.pos)"
            )
            ctes.append(
                f"{p}c{i} AS (SELECT p.cluster, p.pos, coalesce(m.cval, p.cval) AS cval"
                f" FROM {prev} p LEFT JOIN {p}cm{i} m ON m.cluster = p.cluster AND m.pos = p.pos)"
            )
    return ("WITH " if not p else "") + ",\n".join(ctes)


def _kmeans_oracle(k: int = DEFAULT_K, iters: int = DEFAULT_ITERS) -> str:
    return (
        _kmeans_ctes(k, iters) + f"\nSELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members"
        f" FROM a{iters + 1} GROUP BY cluster ORDER BY cluster"
    )


@register(
    "kmeans_cluster_sizes",
    tags=("ext", "llm", "similarity", "iterative", "pandas"),
    oracle=_kmeans_oracle(),
)
def kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering for corpus curation: K-Means (k=8, 5 Lloyd
    iterations, deterministic lowest-id init) over the embedding table,
    reporting per-cluster membership counts — the partition a semantic
    dedup / stratified-sampling pass would operate within. Promoted
    from rows-only in round 2: all accumulation is 2^-40 fixed point
    (kmeans_fit), so the chained-CTE oracle replays the exact Lloyd
    trajectory — centroids, tie-breaks, empty-cluster carry-forward —
    and the driver hash-verifies the iterative ML algorithm end to end;
    tests still check against a pure-numpy Lloyd reference."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, assign_df = kmeans_fit(emb)
    return (
        assign_df(emb)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cluster")
    )


@register(
    "quality_classifier_score",
    tags=("ext", "llm", "text", "quality"),
    oracle=f"""
WITH feat AS (
    SELECT doc_id,
           len({_TOKS}) AS n_tokens,
           len(list_distinct({_TOKS})) AS n_distinct,
           {X.sql_marker_hits(_TOKS, X.EN_STOPWORDS)} AS n_stop,
           length(text) AS n_chars,
           length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
    FROM documents
)
SELECT doc_id,
       n_tokens BETWEEN 10 AND 10000 AS f_len,
       n_distinct * 10 > n_tokens AS f_ttr,
       n_stop * 20 >= n_tokens AS f_stop,
       n_chars BETWEEN n_tokens * 3 AND n_tokens * 13 AS f_wordlen,
       n_punct * 10 <= n_chars AS f_punct,
       CAST(3 * CAST(n_tokens BETWEEN 10 AND 10000 AS BIGINT)
          + 2 * CAST(n_distinct * 10 > n_tokens AS BIGINT)
          + 2 * CAST(n_stop * 20 >= n_tokens AS BIGINT)
          + 1 * CAST(n_chars BETWEEN n_tokens * 3 AND n_tokens * 13 AS BIGINT)
          + 1 * CAST(n_punct * 10 <= n_chars AS BIGINT) AS BIGINT) AS score,
       (3 * CAST(n_tokens BETWEEN 10 AND 10000 AS BIGINT)
          + 2 * CAST(n_distinct * 10 > n_tokens AS BIGINT)
          + 2 * CAST(n_stop * 20 >= n_tokens AS BIGINT)
          + 1 * CAST(n_chars BETWEEN n_tokens * 3 AND n_tokens * 13 AS BIGINT)
          + 1 * CAST(n_punct * 10 <= n_chars AS BIGINT)) >= 6 AS keep
FROM feat
""",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier with integer weights (a
    fasttext-style filter with its trained weights frozen into the
    plan): five boolean features — length band, type-token ratio,
    stopword density, mean word length band, punctuation density — are
    weighted 3/2/2/1/1 and thresholded at 6. All comparisons are
    integer cross-multiplications (ratio > r becomes count * K > total),
    so the decision boundary is bit-exact in both engines. One scan,
    map-side only; at 100 TB this is the shape of every model-based
    filter whose features are cheap column expressions."""
    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    base = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        X.marker_hits(toks, X.EN_STOPWORDS).alias("n_stop"),
        F.length("text").alias("n_chars"),
        X.punct_count("text").alias("n_punct"),
    )
    f_len = F.col("n_tokens").between(10, 10000)
    f_ttr = F.col("n_distinct") * 10 > F.col("n_tokens")
    f_stop = F.col("n_stop") * 20 >= F.col("n_tokens")
    f_wordlen = F.col("n_chars").between(F.col("n_tokens") * 3, F.col("n_tokens") * 13)
    f_punct = F.col("n_punct") * 10 <= F.col("n_chars")
    score = (
        3 * f_len.cast("long")
        + 2 * f_ttr.cast("long")
        + 2 * f_stop.cast("long")
        + 1 * f_wordlen.cast("long")
        + 1 * f_punct.cast("long")
    )
    return base.select(
        "doc_id",
        f_len.alias("f_len"),
        f_ttr.alias("f_ttr"),
        f_stop.alias("f_stop"),
        f_wordlen.alias("f_wordlen"),
        f_punct.alias("f_punct"),
        score.alias("score"),
        (score >= 6).alias("keep"),
    )


def _semantic_dedup_oracle(k: int = DEFAULT_K, iters: int = DEFAULT_ITERS, threshold: float = 0.3) -> str:
    """SemDeDup oracle: the shared Lloyd CTE chain, then fixed-point
    cosine over pairs CO-ASSIGNED by the final a{iters+1} labels.

    The pair scoring is an IN-ROW list fold (list_zip + list_transform
    + list_sum), mirroring the Spark side's cosine_col_fp: candidate
    pairs carry their vectors as arrays instead of exploding 64 rows
    per pair through a hash aggregate. Same floor(x*y*2^40) BIGINT
    terms, so results are bit-identical to the exploded form (round 6:
    the exploded form ground through |pairs| x dim intermediate rows —
    the sf1 sweep's slowest oracle by an order of magnitude)."""
    fin = f"a{iters + 1}"
    fp = "1099511627776.0"
    sq = (
        "CAST(list_sum(list_transform({v}, v ->"
        f" CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * {fp}) AS BIGINT))) AS BIGINT)"
    )
    return (
        _kmeans_ctes(k, iters)
        + f""",
p AS (
    SELECT aa.cluster, aa.vec_id AS vec_a, bb.vec_id AS vec_b,
           CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
               x -> CAST(floor(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) * {fp}) AS BIGINT))) AS BIGINT) AS dot,
           {sq.format(v="a.embedding")} AS qq,
           {sq.format(v="b.embedding")} AS cc
    FROM {fin} aa
    JOIN {fin} bb ON bb.cluster = aa.cluster AND aa.vec_id < bb.vec_id
    JOIN embeddings a ON a.vec_id = aa.vec_id
    JOIN embeddings b ON b.vec_id = bb.vec_id
)
SELECT cluster, vec_a, vec_b, cosine FROM (
    SELECT cluster, vec_a, vec_b,
           CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) AS cosine
    FROM p
) v
WHERE cosine >= {threshold}
"""
    )


@register(
    "semantic_dedup_pairs",
    tags=("ext", "llm", "dedup", "similarity", "iterative", "pandas"),
    oracle=_semantic_dedup_oracle(),
)
def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    space with the deterministic K-Means (k=8, 5 Lloyd iterations),
    then score cosine similarity ONLY within clusters and emit pairs
    above the threshold — the published recipe for semantic dedup at
    corpus scale (Abbas et al. 2023): the learned partition replaces
    the O(n²) all-pairs scan, and the per-cluster pair count is
    output-sized.

    Contrast with the two sibling blockings: embedding_neardup_pairs
    blocks on a GIVEN label, embedding_srp_pairs on an LSH sketch;
    here the blocks are LEARNED from the data itself. All three share
    the fixed-point in-row cosine (operators/similarity.py), so the
    threshold cut is engine-exact. Plan: the kmeans fit collects only
    k centroids per iteration; the pair join is one equi-join on the
    cluster id over array rows (|pairs| through the shuffle, never
    |pairs|×dim)."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    _cents, assign_df = kmeans_fit(emb)
    # Both self-join sides read the pandas_udf assignment.
    assigned = pin(assign_df(emb).select("vec_id", "embedding", "cluster"))
    # r14 opt: per-vector self-norms precomputed once per side; the
    # pair stage folds only the dot (operators/similarity — same
    # integers, bit-identical cosine).
    a = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        S.self_norm_fp_col(F.col("embedding")).alias("qq"),
    )
    b = assigned.select(
        F.col("cluster").alias("cluster_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        S.self_norm_fp_col(F.col("embedding")).alias("cc"),
    )
    pairs = a.join(b, (F.col("cluster") == F.col("cluster_b")) & (F.col("vec_a") < F.col("vec_b")))
    scored = pairs.select(
        "cluster",
        "vec_a",
        "vec_b",
        S.cosine_from_fp(
            S.dot_fp_col(F.col("emb_a"), F.col("emb_b")), F.col("qq"), F.col("cc")
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= 0.3)


_QK = S.RECALL_K  # the int8 and PQ audits' recall depth, the IVF curves' too

_EMB_EXPLODE_SQL = "SELECT vec_id, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS val FROM embeddings"

_INT8_ORACLE = f"""
WITH ex AS ({_EMB_EXPLODE_SQL}),
scales AS (
    SELECT vec_id, MAX(abs(CAST(val AS DOUBLE))) AS s FROM ex GROUP BY vec_id
),
qz AS (
    SELECT ex.vec_id, ex.pos,
           CASE WHEN s = 0 THEN 0
                ELSE CAST(floor((CAST(val AS DOUBLE) / s) * 127.0) AS BIGINT) END AS qv
    FROM ex JOIN scales USING (vec_id)
),
qp AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           SUM(q.qv * c.qv) AS dot_q,
           SUM(q.qv * q.qv) AS qq_q,
           SUM(c.qv * c.qv) AS cc_q
    FROM (SELECT * FROM qz WHERE vec_id < 5) q
    JOIN qz c ON q.pos = c.pos AND q.vec_id <> c.vec_id
    GROUP BY q.vec_id, c.vec_id
),
qtop AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY CAST(dot_q AS DOUBLE) / sqrt(CAST(qq_q AS DOUBLE) * CAST(cc_q AS DOUBLE)) DESC,
                            neighbor_id
               ) AS rk
        FROM qp
    ) WHERE rk <= {_QK}
),
ep AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(c.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS dot,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(q.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS qq,
           SUM(CAST(floor(CAST(c.val AS DOUBLE) * CAST(c.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS cc
    FROM (SELECT * FROM ex WHERE vec_id < 5) q
    JOIN ex c ON q.pos = c.pos AND q.vec_id <> c.vec_id
    GROUP BY q.vec_id, c.vec_id
),
etop AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                            neighbor_id
               ) AS rk
        FROM ep
    ) WHERE rk <= {_QK}
)
SELECT e.query_id,
       CAST(COUNT(q.neighbor_id) AS BIGINT) AS n_overlap,
       CAST(COUNT(q.neighbor_id) AS DOUBLE) / {_QK}.0 AS recall_at_{_QK}
FROM etop e
LEFT JOIN qtop q ON e.query_id = q.query_id AND e.neighbor_id = q.neighbor_id
GROUP BY e.query_id
"""


@register("int8_knn_recall", tags=("ext", "llm", "similarity", "quantization"), oracle=_INT8_ORACLE)
def int8_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization for vector search, with its cost
    measured in-query: each vector is quantized to 8 bits per dim
    (scale = max-abs, the faiss/ScaNN SQ8 scheme), top-10 neighbors are
    ranked by the all-integer quantized dot products, and the result is
    compared against the exact fixed-point cosine top-10 — emitting
    recall@10 per query vector. The quantized score needs NO
    dequantization: the per-vector scales cancel in the cosine ratio,
    so ranking uses only exact BIGINTs (the int8 index never touches a
    float until the final division).

    At 100 TB this is the memory story for ANN: an int8 index is 4x
    smaller than float32, dot products run on integers, and THIS query
    is the audit that tells you what that compression costs in recall —
    run it on a sample before committing the index format. Exactness:
    quantization (floor after one double multiply chain, identical
    operand order), integer dots, and the tie-broken rankings are all
    engine-identical, so even the recall numbers hash-match.

    Plan: one exploded pass computes scales (per-vector max — a tiny
    aggregate), quantized and exact pair scores share the position
    join with the broadcast 5-vector query side; the two top-10
    rankings and their overlap join are window + hash joins over
    25-row frames."""
    emb = load_table(spark, sf_dir, "embeddings")
    # ex feeds the scale aggregate, the quantize join and both exact-score sides.
    ex = pin(emb.select("vec_id", F.posexplode("embedding").alias("pos", "val")))
    scales = ex.groupBy("vec_id").agg(F.max(F.abs(F.col("val").cast("double"))).alias("s"))
    qz = pin(
        ex.join(scales, "vec_id")
        .select(
            "vec_id",
            "pos",
            F.when(F.col("s") == 0, F.lit(0).cast("long"))
            .otherwise(F.floor((F.col("val").cast("double") / F.col("s")) * F.lit(127.0)).cast("long"))
            .alias("qv"),
        )
    )

    def topk(pairs, score, k):
        w = Window.partitionBy("query_id").orderBy(score.desc(), "neighbor_id")
        return pairs.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)

    q8, c8 = qz.filter(F.col("vec_id") < 5).alias("q"), qz.alias("c")
    qp = (
        F.broadcast(q8)
        .join(c8, (F.col("q.pos") == F.col("c.pos")) & (F.col("q.vec_id") != F.col("c.vec_id")))
        .groupBy(F.col("q.vec_id").alias("query_id"), F.col("c.vec_id").alias("neighbor_id"))
        .agg(
            F.sum(F.col("q.qv") * F.col("c.qv")).alias("dot_q"),
            F.sum(F.col("q.qv") * F.col("q.qv")).alias("qq_q"),
            F.sum(F.col("c.qv") * F.col("c.qv")).alias("cc_q"),
        )
    )
    q_score = F.col("dot_q").cast("double") / F.sqrt(
        F.col("qq_q").cast("double") * F.col("cc_q").cast("double")
    )
    qtop = topk(qp, q_score, _QK).select("query_id", "neighbor_id")

    fp = S.fp
    qe, ce = ex.filter(F.col("vec_id") < 5).alias("q"), ex.alias("c")
    ep = (
        F.broadcast(qe)
        .join(ce, (F.col("q.pos") == F.col("c.pos")) & (F.col("q.vec_id") != F.col("c.vec_id")))
        .groupBy(F.col("q.vec_id").alias("query_id"), F.col("c.vec_id").alias("neighbor_id"))
        .agg(
            F.sum(fp(F.col("q.val").cast("double") * F.col("c.val").cast("double"))).alias("dot"),
            F.sum(fp(F.col("q.val").cast("double") * F.col("q.val").cast("double"))).alias("qq"),
            F.sum(fp(F.col("c.val").cast("double") * F.col("c.val").cast("double"))).alias("cc"),
        )
    )
    e_score = F.col("dot").cast("double") / F.sqrt(
        F.col("qq").cast("double") * F.col("cc").cast("double")
    )
    etop = topk(ep, e_score, _QK).select("query_id", "neighbor_id")

    hit = qtop.withColumnRenamed("neighbor_id", "q_neighbor")
    return (
        # audit tail: hit is panel×K rows; broadcast, never SortMergeJoin
        etop.join(
            F.broadcast(hit),
            (etop.query_id == hit.query_id) & (etop.neighbor_id == hit.q_neighbor),
            "left",
        )
        .groupBy(etop.query_id.alias("query_id"))
        .agg(
            F.count("q_neighbor").alias("n_overlap"),
            (F.count("q_neighbor").cast("double") / F.lit(float(_QK))).alias(f"recall_at_{_QK}"),
        )
    )


# the daily CTE must keep the same day bucketing and fixed-point scale
# as the Spark side (timeseries_ext._daily) — built from the shared
# constant so the two can never desynchronize (plans/shared.py carries
# no registrations, so the module-level import is order-safe)
_NORM_ORACLE = f"""
WITH daily AS ({_SHARED_DAILY_SQL}),
b AS (
    SELECT event_type, day, s_fp,
           MIN(s_fp) OVER (PARTITION BY event_type) AS mn,
           MAX(s_fp) OVER (PARTITION BY event_type) AS mx
    FROM daily
)
SELECT event_type, day,
       CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
            ELSE CAST((10000 * (s_fp - mn)) // (mx - mn) AS BIGINT) END AS norm_bp
FROM b
"""


@register("groupwise_minmax_norm", tags=("ext", "pandas", "timeseries"), oracle=_NORM_ORACLE)
def groupwise_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max normalization of the daily value series, via
    the GROUPED-MAP Pandas API (``groupBy(...).applyInPandas``) — the
    one Python-boundary family the repo had not yet exercised
    (scalar pandas_udf, grouped-agg, mapInPandas, and both stateful
    streaming forms are demonstrated elsewhere). Grouped-map is the
    seam for per-key kernels that need the WHOLE group in memory as one
    frame (sklearn transforms, per-entity model scoring); here the
    kernel is deliberately exact — basis points by integer floor
    division on int64 — so even this Python path hash-matches the
    declarative oracle (flat groups emit 0 by convention, not 0/0).

    Scale: one shuffle to co-locate each event_type's daily frame
    (calendar-bounded, not data-bounded); the window twin without
    Python is the `b` CTE of the oracle — prefer it when the kernel IS
    expressible; this query exists to pin the API's exactness
    contract."""
    import pandas as pd

    # deferred import: ml_ext registers before timeseries_ext in
    # plans/__init__, and a module-level import would reorder
    # registration
    from flinkstreametl_spark.plans.timeseries_ext import _daily

    daily = _daily(spark, sf_dir).select("event_type", "day", "s_fp")

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf["s_fp"]
        mn, mx = int(s.min()), int(s.max())
        if mx == mn:
            bp = pd.Series(0, index=pdf.index, dtype="int64")
        else:
            bp = (10000 * (s - mn)) // (mx - mn)
        return pd.DataFrame(
            {"event_type": pdf["event_type"], "day": pdf["day"], "norm_bp": bp.astype("int64")}
        )

    return daily.groupBy("event_type").applyInPandas(
        norm, schema="event_type string, day long, norm_bp long"
    )


# ---------------------------------------------------------------------------
# IVF recall-vs-probe curve (round-5 verdict item 6)

_NPROBES = [1, 2, 3, 5, 10]  # 10 labels in the fixture -> nprobe=10 is the full scan

_CURVE_ORACLE = f"""
WITH ex AS ({_EMB_EXPLODE_SQL}),
cents AS (
    SELECT t.label, pos,
           CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS DOUBLE)
               / 1099511627776.0 / COUNT(*) AS cval
    FROM (SELECT e.label, generate_subscripts(e.embedding, 1) AS pos, unnest(e.embedding) AS val
          FROM embeddings e) t
    GROUP BY t.label, pos
),
q AS (SELECT * FROM ex WHERE vec_id < {S.AUDIT_QUERIES}),
ps AS (
    SELECT q.vec_id AS query_id, c.label,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * c.cval * 1099511627776.0) AS BIGINT)) AS dot,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(q.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS qq,
           SUM(CAST(floor(c.cval * c.cval * 1099511627776.0) AS BIGINT)) AS cc
    FROM q JOIN cents c ON q.pos = c.pos
    GROUP BY 1, 2
),
prb AS (
    SELECT query_id, label,
           ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                        label) AS prb
    FROM ps
),
el AS (
    SELECT e.vec_id, e.label, generate_subscripts(e.embedding, 1) AS pos, unnest(e.embedding) AS val
    FROM embeddings e
),
cscore AS (
    SELECT p.query_id, el.vec_id AS neighbor_id, p.prb,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(el.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS dot,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(q.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS qq,
           SUM(CAST(floor(CAST(el.val AS DOUBLE) * CAST(el.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS cc
    FROM prb p
    JOIN el ON el.label = p.label AND el.vec_id <> p.query_id
    JOIN q ON q.vec_id = p.query_id AND q.pos = el.pos
    GROUP BY 1, 2, 3
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY CAST(SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(c.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                            / sqrt(CAST(SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(q.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                                   * CAST(SUM(CAST(floor(CAST(c.val AS DOUBLE) * CAST(c.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS DOUBLE)) DESC,
                            c.vec_id
               ) AS rk
        FROM q JOIN ex c ON q.pos = c.pos AND q.vec_id <> c.vec_id
        GROUP BY q.vec_id, c.vec_id
    ) WHERE rk <= {S.RECALL_K}
),
np AS (SELECT CAST(unnest([{", ".join(str(n) for n in _NPROBES)}]) AS INTEGER) AS nprobe),
cand_np AS (
    SELECT np.nprobe, c.query_id, c.neighbor_id, c.dot, c.qq, c.cc
    FROM cscore c JOIN np ON c.prb <= np.nprobe
),
ivf_top AS (
    SELECT nprobe, query_id, neighbor_id FROM (
        SELECT nprobe, query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                   ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                            neighbor_id) AS rk
        FROM cand_np
    ) WHERE rk <= {S.RECALL_K}
),
hits AS (
    SELECT t.nprobe, CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM ivf_top t
    WHERE EXISTS (SELECT 1 FROM exact x
                  WHERE x.query_id = t.query_id AND x.neighbor_id = t.neighbor_id)
    GROUP BY t.nprobe
),
cands AS (
    SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand_np GROUP BY nprobe
)
SELECT c.nprobe, c.n_candidates,
       COALESCE(h.n_overlap, 0) AS n_overlap,
       CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / ({S.AUDIT_QUERIES}.0 * {S.RECALL_K}.0) AS recall_at_{S.RECALL_K}
FROM cands c LEFT JOIN hits h ON h.nprobe = c.nprobe
"""


@register("ivf_recall_curve", tags=("ext", "llm", "similarity", "quality-curve"), oracle=_CURVE_ORACLE)
def ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF quality/cost tradeoff measured IN-QUERY: for each nprobe
    in {1, 2, 3, 5, 10}, how many candidate vectors the probe-pruned
    scan touches (the cost) and what fraction of the exact cosine
    top-10 it recovers (recall@10, averaged over the 5 query vectors).
    nprobe = 10 scans every cluster, so its recall row must read 1.0 —
    a built-in sanity anchor. Companion to ``int8_knn_recall`` (the
    quantization half of the ANN quality story; this is the pruning
    half) — measured numbers at sf0.1 live in docs/ANN.md.

    Exactness: candidate and exact rankings both use the 2^-40
    fixed-point cosine fold (operators/similarity.py), overlap and
    candidate counts are integers, and recall is ONE double division
    of exact operands — hash-identical to the oracle.

    Plan shape: the IVF kernel (``S.ivf_recall_curve``) over the label
    index ``ann_ivf_topk`` serves from — candidates scored once with
    their cluster's probe rank attached, every nprobe slice a re-rank
    of that set, the probe side broadcast. At nprobe = n_clusters this
    is brute force BY DESIGN — the curve is the audit that justifies a
    production nprobe choice, not the serving path."""
    # Pinned once for the fan-out (centroids, probe queries, members).
    emb = pin(ensure_parallelism(load_table(spark, sf_dir, "embeddings")))
    # The kernel derives the exact top-K from the scored set, which
    # needs label to be TOTAL on the embeddings fixture: a null label
    # would drop its vector from the truth and inflate recall. Every
    # shipped SF tier has count(label) == count(*), labels 0..9, and the
    # oracle computes the same inner join, so a fixture drift breaks the
    # hash rather than passing silently.
    cents, members = S.label_index(emb)
    return S.ivf_recall_curve(emb, cents, members, _NPROBES)


_KM_NPROBES = [1, 2, 3, 5, 8]  # k=8 learned clusters -> nprobe=8 is the full scan


def _kmeans_curve_oracle(k: int = DEFAULT_K, iters: int = DEFAULT_ITERS) -> str:
    """The recall-curve CTE suite on top of the shared Lloyd chain:
    probes rank the LEARNED centroids (c{iters}), membership comes from
    the final assignment (a{iters+1}); everything downstream mirrors
    _CURVE_ORACLE with cluster in place of label."""
    fin_a, fin_c = f"a{iters + 1}", f"c{iters}"
    fp = "1099511627776.0"
    nps = ", ".join(str(n) for n in _KM_NPROBES)
    return (
        _kmeans_ctes(k, iters)
        + f""",
q AS (SELECT vec_id, pos, val FROM e WHERE vec_id < {S.AUDIT_QUERIES}),
ps AS (
    SELECT q.vec_id AS query_id, c.cluster,
           SUM(CAST(floor(q.val * c.cval * {fp}) AS BIGINT)) AS dot,
           SUM(CAST(floor(q.val * q.val * {fp}) AS BIGINT)) AS qq,
           SUM(CAST(floor(c.cval * c.cval * {fp}) AS BIGINT)) AS cc
    FROM q JOIN {fin_c} c ON q.pos = c.pos
    GROUP BY 1, 2
),
prb AS (
    SELECT query_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                        cluster) AS prb
    FROM ps
),
cscore AS (
    SELECT p.query_id, m.vec_id AS neighbor_id, p.prb,
           SUM(CAST(floor(q.val * e.val * {fp}) AS BIGINT)) AS dot,
           SUM(CAST(floor(q.val * q.val * {fp}) AS BIGINT)) AS qq,
           SUM(CAST(floor(e.val * e.val * {fp}) AS BIGINT)) AS cc
    FROM prb p
    JOIN {fin_a} m ON m.cluster = p.cluster AND m.vec_id <> p.query_id
    JOIN e ON e.vec_id = m.vec_id
    JOIN q ON q.vec_id = p.query_id AND q.pos = e.pos
    GROUP BY 1, 2, 3
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY CAST(SUM(CAST(floor(q.val * c.val * {fp}) AS BIGINT)) AS DOUBLE)
                            / sqrt(CAST(SUM(CAST(floor(q.val * q.val * {fp}) AS BIGINT)) AS DOUBLE)
                                   * CAST(SUM(CAST(floor(c.val * c.val * {fp}) AS BIGINT)) AS DOUBLE)) DESC,
                            c.vec_id
               ) AS rk
        FROM q JOIN e c ON q.pos = c.pos AND q.vec_id <> c.vec_id
        GROUP BY q.vec_id, c.vec_id
    ) WHERE rk <= {S.RECALL_K}
),
np AS (SELECT CAST(unnest([{nps}]) AS INTEGER) AS nprobe),
cand_np AS (
    SELECT np.nprobe, c.query_id, c.neighbor_id, c.dot, c.qq, c.cc
    FROM cscore c JOIN np ON c.prb <= np.nprobe
),
ivf_top AS (
    SELECT nprobe, query_id, neighbor_id FROM (
        SELECT nprobe, query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                   ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                            neighbor_id) AS rk
        FROM cand_np
    ) WHERE rk <= {S.RECALL_K}
),
hits AS (
    SELECT t.nprobe, CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM ivf_top t
    WHERE EXISTS (SELECT 1 FROM exact x
                  WHERE x.query_id = t.query_id AND x.neighbor_id = t.neighbor_id)
    GROUP BY t.nprobe
),
cands AS (
    SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand_np GROUP BY nprobe
)
SELECT c.nprobe, c.n_candidates,
       COALESCE(h.n_overlap, 0) AS n_overlap,
       CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / ({S.AUDIT_QUERIES}.0 * {S.RECALL_K}.0) AS recall_at_{S.RECALL_K}
FROM cands c LEFT JOIN hits h ON h.nprobe = c.nprobe
"""
    )


@register(
    "ivf_kmeans_recall_curve",
    # "bench": the round-6 bench addition — the suite's one iterative
    # learn-then-audit workload (Lloyd fit + probe + recall in a query)
    tags=("ext", "llm", "similarity", "quality-curve", "iterative", "pandas", "bench"),
    oracle=_kmeans_curve_oracle(),
)
def ivf_kmeans_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall curve with a LEARNED coarse quantizer (round-5
    verdict item 4): identical audit to ``ivf_recall_curve`` but the
    partition comes from ``kmeans_fit`` (k=8 Lloyd clusters over the
    embedding space) instead of the fixture ``label`` column. The label
    clusters are cosine-uncorrelated (docs/ANN.md: recall tracks the
    candidate fraction, the curve is a straight line); centroids
    learned from the vectors themselves are what a production IVF
    index actually uses, and the measured curve shows the knee the
    audit exists to find — measured side-by-side with the label curve
    in docs/ANN.md.

    Exactness: the full Lloyd trajectory is 2^-40 fixed point
    (kmeans_fit), probe ranking and candidate scoring use the same
    fixed-point cosine fold, so the DuckDB oracle replays learn +
    probe + rank + recall end-to-end bit-for-bit. nprobe = 8 scans
    every learned cluster and must read recall 1.0 — the same sanity
    anchor as the label curve.

    Plan shape: the same kernel as ivf_recall_curve, over a k-row
    centroid frame (broadcast). The only addition is the Lloyd fit,
    whose driver traffic is k centroids per iteration."""
    # Pinned once for the fan-out (fit input, query rows, membership
    # side) — Spark does not dedupe common subplans; the unpinned frame
    # re-scanned the embedding parquet per consumer.
    emb = pin(ensure_parallelism(load_table(spark, sf_dir, "embeddings")))
    cents_mat, assign_df = kmeans_fit(emb)
    # Assignment is an argmin over the centroid matrix, defined for
    # every vector, so membership is total by construction and the
    # kernel's derived exact top-K holds.
    return S.ivf_recall_curve(emb, centroid_frame(spark, cents_mat), assign_df(emb), _KM_NPROBES)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the third embedding-compression path next to
# int8 scalar quantization (int8_knn_recall) and the coarse-partition
# quantizers (ivf_*). A PQ code stores each vector as n_sub small codebook
# ids (here 8 x 4 bits of information = ~4 bytes vs 256 bytes of float32) —
# the compression that makes billion-vector ANN indexes fit in memory.
_PQ_SUB = 8  # subspaces (embedding dim 64 -> 8 dims each)
_PQ_SD = 8  # dims per subspace, spelled out for the oracle
_PQ_K = 16  # codebook size per subspace
_PQ_ITERS = 3
_PQ_NQ = 5  # audit queries (the suite's standing vec_id < 5 convention)


def _pq_ctes(n_sub: int = _PQ_SUB, sd: int = _PQ_SD, k: int = _PQ_K, iters: int = _PQ_ITERS) -> str:
    """Chained-CTE mirror of ``lloyd_fit`` with n_sub subspaces (the
    _kmeans_ctes pattern with a (sub, cluster) key; the kernel derives
    ``sd`` from the dim): per iteration, per-subspace fixed-point
    distances -> argmin code per (vec_id, sub) -> fixed-point means
    with empty-cell carry-forward. Codes land in a{iters+1}; the final
    codebook is c{iters}."""
    fp = "1099511627776.0"
    ctes = [
        "e0 AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,"
        " CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings)",
        f"e AS (SELECT vec_id, pos, pos // {sd} AS sub, val FROM e0)",
        f"init AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster"
        f" FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k}) t)",
        "c0 AS (SELECT i.cluster, e.pos, e.sub, e.val AS cval FROM init i JOIN e ON e.vec_id = i.vec_id)",
    ]
    for i in range(1, iters + 2):  # iters updates + one final assignment
        prev = f"c{i - 1}"
        ctes.append(
            f"d{i} AS (SELECT e.vec_id, c.sub, c.cluster,"
            f" SUM(CAST(floor((e.val - c.cval) * (e.val - c.cval) * {fp}) AS BIGINT)) AS dist"
            f" FROM e JOIN {prev} c ON e.pos = c.pos GROUP BY e.vec_id, c.sub, c.cluster)"
        )
        ctes.append(
            f"a{i} AS (SELECT vec_id, sub, cluster FROM ("
            f"SELECT vec_id, sub, cluster, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cluster) AS rn"
            f" FROM d{i}) t WHERE rn = 1)"
        )
        if i <= iters:
            ctes.append(
                f"cm{i} AS (SELECT a.cluster, e.pos,"
                f" CAST(SUM(CAST(floor(e.val * {fp}) AS BIGINT)) AS DOUBLE) / {fp} / COUNT(*) AS cval"
                f" FROM a{i} a JOIN e ON e.vec_id = a.vec_id AND e.sub = a.sub GROUP BY a.cluster, e.pos)"
            )
            ctes.append(
                f"c{i} AS (SELECT p.cluster, p.pos, p.sub, coalesce(m.cval, p.cval) AS cval"
                f" FROM {prev} p LEFT JOIN cm{i} m ON m.cluster = p.cluster AND m.pos = p.pos)"
            )
    return "WITH " + ",\n".join(ctes)


def _pq_oracle() -> str:
    fin = f"a{_PQ_ITERS + 1}"
    cfin = f"c{_PQ_ITERS}"
    fp = "1099511627776.0"
    dd = "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    return (
        _pq_ctes()
        + f""",
qtab AS (
    SELECT e.vec_id AS query_id, c.sub, c.cluster,
           SUM(CAST(floor((e.val - c.cval) * (e.val - c.cval) * {fp}) AS BIGINT)) AS d
    FROM e JOIN {cfin} c ON e.pos = c.pos
    WHERE e.vec_id < {_PQ_NQ}
    GROUP BY e.vec_id, c.sub, c.cluster
),
adcd AS (
    SELECT t.query_id, a.vec_id, SUM(t.d) AS dist
    FROM {fin} a JOIN qtab t ON t.sub = a.sub AND t.cluster = a.cluster
    WHERE a.vec_id != t.query_id
    GROUP BY t.query_id, a.vec_id
),
pqtop AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rk
        FROM adcd) t WHERE rk <= {_QK}
),
ext AS (
    SELECT q.vec_id AS query_id, x.vec_id,
           CAST(list_sum(list_transform(list_zip(q.embedding, x.embedding),
               p -> CAST(floor({dd} * {dd} * {fp}) AS BIGINT))) AS BIGINT) AS l2
    FROM embeddings q JOIN embeddings x ON q.vec_id < {_PQ_NQ} AND x.vec_id != q.vec_id
),
exttop AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY l2, vec_id) AS rk
        FROM ext) t WHERE rk <= {_QK}
),
hits AS (
    SELECT p.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM pqtop p JOIN exttop x ON x.query_id = p.query_id AND x.vec_id = p.vec_id
    GROUP BY p.query_id
)
SELECT q.query_id, CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / {float(_QK)} AS recall_at_{_QK}
FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < {_PQ_NQ}) q
LEFT JOIN hits h ON h.query_id = q.query_id
ORDER BY q.query_id
"""
    )


@register(
    "pq_adc_recall",
    tags=("ext", "llm", "similarity", "quality-curve", "iterative", "pandas"),
    oracle=_pq_oracle(),
)
def pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with its recall audit: train 8
    per-subspace codebooks (16 centroids x 8 dims, 3 Lloyd rounds),
    encode every vector as 8 codebook ids, score queries by ADC
    (asymmetric distance computation: per-query lookup table of
    query-to-centroid subdistances, document distance = sum of 8 table
    entries picked by its codes), and report top-10 recall against the
    exact L2 ranking. PQ is the compression leg of the ANN triad —
    int8_knn_recall shrinks 4x and keeps the full scan,
    ivf_kmeans_recall_curve prunes the scan and keeps the vectors, PQ
    shrinks ~64x (8 ids vs 64 floats); production billion-vector
    indexes (IVF-PQ) compose this encoding inside the IVF partition,
    which in this engine is exactly the Lloyd kernel's 8-subspace codes
    nested under its one-subspace coarse partition.

    Plan shape: the ADC table is PARAMETER-sized (5 queries x 8 subs x
    16 codes = 640 rows, computed driver-side from the learned
    codebooks and broadcast), so scoring is one broadcast equi-join on
    (sub, code) against the exploded code column plus a (query, doc)
    partial-agg sum — per-query work linear in |docs| with 8-byte
    codes, never the float vectors. The exact-truth side is the
    knn_fast broadcast pattern (5 rows against the corpus, in-row HOF
    fold). Exactness: every distance on both engines is a sum of
    per-element floor((x-y)^2 * 2^40) BIGINT terms; the whole Lloyd
    trajectory, the codes, the ADC sums and the exact ranking are
    hash-verified cross-engine (ties broken by id everywhere).

    Measured (sf0.01, 500 vectors): recall@10 = 0.2-0.5 across the 5
    queries — 32 bits per vector (4-bit codes x 8 subspaces) is an
    aggressive operating point, and the audit puts the price on the
    record instead of letting the compression ratio advertise itself.
    The production dial is codebook size (k=256 -> 8-bit codes) and
    an IVF-PQ re-rank of the ADC top-N with the stored vectors; this
    query is the measurement harness those tunings would be judged
    by."""
    import numpy as np

    # Four consumers: fit input, encode side, query-row collect, exact-L2 side.
    emb = pin(ensure_parallelism(load_table(spark, sf_dir, "embeddings")))
    cents, codes_fn = lloyd_fit(emb, _PQ_K, _PQ_ITERS, n_sub=_PQ_SUB)
    # The posexplode consumer would duplicate the encode pandas_udf.
    codes = pin(codes_fn(emb).select("vec_id", "codes"))

    qrows = sorted(
        emb.filter(F.col("vec_id") < _PQ_NQ).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    d = fp_dists(np.array([r.embedding for r in qrows], dtype=np.float64), cents)
    tab = [
        (r.vec_id, s, j, int(d[i, s, j]))
        for i, r in enumerate(qrows)
        for s in range(_PQ_SUB)
        for j in range(_PQ_K)
    ]
    adc = spark.createDataFrame(tab, "query_id LONG, sub INT, code LONG, d LONG")

    exc = codes.select("vec_id", F.posexplode("codes").alias("sub", "code"))
    dist = (
        exc.join(F.broadcast(adc), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    pq_top = dist.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _QK)

    q = emb.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select("vec_id", F.col("embedding").alias("c_emb"))
    zero = F.lit(0).cast("long")
    l2 = F.aggregate(
        F.zip_with(
            F.transform("q_emb", lambda x: x.cast("double")),
            F.transform("c_emb", lambda x: x.cast("double")),
            lambda x, y: F.floor((x - y) * (x - y) * F.lit(_KM_FP)).cast("long"),
        ),
        zero,
        lambda acc, x: acc + x,
    )
    exact = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", l2.alias("l2"))
    )
    we = Window.partitionBy("query_id").orderBy("l2", "vec_id")
    exact_top = exact.withColumn("rk", F.row_number().over(we)).filter(F.col("rk") <= _QK)

    hits = (
        # audit tail: exact_top is panel×K rows; broadcast, never SortMergeJoin
        pq_top.join(
            F.broadcast(exact_top.select("query_id", "vec_id")),
            ["query_id", "vec_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        q.select("query_id")
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)).cast("double") / F.lit(float(_QK))).alias(
                f"recall_at_{_QK}"
            ),
        )
    )


_PCA_F = 1 << 20
"""Embedding quantization scale for PCA: x_fp = floor(val * 2^20).
Small enough that every centered value stays ~2^21, keeping per-pair
products (c_i * c_j <= 2^42) far inside BIGINT before the widening
DECIMAL(38,0) / HUGEINT sum."""

_PCA_SCALE = 1 << 20
"""Fixed-point scale of the iterated eigenvector: |comp_fp| <= 2^20."""

_PCA_ITERS = 120
"""Power-iteration steps on the Gram matrix. The synthetic embedding
fixture is near-isotropic (top eigengap ratio ~1.07), so convergence
goes like 0.93^t: 120 steps put the fixed-point vector at cosine
>= 0.99 with numpy's exact eigenvector at every test scale (measured:
1.0 at sf0.001, 0.994 at sf0.01). Each step costs one pass over the
d x d Gram — 4096 rows — so the count is a parameter-grain knob, not
a data-scale one."""


def _pca_oracle(iters: int = _PCA_ITERS) -> str:
    """Unrolled power iteration (same rationale as the PageRank
    oracle: DuckDB's recursive CTEs can't re-aggregate per step, so
    the fixed iteration count is spelled out). The iteration runs on
    the PARAMETER-sized Gram matrix, so 120 steps are 120 joins of a
    4096-row table with a 64-row vector — the data-scale work is the
    single covariance aggregation in ``gram``. Every ``w{i}`` is
    MATERIALIZED: it is referenced twice (by the rescale and by the
    max subquery), and DuckDB 1.0 re-inlines multi-referenced CTEs —
    over 120 chained steps that inlining would be exponential. All
    arithmetic is integer (HUGEINT here, BIGINT/DECIMAL(38,0) in
    Spark); ``//`` here and ``div`` there both truncate toward zero,
    so every intermediate is bit-identical cross-engine."""
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f"""w{i} AS MATERIALIZED (
    SELECT g.i AS pos, SUM(g.g * v.v) AS w
    FROM gram g JOIN v{i - 1} v ON v.pos = g.j GROUP BY g.i
),
v{i} AS (
    SELECT pos, CASE WHEN t.mx = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST((w * {_PCA_SCALE}) // t.mx AS BIGINT) END AS v
    FROM w{i}, (SELECT MAX(abs(w)) AS mx FROM w{i}) t
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH ex AS ({_EMB_EXPLODE_SQL}),
xf AS MATERIALIZED (
    SELECT vec_id, pos, CAST(floor(CAST(val AS DOUBLE) * {float(_PCA_F)}) AS BIGINT) AS x
    FROM ex
),
mean AS (
    SELECT pos, SUM(x) // COUNT(*) AS m FROM xf GROUP BY pos
),
cen AS MATERIALIZED (
    SELECT xf.vec_id, xf.pos, xf.x - mean.m AS c FROM xf JOIN mean USING (pos)
),
gram AS MATERIALIZED (
    SELECT a.pos AS i, b.pos AS j, SUM(a.c * b.c) AS g
    FROM cen a JOIN cen b USING (vec_id)
    GROUP BY a.pos, b.pos
),
v0 AS (
    SELECT pos, CAST({_PCA_SCALE} AS BIGINT) AS v FROM mean
),
{chain}
SELECT CAST(pos AS BIGINT) AS pos, v AS comp_fp FROM v{iters} ORDER BY pos
"""


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero division for exact Python ints — the
    semantics Spark's ``div`` and DuckDB's ``//`` share (Python's
    ``//`` floors, which differs on negative numerators)."""
    q = abs(a) // b
    return q if a >= 0 else -q


@register(
    "pca_power_topcomp",
    tags=("ext", "llm", "similarity", "iterative"),
    oracle=_pca_oracle(),
)
def pca_power_topcomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding table by fixed-point
    power iteration — the dimensionality-reduction / whitening leg of
    the embedding toolchain (dominant-axis removal a la
    all-but-the-top embedding post-processing, drift axes,
    PCA-initialized OPQ rotations). Output is the 64-row eigenvector
    at |v|_inf = 2^20, hash-verified against an unrolled DuckDB CTE
    chain replaying the SAME integer updates; a numpy cross-check
    (tests/test_round8_ops.py) pins that it IS the principal axis,
    not just a deterministic vector.

    Scale split — the part that sees the data vs the part that
    iterates: the corpus-scale work is ONE covariance pass (explode +
    self-join on vec_id + partial-aggregated SUM into the d x d Gram,
    O(n d^2) map-side work and a 4096-row result, independent of
    corpus size), after which 120 power steps run on the
    parameter-sized Gram — driver-side in exact Python ints (the
    pq_adc_recall precedent: parameter-sized state may cross the
    driver; 4096 rows here vs its 640-row ADC table). Iterating on
    the Gram instead of the data is what makes 120 steps affordable:
    on the data matrix each step would re-scan the corpus.

    Exactness: centering uses ``sum div count`` (truncating integer
    mean, identical cross-engine); Gram entries are BIGINT pair
    products under a widening sum (DECIMAL(38,0) in Spark, HUGEINT in
    DuckDB — good past 10^9 vectors); each step is integer
    matrix-vector products rescaled by trunc-division with the max
    |component|. No float enters after quantization. The final step
    runs IN-PLAN (broadcast v, one Gram join, 1-row max broadcast) so
    the returned frame is computed distributed end-to-end."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    xf = emb.select("vec_id", F.posexplode("embedding").alias("pos0", "val")).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * F.lit(float(_PCA_F))).cast("long").alias("x"),
    )
    mean = xf.groupBy("pos").agg(F.expr("sum(x) div count(*)").alias("m"))
    cen = xf.join(F.broadcast(mean), "pos").select(
        "vec_id", "pos", (F.col("x") - F.col("m")).alias("c")
    )
    # Feeds the driver pull AND the final in-plan step.
    gram = pin(
        cen.alias("a")
        .join(cen.alias("b"), "vec_id")
        .groupBy(F.col("a.pos").alias("i"), F.col("b.pos").alias("j"))
        .agg(F.sum((F.col("a.c") * F.col("b.c")).cast("decimal(38,0)")).alias("g"))
    )

    g_rows = gram.collect()  # d^2 = 4096 rows — parameter-sized, never data
    pos_list = sorted({int(r.i) for r in g_rows})
    gm = {(int(r.i), int(r.j)): int(r.g) for r in g_rows}
    v = {p: _PCA_SCALE for p in pos_list}
    for _ in range(_PCA_ITERS - 1):  # last step runs in-plan below
        w = {i: sum(gm[(i, j)] * v[j] for j in pos_list) for i in pos_list}
        mx = max(abs(x) for x in w.values())
        v = {p: (0 if mx == 0 else _tdiv(w[p] * _PCA_SCALE, mx)) for p in pos_list}

    vdf = F.broadcast(
        spark.createDataFrame([(p, v[p]) for p in pos_list], "j INT, v LONG")
    )
    w_df = gram.join(vdf, "j").groupBy("i").agg(F.sum(F.col("g") * F.col("v")).alias("w"))
    mx_df = w_df.agg(F.max(F.abs(F.col("w"))).alias("mx"))
    return (
        w_df.crossJoin(F.broadcast(mx_df))
        .select(
            F.col("i").cast("long").alias("pos"),
            F.when(F.col("mx") == F.lit(0), F.lit(0).cast("long"))
            .otherwise(F.expr(f"CAST((w * {_PCA_SCALE}) div mx AS BIGINT)"))
            .alias("comp_fp"),
        )
        .orderBy("pos")
    )


_HN_NQ = 20  # anchor panel size
_HN_K = 5  # hard negatives per anchor

_HN_ORACLE = f"""
WITH ex AS ({_EMB_EXPLODE_SQL}),
lab AS (SELECT vec_id, label FROM embeddings),
p AS (
    SELECT q.vec_id AS anchor_id, ql.label AS anchor_label,
           c.vec_id AS neighbor_id, cl.label AS neighbor_label,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(c.val AS DOUBLE) * {S.FP_SCALE}) AS BIGINT)) AS dot,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(q.val AS DOUBLE) * {S.FP_SCALE}) AS BIGINT)) AS qq,
           SUM(CAST(floor(CAST(c.val AS DOUBLE) * CAST(c.val AS DOUBLE) * {S.FP_SCALE}) AS BIGINT)) AS cc
    FROM (SELECT * FROM ex WHERE vec_id < {_HN_NQ}) q
    JOIN lab ql ON ql.vec_id = q.vec_id
    JOIN ex c ON c.pos = q.pos
    JOIN lab cl ON cl.vec_id = c.vec_id AND cl.label <> ql.label
    GROUP BY 1, 2, 3, 4
)
SELECT anchor_id, anchor_label, neighbor_id, neighbor_label, cosine, CAST(rk AS BIGINT) AS rk
FROM (
    SELECT anchor_id, anchor_label, neighbor_id, neighbor_label,
           CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) AS cosine,
           ROW_NUMBER() OVER (
               PARTITION BY anchor_id
               ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                        neighbor_id
           ) AS rk
    FROM p
) t
WHERE rk <= {_HN_K}
ORDER BY anchor_id, rk
"""


@register(
    "hard_negative_mining",
    tags=("ext", "llm", "similarity"),
    oracle=_HN_ORACLE,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining: for each anchor in a bounded
    panel, the top-5 most-cosine-similar vectors carrying a DIFFERENT
    label — the hard negatives a dense-retriever / embedding-model
    trainer pairs with each anchor (high similarity + wrong class =
    maximal gradient signal). The label filter is what distinguishes
    this from kNN: the nearest same-class neighbors are excluded
    before ranking.

    Plan shape: the knn_fast pattern — the anchor panel broadcasts
    (parameter-sized, never grows with the corpus), one pass over the
    candidate side with the in-row fixed-point cosine fold
    (S.cosine_col_fp: per-element floor(x*y*2^40) BIGINT sums, no
    explode, bit-identical to the relational oracle), partial top-k
    under the per-anchor window. At 100 TB the candidate pass composes
    with the IVF route (S.ivf_scored) exactly like ann queries do —
    mine within the anchor's nprobe clusters, minus its label."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < _HN_NQ).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("q_emb"),
    )
    # r14 opt: per-vector self-norms precomputed once per side (see
    # embedding_neardup_pairs — same integers, bit-identical cosine).
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
        S.self_norm_fp_col(F.col("embedding")).alias("cc"),
    )
    pairs = F.broadcast(q.withColumn("qq", S.self_norm_fp_col(F.col("q_emb")))).join(
        c, F.col("anchor_label") != F.col("neighbor_label")
    )
    scored = pairs.select(
        "anchor_id",
        "anchor_label",
        "neighbor_id",
        "neighbor_label",
        S.cosine_from_fp(
            S.dot_fp_col(F.col("q_emb"), F.col("c_emb")), F.col("qq"), F.col("cc")
        ).alias("cosine"),
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _HN_K)
        .select("anchor_id", "anchor_label", "neighbor_id", "neighbor_label", "cosine", "rk")
        .orderBy("anchor_id", "rk")
    )


# --- SQ8 reconstruction error ------------------------------------------------
# The per-vector half of the int8 story: int8_knn_recall measures what
# SQ8 costs in RANKING; this measures what it costs each VECTOR — the
# cosine between the float vector and its dequantized code. The scale
# cancels (dequant = qv * s / 127), so the reconstruction cosine is
# the mixed float x integer dot, computable exactly in the suite's
# 2^40 fixed point: dot = Σ floor(val*qv*2^40) (|val*qv| <= 127 keeps
# the 64-dim sum near 9e15, int64-safe), qq = the standard float fold,
# cc = Σ qv² (plain integer), cos = dot / sqrt(qq * cc * 2^40). The
# production read: vectors whose reconstruction cosine sits below the
# fleet's floor are the ones an SQ8 index will misrank — re-encode
# them at higher precision or exclude them from compression.
_SQ8R_ORACLE = f"""
WITH ex AS ({_EMB_EXPLODE_SQL}),
scales AS (
    SELECT vec_id, MAX(abs(CAST(val AS DOUBLE))) AS s FROM ex GROUP BY vec_id
),
qz AS (
    SELECT ex.vec_id, ex.pos, CAST(val AS DOUBLE) AS val,
           CASE WHEN s = 0 THEN 0
                ELSE CAST(floor((CAST(val AS DOUBLE) / s) * 127.0) AS BIGINT) END AS qv
    FROM ex JOIN scales USING (vec_id)
)
SELECT vec_id,
       CAST(SUM(CAST(floor(val * qv * 1099511627776.0) AS BIGINT)) AS BIGINT) AS dot_fp,
       CAST(SUM(qv * qv) AS BIGINT) AS cc_q,
       CAST(SUM(CAST(floor(val * val * 1099511627776.0) AS BIGINT)) AS DOUBLE)
           / 1099511627776.0 AS qq,
       CAST(SUM(CAST(floor(val * qv * 1099511627776.0) AS BIGINT)) AS DOUBLE)
           / sqrt(CAST(SUM(CAST(floor(val * val * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                  * CAST(SUM(qv * qv) AS DOUBLE) * 1099511627776.0) AS recon_cosine
FROM qz
GROUP BY vec_id
ORDER BY vec_id
"""


@register(
    "sq8_reconstruction_error",
    tags=("ext", "llm", "similarity", "quantization", "audit"),
    oracle=_SQ8R_ORACLE,
)
def sq8_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector SQ8 reconstruction cosine (exact mixed fixed-point
    spec in the block above) — the vector-level audit paired with
    int8_knn_recall's ranking-level one. Plan shape: one explode, one
    (vec_id)-keyed aggregate for the scales, one more for the three
    sums — at 100 TB both are map-side-partial hash aggregates keyed
    by the vector id, no joins wider than the scale lookup."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    # ex feeds the scale aggregate and the quantize join.
    ex = pin(
        emb.select("vec_id", F.posexplode("embedding").alias("pos0", "val")).select(
            "vec_id", (F.col("pos0") + 1).alias("pos"), F.col("val").cast("double").alias("val")
        )
    )
    scales = ex.groupBy("vec_id").agg(F.max(F.abs("val")).alias("s"))
    qz = ex.join(scales, "vec_id").select(
        "vec_id",
        "val",
        F.when(F.col("s") == 0, F.lit(0).cast("long"))
        .otherwise(F.floor((F.col("val") / F.col("s")) * 127.0).cast("long"))
        .alias("qv"),
    )
    fp = 1099511627776.0
    agg = qz.groupBy("vec_id").agg(
        F.sum(F.floor(F.col("val") * F.col("qv") * fp).cast("long")).alias("dot_fp"),
        F.sum(F.col("qv") * F.col("qv")).alias("cc_q"),
        F.sum(F.floor(F.col("val") * F.col("val") * fp).cast("long")).alias("qq_fp"),
    )
    return agg.select(
        "vec_id",
        "dot_fp",
        "cc_q",
        (F.col("qq_fp").cast("double") / F.lit(fp)).alias("qq"),
        (
            F.col("dot_fp").cast("double")
            / F.sqrt(F.col("qq_fp").cast("double") * F.col("cc_q").cast("double") * F.lit(fp))
        ).alias("recon_cosine"),
    ).orderBy("vec_id")


# --- kNN label disagreement --------------------------------------------------
# Label-noise detection, the kNN way (Confident Learning's cheap
# cousin): a vector whose nearest neighbors overwhelmingly carry a
# DIFFERENT label is either mislabeled or sits on a class boundary —
# either way it is what a label-audit queue should surface first.
# For the standing 50-vector panel, the top-5 cosine neighbors come
# from the FULL corpus (no label blocking — the disagreement IS the
# signal), majority label by count with min-label tie-break.
_LND_NQ = 50
_LND_K = 5

_LND_ORACLE = f"""
WITH ex AS ({_EMB_EXPLODE_SQL}),
lab AS (SELECT vec_id, label FROM embeddings),
p AS (
    SELECT q.vec_id AS anchor_id, c.vec_id AS neighbor_id,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(c.val AS DOUBLE) * {S.FP_SCALE}) AS BIGINT)) AS dot,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(q.val AS DOUBLE) * {S.FP_SCALE}) AS BIGINT)) AS qq,
           SUM(CAST(floor(CAST(c.val AS DOUBLE) * CAST(c.val AS DOUBLE) * {S.FP_SCALE}) AS BIGINT)) AS cc
    FROM (SELECT * FROM ex WHERE vec_id < {_LND_NQ}) q
    JOIN ex c ON c.pos = q.pos AND c.vec_id <> q.vec_id
    GROUP BY 1, 2
),
knn AS (
    SELECT anchor_id, neighbor_id FROM (
        SELECT anchor_id, neighbor_id,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                                           neighbor_id) AS rk
        FROM p
    ) r WHERE rk <= {_LND_K}
),
votes AS (
    SELECT k.anchor_id, nl.label AS nlabel, CAST(COUNT(*) AS BIGINT) AS votes
    FROM knn k JOIN lab nl ON nl.vec_id = k.neighbor_id
    GROUP BY 1, 2
),
maj AS (
    SELECT anchor_id, nlabel AS majority_label FROM (
        SELECT anchor_id, nlabel,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY votes DESC, nlabel) AS rn
        FROM votes
    ) m WHERE rn = 1
),
dis AS (
    SELECT k.anchor_id, al.label,
           CAST(SUM(CASE WHEN nl.label <> al.label THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree
    FROM knn k
    JOIN lab al ON al.vec_id = k.anchor_id
    JOIN lab nl ON nl.vec_id = k.neighbor_id
    GROUP BY 1, 2
)
SELECT d.anchor_id, d.label, d.n_disagree, m.majority_label,
       (m.majority_label <> d.label AND d.n_disagree * 2 > {_LND_K}) AS flagged
FROM dis d JOIN maj m ON m.anchor_id = d.anchor_id
ORDER BY d.anchor_id
"""


@register(
    "knn_label_disagreement",
    tags=("ext", "llm", "similarity", "quality", "audit"),
    oracle=_LND_ORACLE,
)
def knn_label_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit for the 50-vector panel: per anchor, how many
    of its full-corpus top-5 cosine neighbors disagree with its label,
    the neighborhood's majority label (count-desc, min-label
    tie-break), and the flag (majority differs AND a strict majority
    disagrees). Spec + rationale in the block above.

    Plan shape: the knn_fast pattern — broadcast anchor panel, one
    candidate pass with the in-row fixed-point cosine fold, per-anchor
    partial top-k; the vote/majority stages run on the bounded
    panel x k edge list. At 100 TB the candidate pass composes with
    the IVF route exactly like hard_negative_mining."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < _LND_NQ).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("alabel"),
        F.col("embedding").alias("q_emb"),
    )
    # r14 opt: per-vector self-norms precomputed once per side (see
    # embedding_neardup_pairs — same integers, bit-identical cosine).
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel"),
        F.col("embedding").alias("c_emb"),
        S.self_norm_fp_col(F.col("embedding")).alias("cc"),
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    # Bounded panel x k; votes + disagreement reuse it.
    knn = pin(
        c.crossJoin(F.broadcast(q.withColumn("qq", S.self_norm_fp_col(F.col("q_emb")))))
        .filter(F.col("neighbor_id") != F.col("anchor_id"))
        .select(
            "anchor_id", "alabel", "neighbor_id", "nlabel",
            S.cosine_from_fp(
                S.dot_fp_col(F.col("q_emb"), F.col("c_emb")), F.col("qq"), F.col("cc")
            ).alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _LND_K)
    )
    votes = knn.groupBy("anchor_id", "nlabel").agg(F.count(F.lit(1)).alias("votes"))
    mw = Window.partitionBy("anchor_id").orderBy(F.col("votes").desc(), "nlabel")
    maj = (
        votes.withColumn("rn", F.row_number().over(mw))
        .filter(F.col("rn") == 1)
        .select("anchor_id", F.col("nlabel").alias("majority_label"))
    )
    dis = knn.groupBy("anchor_id", F.col("alabel").alias("label")).agg(
        F.sum((F.col("nlabel") != F.col("alabel")).cast("long")).alias("n_disagree")
    )
    return (
        dis.join(F.broadcast(maj), "anchor_id")
        .select(
            "anchor_id",
            "label",
            "n_disagree",
            "majority_label",
            (
                (F.col("majority_label") != F.col("label"))
                & (F.col("n_disagree") * 2 > F.lit(_LND_K))
            ).alias("flagged"),
        )
        .orderBy("anchor_id")
    )


# --- label separation audit --------------------------------------------------
# Silhouette-lite for a labeled embedding space: per label, the mean
# fixed-point cosine of its members to their OWN centroid vs to the
# nearest OTHER centroid, and the margin between the two. The
# embedding-quality gate for classification corpora — a collapsed
# margin means the labels are unlearnable in this space (and indeed
# THIS fixture's labels don't track cosine geometry — the audit's
# honest output, consistent with ivf label-block recall ~0.08 and the
# kNN disagreement audit). Centroids are the drift audit's 10^6
# fixed-point integer means; member-to-centroid cosines use the
# mixed fold (dot of float member x integer centroid at 2^20 — the
# SQ8 pattern, int64-safe at any corpus size since the centroid side
# is bounded by 10^6).
_SEP_FP = 1_000_000
_SEP_C2 = 1_048_576.0  # 2^20 — member x centroid quantization

_SEP_ORACLE = f"""
WITH ex AS ({_EMB_EXPLODE_SQL}),
lab AS (SELECT vec_id, label FROM embeddings),
g AS (
    SELECT l.label, e.pos,
           CAST(SUM(CAST(floor(CAST(e.val AS DOUBLE) * {_SEP_FP}) AS BIGINT)) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ex e JOIN lab l ON l.vec_id = e.vec_id
    GROUP BY l.label, e.pos
),
cent AS (SELECT label, pos, s // n AS c FROM g),
mc AS (
    SELECT e.vec_id, l.label AS mlabel, c.label AS clabel,
           CAST(SUM(CAST(floor(CAST(e.val AS DOUBLE) * c.c * {_SEP_C2}) AS BIGINT)) AS BIGINT) AS dot,
           CAST(SUM(CAST(floor(CAST(e.val AS DOUBLE) * CAST(e.val AS DOUBLE) * {_SEP_C2}) AS BIGINT)) AS BIGINT) AS vv,
           CAST(SUM(c.c * c.c) AS BIGINT) AS cc
    FROM ex e
    JOIN lab l ON l.vec_id = e.vec_id
    JOIN cent c ON c.pos = e.pos
    GROUP BY 1, 2, 3
),
cosr AS (
    SELECT vec_id, mlabel, clabel,
           CAST(dot AS DOUBLE) / sqrt(CAST(vv AS DOUBLE) * CAST(cc AS DOUBLE) * {_SEP_C2}) AS cosine
    FROM mc
),
own AS (SELECT vec_id, mlabel,
               CAST(floor(cosine * 1000000.0) AS BIGINT) AS own_fp
        FROM cosr WHERE clabel = mlabel),
best_other AS (
    SELECT vec_id, CAST(floor(MAX(cosine) * 1000000.0) AS BIGINT) AS other_fp
    FROM cosr WHERE clabel <> mlabel GROUP BY vec_id
)
SELECT o.mlabel AS label,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(o.own_fp) // COUNT(*) AS BIGINT) AS mean_own_fp,
       CAST(SUM(b.other_fp) // COUNT(*) AS BIGINT) AS mean_best_other_fp,
       CAST((SUM(o.own_fp) - SUM(b.other_fp)) // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS mean_margin_fp,
       CAST(SUM(CASE WHEN o.own_fp > b.other_fp THEN 1 ELSE 0 END) AS BIGINT) AS n_separated
FROM own o JOIN best_other b ON b.vec_id = o.vec_id
GROUP BY 1
ORDER BY label
"""


@register(
    "label_separation_audit",
    tags=("ext", "llm", "similarity", "audit"),
    oracle=_SEP_ORACLE,
)
def label_separation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cosine separation: members' mean cosine to their own
    centroid vs the best other centroid, the margin, and how many
    members actually sit closer to home (exact mixed fixed-point spec
    in the block above). Plan shape: centroids are one (label, pos)
    aggregate (parameter-sized, broadcast); the member-x-centroid
    scoring is one pass over the exploded embeddings joined to the
    k x dim centroid table; everything after is per-vector rows.

    Mean cosines are reported in 10^6 fixed point: each per-vector
    cosine (identical double in both engines) is floor-quantized FIRST,
    then integer-summed — partition-order independent, so the means are
    hash-exact (the suite's standard answer to double-sum ordering)."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    ex = emb.select("vec_id", "label", F.posexplode("embedding").alias("pos0", "val")).select(
        "vec_id", "label", (F.col("pos0") + 1).alias("pos"), F.col("val").cast("double").alias("val")
    )
    g = ex.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.expr(f"CAST(sum(CAST(floor(val * {_SEP_FP}) AS BIGINT)) AS BIGINT)").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    cent = g.select("clabel", "pos", F.expr("s div n").alias("c"))
    mc = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", F.col("label").alias("mlabel"), "clabel")
        .agg(
            F.sum(F.floor(F.col("val") * F.col("c") * _SEP_C2).cast("long")).alias("dot"),
            F.sum(F.floor(F.col("val") * F.col("val") * _SEP_C2).cast("long")).alias("vv"),
            F.sum(F.col("c") * F.col("c")).alias("cc"),
        )
    )
    cosr = pin(mc.select(
        "vec_id",
        "mlabel",
        "clabel",
        (
            F.col("dot").cast("double")
            / F.sqrt(F.col("vv").cast("double") * F.col("cc").cast("double") * F.lit(_SEP_C2))
        ).alias("cosine"),
    ))  # per-vector x k rows; own/other both reuse it
    own = cosr.filter(F.col("clabel") == F.col("mlabel")).select(
        "vec_id", "mlabel", F.col("cosine").alias("own_cos")
    )
    other = (
        cosr.filter(F.col("clabel") != F.col("mlabel"))
        .groupBy("vec_id")
        .agg(F.max("cosine").alias("other_cos"))
    )
    j = own.select(
        "vec_id", "mlabel", F.floor(F.col("own_cos") * 1_000_000.0).cast("long").alias("own_fp")
    ).join(
        other.select("vec_id", F.floor(F.col("other_cos") * 1_000_000.0).cast("long").alias("other_fp")),
        "vec_id",
    )
    return (
        j.groupBy(F.col("mlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.expr("sum(own_fp) div count(*)").alias("mean_own_fp"),
            F.expr("sum(other_fp) div count(*)").alias("mean_best_other_fp"),
            F.expr("(sum(own_fp) - sum(other_fp)) div count(*)").alias("mean_margin_fp"),
            F.sum((F.col("own_fp") > F.col("other_fp")).cast("long")).alias("n_separated"),
        )
        .orderBy("label")
    )


# --- semantic cosine histogram --------------------------------------------------
# The threshold-tuning curve for semantic_dedup_pairs: the full
# distribution of within-cluster pair cosines, bucketed at 0.05 width
# (floor(cos*20), clamped) — where the production θ = 0.3 cut sits on
# the actual corpus. The published SemDeDup recipe picks θ by staring
# at exactly this histogram: a valley between the topical hump and the
# near-dup spike is a safe θ; no valley means the threshold trades
# precision for recall smoothly and needs downstream validation. Same
# learned blocks, same in-row fixed-point cosine, NO threshold filter
# — the aggregate replaces it.
_SCH_ORACLE = (
    _kmeans_ctes(DEFAULT_K, DEFAULT_ITERS)
    + f""",
p AS (
    SELECT CAST(least(greatest(CAST(floor(
               (CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                   x -> CAST(floor(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) * 1099511627776.0) AS BIGINT))) AS DOUBLE)
                / sqrt(CAST(list_sum(list_transform(a.embedding,
                      v -> CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1099511627776.0) AS BIGINT))) AS DOUBLE)
                     * CAST(list_sum(list_transform(b.embedding,
                      v -> CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1099511627776.0) AS BIGINT))) AS DOUBLE)))
               * 20) AS BIGINT), -20), 19) AS BIGINT) AS bucket
    FROM a{DEFAULT_ITERS + 1} aa
    JOIN a{DEFAULT_ITERS + 1} bb ON bb.cluster = aa.cluster AND aa.vec_id < bb.vec_id
    JOIN embeddings a ON a.vec_id = aa.vec_id
    JOIN embeddings b ON b.vec_id = bb.vec_id
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM p GROUP BY bucket ORDER BY bucket
"""
)


@register(
    "semantic_cosine_histogram",
    tags=("ext", "llm", "dedup", "similarity", "iterative", "audit"),
    oracle=_SCH_ORACLE,
)
def semantic_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cluster cosine distribution at 0.05 resolution — the
    histogram the SemDeDup threshold is picked from (block comment
    above; bucket = clamp(floor(cos·20), -20, 19), exact on identical
    doubles). Plan shape: semantic_dedup_pairs' exact plan with the
    θ filter replaced by a 40-cell aggregate — learned blocks bound the
    pair set, the in-row fold never explodes to |pairs| × dim."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    _cents, assign_df = kmeans_fit(emb)
    # Both self-join sides read the pandas_udf assignment.
    assigned = pin(assign_df(emb).select("vec_id", "embedding", "cluster"))
    # r14 opt: per-vector self-norms precomputed once per side; the
    # pair stage folds only the dot (operators/similarity — same
    # integers, bit-identical cosine).
    a = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        S.self_norm_fp_col(F.col("embedding")).alias("qq"),
    )
    b = assigned.select(
        F.col("cluster").alias("cluster_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        S.self_norm_fp_col(F.col("embedding")).alias("cc"),
    )
    pairs = a.join(b, (F.col("cluster") == F.col("cluster_b")) & (F.col("vec_a") < F.col("vec_b")))
    bucket = F.least(
        F.greatest(
            F.floor(
                S.cosine_from_fp(
                    S.dot_fp_col(F.col("emb_a"), F.col("emb_b")), F.col("qq"), F.col("cc")
                )
                * 20
            ).cast("long"),
            F.lit(-20),
        ),
        F.lit(19),
    )
    return (
        pairs.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("bucket")
    )


# --- embedding dimension stats -------------------------------------------------
# Per-dimension health audit for the embedding space: exact fixed-point
# mean and variance, extremes, and a dead-dimension flag. Dead dims
# (variance ~ 0) waste index width and silently break cosine-based
# whitening; exploding dims dominate dot products and are the usual
# suspect when recall collapses after a model swap. Variance is the
# exact integer form n·Σx² − (Σx)² over 10^6 fixed point, divided once
# (x_fp ≤ ~10^6, Σx_fp² ≤ n·10^12 — int64-safe to ~10^6 vectors; past
# that the two sums widen to DECIMAL(38,0), the cusum precedent).
_DIM_FP = 1_000_000

_DIMSTATS_ORACLE = f"""
WITH ex AS ({_EMB_EXPLODE_SQL}),
q AS (
    SELECT pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * {_DIM_FP}) AS BIGINT)) AS BIGINT) AS s1,
           CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * {_DIM_FP}) AS BIGINT)
                    * CAST(floor(CAST(val AS DOUBLE) * {_DIM_FP}) AS BIGINT)) AS BIGINT) AS s2,
           CAST(MIN(CAST(floor(CAST(val AS DOUBLE) * {_DIM_FP}) AS BIGINT)) AS BIGINT) AS min_fp,
           CAST(MAX(CAST(floor(CAST(val AS DOUBLE) * {_DIM_FP}) AS BIGINT)) AS BIGINT) AS max_fp
    FROM ex GROUP BY pos
)
SELECT CAST(pos AS BIGINT) AS pos, n,
       CAST(s1 // n AS BIGINT) AS mean_fp,
       CAST((n * s2 - s1 * s1) // (n * n) AS BIGINT) AS var_fp2,
       min_fp, max_fp,
       ((n * s2 - s1 * s1) // (n * n)) < 1000000 AS is_dead
FROM q
ORDER BY pos
"""


@register(
    "embedding_dim_stats",
    tags=("ext", "llm", "similarity", "audit"),
    oracle=_DIMSTATS_ORACLE,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics — exact fixed-point mean,
    variance (units of 10^-12: the fp² scale), extremes, and the dead-
    dimension flag (var < 10^-6) — the index-width and whitening
    pre-flight (block comment above). Plan shape: one explode into ONE
    (pos)-keyed map-side-partial aggregate; output is dim-sized."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    ex = emb.select(F.posexplode("embedding").alias("pos0", "val")).select(
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.floor(F.col("val").cast("double") * _DIM_FP).cast("long").alias("x"),
    )
    q = ex.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
        F.min("x").alias("min_fp"),
        F.max("x").alias("max_fp"),
    )
    return q.select(
        "pos",
        "n",
        F.expr("s1 div n").alias("mean_fp"),
        F.expr("(n * s2 - s1 * s1) div (n * n)").alias("var_fp2"),
        "min_fp",
        "max_fp",
        (F.expr("(n * s2 - s1 * s1) div (n * n)") < 1_000_000).alias("is_dead"),
    ).orderBy("pos")


# --- Johnson-Lindenstrauss distortion audit ---------------------------------

_JL_NP = 16  # pair panel: vec_id < 16 -> 120 pairs (fixed-size audit)
_JL_K = 16  # projected dimensionality
_JL_Q = 16_384  # 2^14 coordinate quantization — int64 headroom note below
_JL_RATIO = 1_000_000 // _JL_K  # ppm scale folded with the 1/k variance factor


def _jl_sign_sql(j: str, pos: str) -> str:
    """Engine-portable Rademacher sign for projection row j, input pos:
    the low bit of the first md5 hex digit of 'j:pos' mapped to ±1."""
    return (
        f"(CAST(concat('0x', substr(md5(concat(CAST({j} AS VARCHAR), ':', "
        f"CAST({pos} AS VARCHAR))), 1, 1)) AS BIGINT) % 2 * 2 - 1)"
    )


_JL_ORACLE = f"""
WITH eq AS (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_JL_Q}) AS BIGINT) AS xq
    FROM embeddings WHERE vec_id < {_JL_NP}
), sgn AS (
    SELECT j.j, p.pos, {_jl_sign_sql("j.j", "p.pos")} AS sgn
    FROM (SELECT unnest(range(0, {_JL_K})) AS j) j,
         (SELECT unnest(range(0, 64)) AS pos) p
), proj AS (
    SELECT eq.vec_id, s.j, CAST(SUM(s.sgn * eq.xq) AS BIGINT) AS pv
    FROM eq JOIN sgn s ON s.pos = eq.pos
    GROUP BY eq.vec_id, s.j
), dorig AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(SUM((a.xq - b.xq) * (a.xq - b.xq)) AS BIGINT) AS d_orig_fp
    FROM eq a JOIN eq b ON a.pos = b.pos AND a.vec_id < b.vec_id
    GROUP BY 1, 2
), dproj AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(SUM((a.pv - b.pv) * (a.pv - b.pv)) AS BIGINT) AS d_proj_fp
    FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
    GROUP BY 1, 2
)
SELECT o.vec_a, o.vec_b, o.d_orig_fp, p.d_proj_fp,
       p.d_proj_fp * {_JL_RATIO} // o.d_orig_fp AS ratio_ppm
FROM dorig o JOIN dproj p ON p.vec_a = o.vec_a AND p.vec_b = o.vec_b
"""


@register(
    "jl_distortion_audit",
    tags=("ext", "ml", "embedding", "audit"),
    oracle=_JL_ORACLE,
)
def jl_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion of a Rademacher random
    projection 64 -> 16 dims, measured on a fixed pair panel: per pair,
    the exact squared L2 distance before and after projection and their
    ratio in ppm (1e6 = distortion-free after the 1/k variance factor;
    JL says the spread around 1e6 shrinks as k grows). This is the
    go/no-go audit before swapping full embeddings for projected ones
    in the ANN/near-dup stack (SRP blocking, IVF) — measured on YOUR
    vectors, not assumed from the lemma.

    Exactness: coordinates quantize to floor(x·2^14) int64 FIRST, so
    every later op (signed sums, squared diffs, ratio) is pure-integer
    and engine-exact. The ±1 signs derive from md5(j:pos) — the same
    portable-hash convention as the SRP/LSH operators. int64 headroom:
    |xq| ≤ 2^14·0.53 ≈ 8.7e3 ⇒ |proj| ≤ 64·8.7e3 ≈ 5.6e5,
    d_proj ≤ 16·(2·5.6e5)² ≈ 2e13, ×62500 ≈ 1.25e18 < 2^63.

    Plan shape: the panel filter prunes the scan to _JL_NP vectors;
    the sign matrix is a 1024-row broadcast literal; both distance
    joins are panel-sized. At 100 TB the same plan projects the full
    corpus map-side (one broadcast sign join, one (vec, j) aggregate)
    while the AUDIT stays panel-bounded."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Two consumers: d_orig and the projection.
    eq = pin(
        emb.filter(F.col("vec_id") < _JL_NP)
        .select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .select(
            "vec_id",
            "pos",
            F.floor(F.col("val").cast("double") * _JL_Q).cast("long").alias("xq"),
        )
    )
    sign = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("pos").cast("string"))),
                1,
                1,
            ),
            16,
            10,
        ).cast("long")
        % 2
        * 2
        - 1
    )
    sgn = (
        spark.range(_JL_K)
        .select(F.col("id").alias("j"))
        .crossJoin(spark.range(64).select(F.col("id").alias("pos")))
        .select("j", "pos", sign.alias("sgn"))
    )
    # Self-joined below.
    proj = pin(
        eq.join(F.broadcast(sgn), "pos")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("sgn") * F.col("xq")).alias("pv"))
    )
    a, b = eq.alias("a"), eq.alias("b")
    dorig = (
        a.join(b, (F.col("a.pos") == F.col("b.pos")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .groupBy(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .agg(
            F.sum(
                (F.col("a.xq") - F.col("b.xq")) * (F.col("a.xq") - F.col("b.xq"))
            ).alias("d_orig_fp")
        )
    )
    pa, pb = proj.alias("pa"), proj.alias("pb")
    dproj = (
        pa.join(pb, (F.col("pa.j") == F.col("pb.j")) & (F.col("pa.vec_id") < F.col("pb.vec_id")))
        .groupBy(F.col("pa.vec_id").alias("vec_a"), F.col("pb.vec_id").alias("vec_b"))
        .agg(
            F.sum(
                (F.col("pa.pv") - F.col("pb.pv")) * (F.col("pa.pv") - F.col("pb.pv"))
            ).alias("d_proj_fp")
        )
    )
    return dorig.join(dproj, ["vec_a", "vec_b"]).select(
        "vec_a",
        "vec_b",
        "d_orig_fp",
        "d_proj_fp",
        F.expr(f"d_proj_fp * {_JL_RATIO} div d_orig_fp").alias("ratio_ppm"),
    )


def _sil_oracle() -> str:
    i = DEFAULT_ITERS + 1
    return (
        _kmeans_ctes()
        + f""",
sil AS (
    SELECT d.vec_id, a.cluster,
           MIN(CASE WHEN d.cluster = a.cluster THEN d.dist END) AS a_dist,
           MIN(CASE WHEN d.cluster <> a.cluster THEN d.dist END) AS b_dist
    FROM d{i} d JOIN a{i} a USING (vec_id)
    GROUP BY d.vec_id, a.cluster
), terms AS (
    SELECT cluster,
           CASE WHEN greatest(a_dist, b_dist) = 0 THEN 0
                ELSE CAST(floor(CAST(b_dist - a_dist AS DOUBLE)
                                / CAST(greatest(a_dist, b_dist) AS DOUBLE) * 1000000) AS BIGINT)
           END AS s_ppm
    FROM sil
)
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(s_ppm) // COUNT(*) AS BIGINT) AS mean_sil_ppm,
       CAST(MIN(s_ppm) AS BIGINT) AS min_sil_ppm
FROM terms GROUP BY cluster"""
    )


@register(
    "simplified_silhouette_by_cluster",
    tags=("ext", "llm", "similarity", "iterative", "pandas"),
    oracle=_sil_oracle(),
)
def simplified_silhouette_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per K-Means cluster:
    for every vector, a = fixed-point squared distance to its OWN
    (nearest) centroid, b = distance to the nearest OTHER centroid,
    s = (b - a) / max(a, b) in [0, 1) — the per-cluster mean and
    minimum separation margin. The cluster-quality readout that says
    WHICH clusters of ``kmeans_cluster_sizes`` are well-separated and
    which overlap (low margin -> semantic-dedup passes inside them
    will cross true topic boundaries). Full silhouette is
    all-pairs-within-cluster (O(n^2) — a non-starter at corpus scale);
    the centroid form is the standard O(n*k) surrogate.

    Exactness: distances are the Lloyd kernel's int64 fixed-point
    sums; each vector's margin is floored to ppm in an identical
    double expression on both sides, so the per-cluster mean is an
    integer sum `div` count. The oracle replays the exact Lloyd
    trajectory (``_kmeans_ctes``) and reads a/b from the final
    distance table — no re-derivation drift possible.

    Plan: one Arrow-batched kernel pass emits each vector's k-distance
    array (k x dim centroid matrix rides in the closure — no join, no
    shuffle); own/other margins come from array HOFs on that row-local
    array; ONE hash aggregate at the cluster grain ends the query."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    emb = load_table(spark, sf_dir, "embeddings")
    cents, _ = lloyd_fit(emb)

    @pandas_udf("array<long>")
    def dists(emb_s):
        import pandas as pd

        return pd.Series(list(fp_dists(np.array(emb_s.tolist(), dtype=np.float64), cents)[:, 0]))

    per_vec = (
        emb.select("vec_id", dists(F.col("embedding")).alias("ds"))
        .withColumn("cluster", (F.expr("array_position(ds, array_min(ds))") - 1).cast("long"))
        .withColumn("a_dist", F.array_min("ds"))
        .withColumn(
            "b_dist",
            F.expr("array_min(transform(ds, (x, i) -> IF(i = CAST(cluster AS INT), NULL, x)))"),
        )
        .withColumn(
            "s_ppm",
            F.when(F.greatest("a_dist", "b_dist") == 0, F.lit(0)).otherwise(
                F.floor(
                    (F.col("b_dist") - F.col("a_dist")).cast("double")
                    / F.greatest("a_dist", "b_dist").cast("double")
                    * 1_000_000
                ).cast("long")
            ),
        )
    )
    agg = per_vec.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("s_ppm").alias("_s"),
        F.min("s_ppm").cast("long").alias("min_sil_ppm"),
    )
    return agg.select(
        "cluster",
        "n_members",
        F.expr("_s div n_members").cast("long").alias("mean_sil_ppm"),
        "min_sil_ppm",
    )
