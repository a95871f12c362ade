"""[EXT] ANN index lifecycle audits (round 8): measures what the
streaming index maintenance (``streaming/ann_ingest.py``) trades away —
a stream of arriving vectors is assigned to centroids that were fit
BEFORE those vectors existed, so the coarse partition drifts away from
the true density and recall decays until a re-fit.

``ann_index_staleness_audit`` is the drift twin of
``lsh_precision_recall_audit`` (plans/dedup_audit_ext.py): the quality
of production index parameters measured in-query, oracle-verified to
the bit. The reference engine has no index at all (Flink wiring only,
``Main.java``); this tier is the LLM-pipeline surface the brief makes
first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.operators import similarity as S
from flinkstreametl_spark.operators.clustering import centroid_frame, kmeans_fit
from flinkstreametl_spark.plans.ml_ext import _kmeans_ctes
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.sources.parquet import ensure_parallelism, load_table

_K = 8  # coarse clusters (the suite's standing IVF shape)
_ITERS = 3  # Lloyd iterations — two fits per query; 3 keeps the sf1 oracle bounded
_NPROBES = [1, 2, 4, 8]  # nprobe = 8 scans every cluster -> recall 1.0 anchor
# The arrival stream: every 5th vector "arrived after the index was
# fit". The stale fit sees only the base 80%; both indexes CONTAIN all
# vectors (the streaming path appends arrivals to the stale partition).
_ARRIVALS = "vec_id % 5 = 0"
_FP = "1099511627776.0"  # 2^40


def _staleness_oracle() -> str:
    """Two Lloyd chains (refit: unprefixed, full corpus; stale:
    prefix 's', base corpus only) + a full-corpus assignment against
    the stale centroids, then one probe/candidate/recall pipeline
    keyed by index_state."""
    fin_a, fin_c = f"a{_ITERS + 1}", f"c{_ITERS}"
    sfin_c = f"sc{_ITERS}"
    nps = ", ".join(str(n) for n in _NPROBES)
    return (
        _kmeans_ctes(_K, _ITERS)
        + ",\n"
        + _kmeans_ctes(_K, _ITERS, prefix="s", where=f"NOT ({_ARRIVALS})")
        + f""",
sfd AS (
    SELECT e.vec_id, c.cluster,
           SUM(CAST(floor((e.val - c.cval) * (e.val - c.cval) * {_FP}) AS BIGINT)) AS dist
    FROM e JOIN {sfin_c} c ON e.pos = c.pos GROUP BY e.vec_id, c.cluster
),
sfa AS (
    SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        FROM sfd) t WHERE rn = 1
),
mem AS (
    SELECT 'refit' AS index_state, vec_id, cluster FROM {fin_a}
    UNION ALL
    SELECT 'stale' AS index_state, vec_id, cluster FROM sfa
),
cent AS (
    SELECT 'refit' AS index_state, cluster, pos, cval FROM {fin_c}
    UNION ALL
    SELECT 'stale' AS index_state, cluster, pos, cval FROM {sfin_c}
),
q AS (SELECT vec_id, pos, val FROM e WHERE vec_id < {S.AUDIT_QUERIES}),
ps AS (
    SELECT c.index_state, q.vec_id AS query_id, c.cluster,
           SUM(CAST(floor(q.val * c.cval * {_FP}) AS BIGINT)) AS dot,
           SUM(CAST(floor(q.val * q.val * {_FP}) AS BIGINT)) AS qq,
           SUM(CAST(floor(c.cval * c.cval * {_FP}) AS BIGINT)) AS cc
    FROM q JOIN cent c ON q.pos = c.pos
    GROUP BY 1, 2, 3
),
prb AS (
    SELECT index_state, query_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY index_state, query_id
               ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                        cluster) AS prb
    FROM ps
),
cscore AS (
    SELECT p.index_state, p.query_id, m.vec_id AS neighbor_id, p.prb,
           SUM(CAST(floor(q.val * e.val * {_FP}) AS BIGINT)) AS dot,
           SUM(CAST(floor(q.val * q.val * {_FP}) AS BIGINT)) AS qq,
           SUM(CAST(floor(e.val * e.val * {_FP}) AS BIGINT)) AS cc
    FROM prb p
    JOIN mem m ON m.index_state = p.index_state AND m.cluster = p.cluster
               AND m.vec_id <> p.query_id
    JOIN e ON e.vec_id = m.vec_id
    JOIN q ON q.vec_id = p.query_id AND q.pos = e.pos
    GROUP BY 1, 2, 3, 4
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY CAST(SUM(CAST(floor(q.val * c.val * {_FP}) AS BIGINT)) AS DOUBLE)
                            / sqrt(CAST(SUM(CAST(floor(q.val * q.val * {_FP}) AS BIGINT)) AS DOUBLE)
                                   * CAST(SUM(CAST(floor(c.val * c.val * {_FP}) AS BIGINT)) AS DOUBLE)) DESC,
                            c.vec_id
               ) AS rk
        FROM q JOIN e c ON q.pos = c.pos AND q.vec_id <> c.vec_id
        GROUP BY q.vec_id, c.vec_id
    ) WHERE rk <= {S.RECALL_K}
),
np AS (SELECT CAST(unnest([{nps}]) AS INTEGER) AS nprobe),
cand_np AS (
    SELECT c.index_state, np.nprobe, c.query_id, c.neighbor_id, c.dot, c.qq, c.cc
    FROM cscore c JOIN np ON c.prb <= np.nprobe
),
ivf_top AS (
    SELECT index_state, nprobe, query_id, neighbor_id FROM (
        SELECT index_state, nprobe, query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY index_state, nprobe, query_id
                   ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                            neighbor_id) AS rk
        FROM cand_np
    ) WHERE rk <= {S.RECALL_K}
),
hits AS (
    SELECT t.index_state, t.nprobe, CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM ivf_top t
    WHERE EXISTS (SELECT 1 FROM exact x
                  WHERE x.query_id = t.query_id AND x.neighbor_id = t.neighbor_id)
    GROUP BY 1, 2
),
cands AS (
    SELECT index_state, nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates
    FROM cand_np GROUP BY 1, 2
)
SELECT c.index_state, c.nprobe, c.n_candidates,
       COALESCE(h.n_overlap, 0) AS n_overlap,
       CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / ({S.AUDIT_QUERIES}.0 * {S.RECALL_K}.0) AS recall_at_{S.RECALL_K}
FROM cands c LEFT JOIN hits h ON h.index_state = c.index_state AND h.nprobe = c.nprobe
ORDER BY c.index_state, c.nprobe
"""
    )


@register(
    "ann_index_staleness_audit",
    tags=("ext", "llm", "similarity", "quality-curve", "iterative", "pandas", "streaming-twin"),
    oracle=_staleness_oracle(),
)
def ann_index_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall drift of a STALE IVF index vs a re-fit one — the in-query
    audit of the trade the streaming maintenance path makes
    (streaming/ann_ingest.py: arrivals are assigned to pre-existing
    centroids; a re-fit only happens at the growth threshold).

    Setup: every 5th vector is an "arrival" that streamed in after the
    index was fit. The STALE quantizer is Lloyd-fit (k=8, 3 iterations,
    deterministic lowest-id init, 2^-40 fixed point — kmeans_fit) on
    the base 80% only; the REFIT quantizer is fit on everything. Both
    indexes CONTAIN all vectors (the stale one appended arrivals to its
    old partition — exactly what process_batch does). For the 5 audit
    queries, IVF top-10 under each index is compared against exact
    brute-force truth at nprobe = 1, 2, 4, 8; nprobe=8 scans every
    cluster and must read recall 1.0 for BOTH states — the anchor that
    pins the harness itself.

    Exactness: both Lloyd trajectories, the full-corpus stale
    assignment, probe ranking, candidate scoring, and the exact truth
    all use the repo's fixed-point folds, so the DuckDB oracle (two
    parameterized _kmeans_ctes chains) replays the audit bit-for-bit.
    The truth is derived per index state from that state's scored set
    (the IVF kernel, ``S.ivf_recall_curve``): both assignments are
    total, so each state's set holds every (query, vector) cosine and
    yields the same brute-force top-10 as the oracle's ``exact``.

    Plan shape: the embedding scan is pinned once and fanned out to
    both fits and the membership union; centroids are two k-row
    parameter tables (broadcast), told apart by ``index_state``;
    candidates are scored once per index state with probe ranks
    attached, and every nprobe slice re-ranks the same pinned scored
    set. Driver traffic = k centroids per Lloyd iteration, twice."""
    emb = pin(ensure_parallelism(load_table(spark, sf_dir, "embeddings")))

    def index(state: str, cents_mat, assign_df) -> tuple[DataFrame, DataFrame]:
        tag = F.lit(state).alias("index_state")
        return (
            centroid_frame(spark, cents_mat).select(tag, "*"),
            assign_df(emb).select(tag, "vec_id", "embedding", "cluster"),
        )

    stale_c, stale_m = index("stale", *kmeans_fit(emb.filter(~F.expr(_ARRIVALS)), k=_K, n_iters=_ITERS))
    refit_c, refit_m = index("refit", *kmeans_fit(emb, k=_K, n_iters=_ITERS))
    cents, members = stale_c.unionByName(refit_c), stale_m.unionByName(refit_m)
    return S.ivf_recall_curve(emb, cents, members, _NPROBES).orderBy("index_state", "nprobe")


# Matryoshka truncation audit: production multi-resolution retrieval
# serves the FIRST d dimensions of each embedding (coarse search on a
# prefix, exact rerank on the full width). The audit measures what each
# prefix width costs in recall against the full-width truth.
_MRL_DIMS = [8, 16, 32, 64]  # 64 = the fixture embedding width -> recall 1.0 anchor


def _mrl_oracle() -> str:
    dims = ", ".join(str(d) for d in _MRL_DIMS)
    return f"""
WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                  CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings),
q AS (SELECT vec_id, pos, val FROM e WHERE vec_id < {S.AUDIT_QUERIES}),
dims AS (SELECT CAST(unnest([{dims}]) AS BIGINT) AS dim),
sc AS (
    SELECT d.dim, q.vec_id AS query_id, c.vec_id AS neighbor_id,
           SUM(CAST(floor(q.val * c.val * {_FP}) AS BIGINT)) AS dot,
           SUM(CAST(floor(q.val * q.val * {_FP}) AS BIGINT)) AS qq,
           SUM(CAST(floor(c.val * c.val * {_FP}) AS BIGINT)) AS cc
    FROM q JOIN e c ON q.pos = c.pos AND q.vec_id <> c.vec_id
    JOIN dims d ON q.pos < d.dim
    GROUP BY 1, 2, 3
),
topd AS (
    SELECT dim, query_id, neighbor_id FROM (
        SELECT dim, query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY dim, query_id
                   ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                            neighbor_id) AS rk
        FROM sc
    ) t WHERE rk <= {S.RECALL_K}
),
full_top AS (SELECT query_id, neighbor_id FROM topd WHERE dim = {_MRL_DIMS[-1]}),
hits AS (
    SELECT t.dim, CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM topd t
    WHERE EXISTS (SELECT 1 FROM full_top x
                  WHERE x.query_id = t.query_id AND x.neighbor_id = t.neighbor_id)
    GROUP BY t.dim
)
SELECT d.dim, COALESCE(h.n_overlap, 0) AS n_overlap,
       CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / ({S.AUDIT_QUERIES}.0 * {S.RECALL_K}.0) AS recall_at_{S.RECALL_K}
FROM dims d LEFT JOIN hits h ON h.dim = d.dim
ORDER BY d.dim
"""


@register(
    "mrl_truncation_recall",
    tags=("ext", "llm", "similarity", "quality-curve"),
    oracle=_mrl_oracle(),
)
def mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (prefix-truncation) recall curve: brute-force top-10
    by fixed-point cosine over the first d in {8, 16, 32, 64}
    dimensions of each embedding, scored against the full-width (d=64)
    top-10 as truth. The d=64 row must read recall 1.0 — a prefix as
    wide as the vector IS the exact search, anchoring the harness.
    This is the audit behind a multi-resolution ANN deployment
    (coarse-search a narrow prefix, rerank the survivors full-width):
    it prices each prefix width in recall before committing index
    storage to it.

    Plan shape: ONE pass over the candidates — the 5 query vectors
    broadcast, every (query, candidate) pair scores all four prefix
    widths in-row (slice + the cosine_col_fp fixed-point fold, pure
    JVM), and the stacked (dim, pair, score) frame feeds a per-
    (dim, query) top-k window. Nothing rescans per width; nothing
    leaves fixed point, so the DuckDB oracle (prefix filter on the
    exploded positions) matches bit-for-bit."""
    emb = pin(ensure_parallelism(load_table(spark, sf_dir, "embeddings")))
    # r14 opt: per-vector PREFIX self-norms (one per audited width)
    # precomputed once per side; each (pair, width) folds only the
    # sliced dot — same integers, bit-identical cosine.
    q = emb.filter(F.col("vec_id") < S.AUDIT_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        *[
            S.self_norm_fp_col(F.slice(F.col("embedding"), 1, d)).alias(f"qq{d}")
            for d in _MRL_DIMS
        ],
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        *[
            S.self_norm_fp_col(F.slice(F.col("embedding"), 1, d)).alias(f"cc{d}")
            for d in _MRL_DIMS
        ],
    )
    pairs = F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id"))
    stacked = pairs.select(
        "query_id",
        "neighbor_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("long").alias("dim"),
                        S.cosine_from_fp(
                            S.dot_fp_col(
                                F.slice(F.col("q_emb"), 1, d), F.slice(F.col("c_emb"), 1, d)
                            ),
                            F.col(f"qq{d}"),
                            F.col(f"cc{d}"),
                        ).alias("cosine"),
                    )
                    for d in _MRL_DIMS
                ]
            )
        ).alias("dc"),
    ).select("query_id", "neighbor_id", F.col("dc.dim").alias("dim"), F.col("dc.cosine").alias("cosine"))
    w = Window.partitionBy("dim", "query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    # Truth and every width slice reuse it.
    topd = pin(
        stacked.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= S.RECALL_K)
        .select("dim", "query_id", "neighbor_id")
    )
    full_top = topd.filter(F.col("dim") == _MRL_DIMS[-1]).select("query_id", "neighbor_id")
    # audit tail: full_top is panel×K rows; broadcast, never SortMergeJoin
    hits = (
        topd.join(F.broadcast(full_top), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    dims_df = spark.range(1).select(
        F.explode(F.array(*[F.lit(d).cast("long") for d in _MRL_DIMS])).alias("dim")
    )
    return (
        dims_df.join(F.broadcast(hits), "dim", "left")
        .select(
            "dim",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)).cast("double") / F.lit(float(S.AUDIT_QUERIES * S.RECALL_K)))
            .alias(f"recall_at_{S.RECALL_K}"),
        )
        .orderBy("dim")
    )


# --- mutual kNN -------------------------------------------------------------
# Reciprocal nearest neighbors: pairs where EACH vector ranks the other
# inside its top-_MKNN_K within the label block. The asymmetric kNN
# graph has hub vectors that appear in thousands of neighbor lists
# without reciprocating (the high-dimensional hubness pathology);
# mutual-kNN is the standard cure — SemDeDup-family pipelines use it as
# the high-precision pair stage because a one-directional high cosine
# is often just a hub. Block shape and fixed-point cosine are the
# embedding_neardup_pairs conventions; at 100 TB the blocks come from
# the learned kmeans partition (semantic_dedup_pairs) or the IVF route.
_MKNN_K = 3

_MKNN_FOLD_SQ = (
    "CAST(list_sum(list_transform({v}, v ->"
    " CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1099511627776.0) AS BIGINT))) AS BIGINT)"
)

_MKNN_ORACLE = f"""
WITH p AS (
    SELECT a.label, a.vec_id AS va, b.vec_id AS vb,
           CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
               x -> CAST(floor(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) * 1099511627776.0) AS BIGINT))) AS BIGINT) AS dot,
           {_MKNN_FOLD_SQ.format(v="a.embedding")} AS qq,
           {_MKNN_FOLD_SQ.format(v="b.embedding")} AS cc
    FROM embeddings a JOIN embeddings b
      ON b.label = a.label AND b.vec_id <> a.vec_id
),
r AS (
    SELECT label, va, vb,
           CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) AS cosine,
           row_number() OVER (PARTITION BY va
                              ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                                       vb) AS rn
    FROM p
),
k AS (SELECT * FROM r WHERE rn <= {_MKNN_K})
SELECT k1.label, k1.va AS vec_a, k1.vb AS vec_b, k1.cosine,
       CAST(k1.rn AS BIGINT) AS rk_ab, CAST(k2.rn AS BIGINT) AS rk_ba
FROM k k1 JOIN k k2 ON k2.va = k1.vb AND k2.vb = k1.va
WHERE k1.va < k1.vb
ORDER BY vec_a, vec_b
"""


@register(
    "mutual_knn_pairs",
    tags=("ext", "llm", "similarity", "dedup"),
    oracle=_MKNN_ORACLE,
)
def mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-nearest-neighbor pairs within label blocks: (a, b)
    where b is in a's fixed-point-cosine top-3 AND a is in b's — the
    hubness-robust pair stage (module block above). Reports both
    directed ranks; cosine is symmetric so one column serves.

    Plan shape: one blocked self-join on the label (array rows — the
    |pairs| stream never explodes to |pairs| x dim), the in-row
    fixed-point cosine fold, a per-source top-k window partitioned by
    vec_id (never global), then the reciprocity SELF-JOIN of the
    bounded kNN edge list (|V| x k rows) against its own reversal —
    output-sized work after the window."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    # r14 opt: per-vector self-norms precomputed once per side (see
    # embedding_neardup_pairs — same integers, bit-identical cosine).
    a = emb.select(
        "label", F.col("vec_id").alias("va"), F.col("embedding").alias("emb_a"),
        S.self_norm_fp_col(F.col("embedding")).alias("qq"),
    )
    b = emb.select(
        F.col("label").alias("label_b"),
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("emb_b"),
        S.self_norm_fp_col(F.col("embedding")).alias("cc"),
    )
    pairs = a.join(b, (F.col("label") == F.col("label_b")) & (F.col("va") != F.col("vb")))
    scored = pairs.select(
        "label", "va", "vb",
        S.cosine_from_fp(
            S.dot_fp_col(F.col("emb_a"), F.col("emb_b")), F.col("qq"), F.col("cc")
        ).alias("cosine"),
    )
    w = Window.partitionBy("va").orderBy(F.col("cosine").desc(), "vb")
    # Bounded |V| x k edge list; probed twice below.
    knn = pin(
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MKNN_K)
    )
    rev = knn.select(
        F.col("va").alias("vb"), F.col("vb").alias("va"), F.col("rn").alias("rk_ba")
    )
    return (
        knn.join(rev, ["va", "vb"])
        .filter(F.col("va") < F.col("vb"))
        .select(
            "label",
            F.col("va").alias("vec_a"),
            F.col("vb").alias("vec_b"),
            "cosine",
            F.col("rn").cast("long").alias("rk_ab"),
            F.col("rk_ba").cast("long").alias("rk_ba"),
        )
        .orderBy("vec_a", "vec_b")
    )


# --- centroid drift ---------------------------------------------------------
# The distribution-shift audit underneath BOTH staleness audits: how
# far has each label's centroid moved once the arrival stream (the
# _ARRIVALS convention, every 5th vector) is folded in? The staleness
# audits measure the SYMPTOM (recall/ranking decay); this measures the
# CAUSE (centroid displacement), which is what a production re-fit
# trigger actually monitors — per-partition, cheap, no queries needed.
# Centroids are integer fixed-point means at 10^6 (element magnitudes
# ~1, so products stay ~10^12 and the 64-dim dot is ~10^14 — int64-safe
# by 4 orders); drift is the exact cosine between the two integer
# centroid vectors.
_DRIFT_FP = 1_000_000

_DRIFT_ORACLE = f"""
WITH ex AS (
    SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
           unnest(embedding) AS val
    FROM embeddings
),
g AS (
    SELECT label, pos,
           CAST(SUM(CASE WHEN NOT ({_ARRIVALS})
                    THEN CAST(floor(CAST(val AS DOUBLE) * {_DRIFT_FP}) AS BIGINT) END) AS BIGINT) AS s_base,
           CAST(SUM(CASE WHEN NOT ({_ARRIVALS}) THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
           CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * {_DRIFT_FP}) AS BIGINT)) AS BIGINT) AS s_all,
           CAST(COUNT(*) AS BIGINT) AS n_all
    FROM ex GROUP BY label, pos
),
cent AS (
    SELECT label, pos, s_base // n_base AS cb, s_all // n_all AS ca, n_base, n_all
    FROM g WHERE n_base > 0
)
SELECT label, MAX(n_base) AS n_base, MAX(n_all) - MAX(n_base) AS n_arrivals,
       CAST(SUM(cb * ca) AS DOUBLE)
           / sqrt(CAST(SUM(cb * cb) AS DOUBLE) * CAST(SUM(ca * ca) AS DOUBLE)) AS drift_cosine
FROM cent
GROUP BY label
ORDER BY label
"""


@register(
    "embedding_centroid_drift",
    tags=("ext", "llm", "similarity", "audit", "streaming-twin"),
    oracle=_DRIFT_ORACLE,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift once the arrival stream lands: cosine
    between the base-only centroid (what the stale index was fit on)
    and the full-corpus centroid — the re-fit trigger signal the
    streaming ANN maintenance (streaming/ann_ingest.py) would watch
    (exact integer spec in the block above). drift_cosine == 1.0 means
    the arrivals changed nothing; the audit's value is the gap.

    Plan shape: one explode -> ONE (label, pos) hash aggregate
    computing both sums with conditional aggregation (the stale/refit
    pair shares the scan — the bm25 staleness pattern); everything
    after is label x dim rows (parameter-sized)."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    ex = emb.select("vec_id", "label", F.posexplode("embedding").alias("pos0", "val")).select(
        "vec_id", "label", (F.col("pos0") + 1).alias("pos"), "val"
    )
    is_base = ~F.expr(_ARRIVALS)
    v_fp = F.floor(F.col("val").cast("double") * _DRIFT_FP).cast("long")
    g = (
        ex.groupBy("label", "pos")
        .agg(
            F.sum(F.when(is_base, v_fp)).alias("s_base"),
            F.sum(is_base.cast("long")).alias("n_base"),
            F.sum(v_fp).alias("s_all"),
            F.count(F.lit(1)).alias("n_all"),
        )
        .filter(F.col("n_base") > 0)
    )
    cent = g.select(
        "label",
        F.expr("s_base div n_base").alias("cb"),
        F.expr("s_all div n_all").alias("ca"),
        "n_base",
        "n_all",
    )
    return (
        cent.groupBy("label")
        .agg(
            F.max("n_base").alias("n_base"),
            (F.max("n_all") - F.max("n_base")).alias("n_arrivals"),
            (
                F.sum(F.col("cb") * F.col("ca")).cast("double")
                / F.sqrt(
                    F.sum(F.col("cb") * F.col("cb")).cast("double")
                    * F.sum(F.col("ca") * F.col("ca")).cast("double")
                )
            ).alias("drift_cosine"),
        )
        .orderBy("label")
    )
