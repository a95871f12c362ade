"""[EXT] Sparse retrieval over the corpus: BM25 ranking and its
composition with n-gram decontamination (VERDICT r7 item 1). The
reference repo has no retrieval operator — this is part of the
LLM-training-data surface the brief adds on top of the reference's ETL
core (alongside dedup, ANN, and the quality audits).

Exactness convention: BM25 is specified entirely in integer fixed
point so the DuckDB oracle replays it bit-for-bit. With k1 = 1.2 and
b = 0.75 multiplied out over the corpus scalars S = sum(dl) and
N = #docs:

    idf_fp(t)   = ((2N - 2df + 1) * FP) div (2df + 1)
    tf_fp(t, d) = (22 * tf * S * FP) div (10*tf*S + 3*S + 9*dl*N)
    score_fp    = SUM_t (idf_fp * tf_fp) div FP          FP = 10^6

idf is the Robertson/Sparck-Jones odds ratio WITHOUT the log wrap —
ln() differs across engines in the last ulp and the driver gate is an
exact hash (the same reasoning as tfidf_top_terms' integer score; the
log is monotone per term but not across the sum, so this is a
documented fixed-point BM25 VARIANT, rank-faithful on the fixtures).
int64 range: the widest intermediate, 22*tf*S*FP, holds to ~4e11 total
corpus tokens; past that the spec re-scales FP (it is FP-parametric) —
the plan shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.operators import similarity as S
from flinkstreametl_spark.operators import text as X
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.sources.parquet import load_table

_FP = 1_000_000
_BM25_K = 10  # bm25_topk_docs depth
_BM25_NQ = 3  # query docs (the suite's lowest-id convention)
_RET_K = 5  # decontaminate_by_retrieval depth
_PROBE_SOURCE = "src0"  # stand-in benchmark/eval corpus (pipeline_ext)
# Eval suites are FIXED-SIZE: a benchmark has the same few thousand
# items whether the training corpus is 1 GB or 100 TB. The fixture's
# src0 instead grows with sf (it is 1/20 of the corpus), so an
# unbounded probe set turns the audit quadratic AT THE FIXTURE — 2,500
# probes x 47,500 training docs at sf1 with a 40-word vocabulary where
# every term matches ~78% of docs (measured: the sf1 oracle ran >30 min
# on the unbounded panel). The audit therefore pins the panel to the
# _RET_PANEL lowest probe doc_ids — the fixed-benchmark model, keeping
# cost linear in the corpus at every sf.
_RET_PANEL = 100


def bm25_topk(corpus: DataFrame, qterms: DataFrame, k: int) -> DataFrame:
    """Fixed-point BM25 top-k: ``corpus`` is (doc_id, text), ``qterms``
    is the exploded query-term table (query_id, term) — small by nature
    (queries are a parameter set), so it broadcasts.

    Plan shape (the part that survives 100 TB): ONE corpus scan feeds
    the (doc, term) tf aggregate, and tf — which IS the inverted index
    — is pinned before fan-out, because its three consumers (postings,
    df, totals) are column-pruned differently and Spark will NOT reuse
    the exchange across them (measured: 3 corpus scans unpinned; a
    production deployment persists tf as the index table, exactly like
    inverted_index_terms). df is vocabulary-sized and the totals are
    one row, so both join back by broadcast; the only per-corpus-row
    work after tf is the broadcast-hash join against the query terms,
    a partial aggregate keyed by (query, doc), and a per-query top-k
    window. Nothing shuffles on an unbounded key except the
    (doc, term) aggregate itself."""
    base = corpus.select("doc_id", X.tokens("text").alias("toks"))
    sized = base.select(
        "doc_id", F.size("toks").cast("long").alias("dl"), F.explode("toks").alias("term")
    )
    tf = pin(
        sized.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tot = (
        tf.groupBy("doc_id")
        .agg(F.max("dl").alias("dl2"))
        .agg(F.sum("dl2").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    term_fp = F.expr(
        f"(((2 * n - 2 * df + 1) * {_FP}) div (2 * df + 1))"
        f" * ((22 * tf * s * {_FP}) div (10 * tf * s + 3 * s + 9 * dl * n))"
        f" div {_FP}"
    )
    sc = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(term_fp).cast("long").alias("score_fp"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score_fp").desc(), "doc_id")
    return (
        sc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "score_fp", F.col("rk").cast("long").alias("rk"))
    )


def _bm25_ctes(corpus_where: str, query_select: str, k: int) -> str:
    """The oracle's CTE chain ending in ``topk`` — the exact SQL twin
    of ``bm25_topk`` (tokens materialized in a CTE first: an inline
    split re-runs the regexp per consumer — the HOF-inlining trap)."""
    toks = X.sql_tokens("text")
    return f"""
WITH base AS (SELECT doc_id, {toks} AS toks FROM documents {corpus_where}),
tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
              CAST(max(dl) AS BIGINT) AS dl
       FROM tok GROUP BY doc_id, term),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
tot AS (SELECT CAST(sum(dl) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT doc_id, max(dl) AS dl FROM tf GROUP BY doc_id) dls),
q AS ({query_select}),
sc AS (
    SELECT q.query_id, tf.doc_id,
           CAST(SUM(
               (((2 * t.n - 2 * d.df + 1) * {_FP}) // (2 * d.df + 1))
               * ((22 * tf.tf * t.s * {_FP}) // (10 * tf.tf * t.s + 3 * t.s + 9 * tf.dl * t.n))
               // {_FP}
           ) AS BIGINT) AS score_fp
    FROM q JOIN tf ON tf.term = q.term JOIN dfq d ON d.term = q.term, tot t
    GROUP BY 1, 2
),
topk AS (
    SELECT query_id, doc_id, score_fp, CAST(rk AS BIGINT) AS rk FROM (
        SELECT query_id, doc_id, score_fp,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score_fp DESC, doc_id) AS rk
        FROM sc
    ) r WHERE rk <= {k}
)"""


@register(
    "bm25_topk_docs",
    tags=("ext", "llm", "retrieval", "text", "bench"),
    oracle=_bm25_ctes(
        "",
        f"SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term"
        f" FROM base WHERE doc_id < {_BM25_NQ}",
        _BM25_K,
    )
    + "\nSELECT query_id, doc_id, score_fp, rk FROM topk",
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the document corpus: for each of the 3
    lowest-id documents used as queries (their distinct tokens = the
    query bag), the top-10 documents by fixed-point BM25 (k1 = 1.2,
    b = 0.75 — see the module docstring for the integer spec). Every
    query doc retrieves itself within the top ranks (the sanity
    anchor); the fixtures' planted near-duplicates can legitimately
    outrank the query doc itself when shorter (higher tf_fp at equal
    term coverage) — measured self-rank <= 3 across the sf tiers. Plan:
    one corpus scan -> (doc, term) tf aggregate (the inverted index,
    pinned once); df and the corpus totals re-aggregate tf; query
    terms, df, and totals all broadcast — the posting-list join is the
    only corpus-sized work."""
    docs = load_table(spark, sf_dir, "documents")
    qterms = docs.filter(F.col("doc_id") < _BM25_NQ).select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.array_distinct(X.tokens("text"))).alias("term"),
    )
    return bm25_topk(docs.select("doc_id", "text"), qterms, _BM25_K)


def _trigrams(toks: Column) -> Column:
    """Distinct word 3-grams (the decontaminate_ngram_hits unit),
    guarded for <3-token docs — Spark's sequence(1, stop) DESCENDS for
    stop < 1 where DuckDB's range(1, stop) is empty."""
    tri = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        )
    )
    return F.when(F.size(toks) >= 3, tri).otherwise(F.array().cast("array<string>"))


_TRI_SQL = (
    "list_distinct(list_transform(range(1, len({c}) - 1),"
    " i -> {c}[i] || ' ' || {c}[i+1] || ' ' || {c}[i+2]))"
)

_PANEL_SQL = (
    f"(SELECT doc_id FROM documents WHERE source = '{_PROBE_SOURCE}'"
    f" ORDER BY doc_id LIMIT {_RET_PANEL})"
)

_RET_ORACLE = (
    _bm25_ctes(
        f"WHERE source <> '{_PROBE_SOURCE}'",
        f"SELECT doc_id AS query_id, unnest(list_distinct({X.sql_tokens('text')})) AS term"
        f" FROM documents WHERE source = '{_PROBE_SOURCE}' AND doc_id IN {_PANEL_SQL}",
        _RET_K,
    )
    + f""",
pb AS (SELECT doc_id AS query_id, {X.sql_tokens("text")} AS ptoks
       FROM documents
       WHERE source = '{_PROBE_SOURCE}' AND doc_id IN {_PANEL_SQL}),
pg AS (SELECT query_id, unnest({_TRI_SQL.format(c="ptoks")}) AS gram FROM pb),
tb AS (SELECT doc_id, {X.sql_tokens("text")} AS ttoks
       FROM documents
       WHERE source <> '{_PROBE_SOURCE}' AND doc_id IN (SELECT doc_id FROM topk)),
tg AS (SELECT doc_id, unnest({_TRI_SQL.format(c="ttoks")}) AS gram FROM tb),
sh AS (SELECT k.query_id, k.doc_id, CAST(count(*) AS BIGINT) AS n_shared
       FROM topk k
       JOIN pg ON pg.query_id = k.query_id
       JOIN tg ON tg.doc_id = k.doc_id AND tg.gram = pg.gram
       GROUP BY 1, 2)
SELECT k.query_id, k.doc_id, k.score_fp, k.rk,
       COALESCE(sh.n_shared, 0) AS n_shared_trigrams
FROM topk k LEFT JOIN sh ON sh.query_id = k.query_id AND sh.doc_id = k.doc_id
"""
)


@register(
    "decontaminate_by_retrieval",
    tags=("ext", "llm", "retrieval", "decontamination", "pipeline"),
    oracle=_RET_ORACLE,
)
def decontaminate_by_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage benchmark decontamination (the production shape:
    retrieval narrows, exact overlap confirms). Stage 1: every probe
    document in the fixed-size eval panel (source = src0, the stand-in
    eval suite, pinned to its 100 lowest ids — benchmarks don't grow
    with the corpus; see _RET_PANEL) retrieves its BM25 top-5 from the
    TRAINING corpus (source <> src0; tf/df/dl statistics over training
    docs only). Stage 2: each retrieved pair
    is scored by its count of shared distinct word 3-grams — the
    decontaminate_ngram_hits unit — so a high-BM25 / zero-trigram pair
    reads as topical overlap, not contamination. Pairs with zero shared
    trigrams are KEPT (n_shared_trigrams = 0): the audit's point is the
    separation between the two signals.

    Plan: the BM25 stage is bm25_topk (probe terms broadcast — the
    probe corpus is tiny by nature); the confirm stage touches only the
    bounded retrieved set (#probes x 5 pairs, pinned so
    the BM25 ranking runs once), semi-joins the training scan down to
    the retrieved doc_ids before computing any trigram, and broadcasts
    the pair and probe-gram tables."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != _PROBE_SOURCE)
    # The probe panel is FIXED-SIZE (the _RET_PANEL lowest probe ids —
    # see the module constant: benchmarks don't grow with the corpus):
    # tokenize it once, pin, and derive both the query terms and the
    # confirm-stage grams from the pin.
    probes = pin(
        docs.filter(F.col("source") == _PROBE_SOURCE)
        .orderBy("doc_id")
        .limit(_RET_PANEL)
        .select(F.col("doc_id").alias("query_id"), X.tokens("text").alias("toks"))
    )
    qterms = probes.select(
        "query_id", F.explode(F.array_distinct("toks")).alias("term")
    )
    topk = pin(bm25_topk(train.select("doc_id", "text"), qterms, _RET_K))

    # Token arrays are materialized columns before the gram HOF — an
    # inline split re-runs the regexp per element (the inlining trap).
    probe_grams = probes.select("query_id", F.explode(_trigrams(F.col("toks"))).alias("gram"))
    cand = train.join(topk.select("doc_id").distinct(), "doc_id", "left_semi")
    train_grams = cand.select("doc_id", X.tokens("text").alias("toks")).select(
        "doc_id", F.explode(_trigrams(F.col("toks"))).alias("gram")
    )
    shared = (
        train_grams.join(
            F.broadcast(topk.select("query_id", "doc_id").join(probe_grams, "query_id")),
            ["doc_id", "gram"],
        )
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return topk.join(F.broadcast(shared), ["query_id", "doc_id"], "left").select(
        "query_id",
        "doc_id",
        "score_fp",
        "rk",
        F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared_trigrams"),
    )


# --- bm25_index_staleness_audit -----------------------------------------
# The sparse-retrieval twin of ann_index_staleness_audit: a streaming
# inverted index (streaming/index_ingest.py) appends postings per batch
# but keeps its ranking statistics (df, S, N) frozen at the last fit,
# so BM25 rankings drift as the corpus grows. The audit replays that
# state in-query: every 5th document "arrived after the stats fit"
# (the ann_ext._ARRIVALS convention), postings cover everything, and
# the same queries are ranked under the stale stats vs a re-fit.
_STALE_ARRIVALS = "doc_id % 5 = 0"

_BM25_STALE_ORACLE = f"""
WITH base AS (SELECT doc_id, {X.sql_tokens("text")} AS toks FROM documents),
tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
              CAST(max(dl) AS BIGINT) AS dl
       FROM tok GROUP BY doc_id, term),
st_df AS (
    SELECT 'stale' AS st, term, CAST(count(*) AS BIGINT) AS df
    FROM tf WHERE NOT ({_STALE_ARRIVALS}) GROUP BY term
    UNION ALL
    SELECT 'refit' AS st, term, CAST(count(*) AS BIGINT) AS df
    FROM tf GROUP BY term
),
st_tot AS (
    SELECT 'stale' AS st, CAST(sum(dl) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT doc_id, max(dl) AS dl FROM tf WHERE NOT ({_STALE_ARRIVALS}) GROUP BY doc_id) b
    UNION ALL
    SELECT 'refit' AS st, CAST(sum(dl) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT doc_id, max(dl) AS dl FROM tf GROUP BY doc_id) f
),
q AS (SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term
      FROM base WHERE doc_id < {_BM25_NQ}),
sc AS (
    SELECT d.st, q.query_id, tf.doc_id,
           CAST(SUM(
               (((2 * t.n - 2 * d.df + 1) * {_FP}) // (2 * d.df + 1))
               * ((22 * tf.tf * t.s * {_FP}) // (10 * tf.tf * t.s + 3 * t.s + 9 * tf.dl * t.n))
               // {_FP}
           ) AS BIGINT) AS score_fp
    FROM q JOIN tf ON tf.term = q.term
    JOIN st_df d ON d.term = q.term
    JOIN st_tot t ON t.st = d.st
    GROUP BY 1, 2, 3
),
topk AS (
    SELECT st, query_id, doc_id, rk FROM (
        SELECT st, query_id, doc_id,
               row_number() OVER (PARTITION BY st, query_id
                                  ORDER BY score_fp DESC, doc_id) AS rk
        FROM sc
    ) r WHERE rk <= {_BM25_K}
),
ov AS (
    SELECT s.query_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM topk s JOIN topk f ON f.query_id = s.query_id AND f.doc_id = s.doc_id
    WHERE s.st = 'stale' AND f.st = 'refit'
    GROUP BY 1
),
t1 AS (
    SELECT s.query_id, (s.doc_id = f.doc_id) AS top1_same
    FROM topk s JOIN topk f ON f.query_id = s.query_id
    WHERE s.st = 'stale' AND f.st = 'refit' AND s.rk = 1 AND f.rk = 1
)
SELECT o.query_id, o.n_overlap,
       CAST(o.n_overlap AS DOUBLE) / {_BM25_K}.0 AS overlap_at_{_BM25_K},
       t1.top1_same
FROM ov o JOIN t1 ON t1.query_id = o.query_id
ORDER BY o.query_id
"""


@register(
    "bm25_index_staleness_audit",
    tags=("ext", "llm", "retrieval", "audit", "streaming-twin"),
    oracle=_BM25_STALE_ORACLE,
)
def bm25_index_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking drift of a STALE inverted index vs a re-fit one — the
    in-query audit of the trade the streaming index maintenance makes
    (streaming/index_ingest.py: postings append per micro-batch, but
    df/S/N stay frozen until the growth-triggered stats re-fit).

    Setup: every 5th document arrived after the stats fit. The STALE
    statistics (per-term df, corpus size N, total length S) are
    computed over the base 80% only; the REFIT statistics over
    everything; postings (tf, dl) cover everything in both states —
    exactly the index process_batch maintains. For the 3 standing query
    docs, the fixed-point BM25 top-10 under each statistics snapshot is
    compared: n_overlap/overlap@10 and whether the top-1 result
    survives the re-fit. A term unseen by the stale stats would be
    skipped (inner join on the stats vocabulary — an index cannot score
    a term it has no df for); on these fixtures every term predates the
    arrivals.

    Plan shape: ONE corpus scan into the pinned (doc, term) tf
    aggregate; both statistics snapshots re-aggregate tf (vocabulary-
    and 1-row-sized, broadcast); the posting join runs once with the
    2-state stats dimension attached, so the corpus-sized work does not
    double. The overlap stage runs on the bounded top-k set."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", X.tokens("text").alias("toks"))
    sized = base.select(
        "doc_id", F.size("toks").cast("long").alias("dl"), F.explode("toks").alias("term")
    )
    tf = pin(
        sized.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    is_base = ~F.expr(_STALE_ARRIVALS)
    st_df = (
        tf.filter(is_base)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(F.lit("stale").alias("st"), "term", "df")
    ).unionByName(
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(F.lit("refit").alias("st"), "term", "df")
    )
    def _tot(frame, st):
        return (
            frame.groupBy("doc_id")
            .agg(F.max("dl").alias("dl"))
            .agg(F.sum("dl").alias("s"), F.count(F.lit(1)).alias("n"))
            .select(F.lit(st).alias("st"), "s", "n")
        )
    st_tot = _tot(tf.filter(is_base), "stale").unionByName(_tot(tf, "refit"))
    qterms = (
        docs.filter(F.col("doc_id") < _BM25_NQ)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.array_distinct(X.tokens("text"))).alias("term"),
        )
    )
    term_fp = F.expr(
        f"(((2 * n - 2 * df + 1) * {_FP}) div (2 * df + 1))"
        f" * ((22 * tf * s * {_FP}) div (10 * tf * s + 3 * s + 9 * dl * n))"
        f" div {_FP}"
    )
    sc = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(st_df), "term")
        .join(F.broadcast(st_tot), "st")
        .groupBy("st", "query_id", "doc_id")
        .agg(F.sum(term_fp).cast("long").alias("score_fp"))
    )
    w = Window.partitionBy("st", "query_id").orderBy(F.col("score_fp").desc(), "doc_id")
    # Bounded (2 x queries x k); overlap + top1 reuse it.
    topk = pin(
        sc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BM25_K)
        .select("st", "query_id", "doc_id", "rk")
    )
    stale = topk.filter(F.col("st") == "stale")
    refit = topk.filter(F.col("st") == "refit")
    ov = (
        stale.join(refit.select("query_id", "doc_id"), ["query_id", "doc_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    t1 = (
        stale.filter(F.col("rk") == 1)
        .select("query_id", F.col("doc_id").alias("d_s"))
        .join(
            refit.filter(F.col("rk") == 1).select("query_id", F.col("doc_id").alias("d_f")),
            "query_id",
        )
        .select("query_id", (F.col("d_s") == F.col("d_f")).alias("top1_same"))
    )
    return (
        ov.join(t1, "query_id")
        .select(
            "query_id",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.lit(float(_BM25_K))).alias(
                f"overlap_at_{_BM25_K}"
            ),
            "top1_same",
        )
        .orderBy("query_id")
    )


# --- hybrid retrieval (RRF) -----------------------------------------------
# Reciprocal-rank fusion (Cormack et al. 2009), the standard way
# production search fuses a sparse (BM25) and a dense (embedding) list
# without score calibration: each list contributes FP div (C + rank)
# per document, C = 60, and only the RANKS matter — which makes RRF
# exactly representable in integers (no score normalization, no
# floats). The fixture link between the two modalities is the suite's
# id convention: embeddings.vec_id == documents.doc_id (the embedding
# OF that document — the convention semantic_dedup_pairs and
# hard_negative_mining already rely on).
_RRF_C = 60
_RRF_FP = 1_000_000
_RRF_LIST_K = 20  # per-modality candidate depth
_RRF_K = 10  # fused output depth

_RRF_ORACLE = (
    _bm25_ctes(
        "",
        f"SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term"
        f" FROM base WHERE doc_id < {_BM25_NQ}",
        _RRF_LIST_K,
    )
    + f""",
ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
              unnest(embedding) AS val FROM embeddings),
dense_sc AS (
    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(c.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS dot,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(q.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS qq,
           SUM(CAST(floor(CAST(c.val AS DOUBLE) * CAST(c.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS cc
    FROM (SELECT * FROM ex WHERE vec_id < {_BM25_NQ}) q
    JOIN ex c ON c.pos = q.pos
    GROUP BY 1, 2
),
dense AS (
    SELECT query_id, doc_id, rk AS dense_rk FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                                           doc_id) AS rk
        FROM dense_sc
    ) r WHERE rk <= {_RRF_LIST_K}
),
fused AS (
    SELECT COALESCE(s.query_id, d.query_id) AS query_id,
           COALESCE(s.doc_id, d.doc_id) AS doc_id,
           CAST(COALESCE(s.rk, 0) AS BIGINT) AS bm25_rk,
           CAST(COALESCE(d.dense_rk, 0) AS BIGINT) AS dense_rk,
           CAST(CASE WHEN s.rk IS NULL THEN 0 ELSE {_RRF_FP} // ({_RRF_C} + s.rk) END
              + CASE WHEN d.dense_rk IS NULL THEN 0 ELSE {_RRF_FP} // ({_RRF_C} + d.dense_rk) END
              AS BIGINT) AS rrf_fp
    FROM topk s FULL OUTER JOIN dense d
      ON d.query_id = s.query_id AND d.doc_id = s.doc_id
)
SELECT query_id, doc_id, bm25_rk, dense_rk, rrf_fp, CAST(rk AS BIGINT) AS rk
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rrf_fp DESC, doc_id) AS rk
    FROM fused
) f
WHERE rk <= {_RRF_K}
ORDER BY query_id, rk
"""
)


@register(
    "hybrid_rrf_retrieval",
    tags=("ext", "llm", "retrieval", "similarity", "bench"),
    oracle=_RRF_ORACLE,
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval fused by reciprocal rank: for each
    of the 3 standing query docs, the BM25 top-20 (fixed-point spec,
    module docstring) and the dense cosine top-20 (the embedding of the
    same doc_id — the suite's vec_id == doc_id convention) merge via
    RRF_fp = Σ FP div (60 + rank), absent-from-list contributing 0; the
    fused top-10 is returned with both per-modality ranks (0 = not in
    that list). RRF is rank-only, hence integer-exact — the reason it
    is THE production fusion when the two scores live on different
    scales.

    Plan shape: the sparse side is bm25_topk (one corpus scan, pinned
    inverted index, broadcast query terms); the dense side is the
    knn_fast pattern (broadcast query vectors, one candidate pass with
    the in-row fixed-point cosine fold, per-query partial top-k). Both
    lists are bounded (queries x 20 rows), so the fusion join, the RRF
    arithmetic, and the final window all run on parameter-sized data —
    at 100 TB the dense pass swaps in the IVF route exactly as ann
    queries do."""
    docs = load_table(spark, sf_dir, "documents")
    qterms = docs.filter(F.col("doc_id") < _BM25_NQ).select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.array_distinct(X.tokens("text"))).alias("term"),
    )
    sparse = bm25_topk(docs.select("doc_id", "text"), qterms, _RRF_LIST_K).select(
        "query_id", "doc_id", F.col("rk").alias("bm25_rk")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # r14 opt: candidate self-norms computed once per vector, not once
    # per (query, candidate) pair — same integers, bit-identical cosine
    # (operators/similarity.self_norm_fp_col).
    q = emb.filter(F.col("vec_id") < _BM25_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        S.self_norm_fp_col(F.col("embedding")).alias("qq"),
    )
    c = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("c_emb"),
        S.self_norm_fp_col(F.col("embedding")).alias("cc"),
    )
    dw = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "doc_id")
    dense = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "doc_id",
            S.cosine_from_fp(
                S.dot_fp_col(F.col("q_emb"), F.col("c_emb")), F.col("qq"), F.col("cc")
            ).alias("cosine"),
        )
        .withColumn("dense_rk", F.row_number().over(dw))
        .filter(F.col("dense_rk") <= _RRF_LIST_K)
        .select("query_id", "doc_id", "dense_rk")
    )

    rrf_term = lambda rk: F.when(  # noqa: E731
        F.col(rk).isNull(), F.lit(0).cast("long")
    ).otherwise(F.expr(f"{_RRF_FP} div ({_RRF_C} + {rk})"))
    fused = (
        sparse.join(dense, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            (rrf_term("bm25_rk") + rrf_term("dense_rk")).alias("rrf_fp"),
            F.coalesce("bm25_rk", F.lit(0)).cast("long").alias("bm25_rk"),
            F.coalesce("dense_rk", F.lit(0)).cast("long").alias("dense_rk"),
        )
    )
    fw = Window.partitionBy("query_id").orderBy(F.col("rrf_fp").desc(), "doc_id")
    return (
        fused.withColumn("rk", F.row_number().over(fw).cast("long"))
        .filter(F.col("rk") <= _RRF_K)
        .select("query_id", "doc_id", "bm25_rk", "dense_rk", "rrf_fp", "rk")
        .orderBy("query_id", "rk")
    )


# --- dense decontamination ---------------------------------------------------
# The third decontamination modality, completing the triad:
#   decontaminate_ngram_hits      — exact lexical overlap
#   decontaminate_by_retrieval    — sparse (BM25) retrieval + confirm
#   decontaminate_by_embedding    — dense retrieval + confirm (here)
# Paraphrased benchmark leakage defeats both lexical signals (no
# shared n-gram, low BM25) but not the embedding space — the published
# recipe (e.g. the Phi/llm-decontaminator line) retrieves by embedding
# similarity and confirms with a cheap exact signal. Same fixed-size
# probe-panel model as the BM25 stage (benchmarks don't grow with the
# corpus); the suite's vec_id == doc_id convention links modalities.
_DEMB_K = 5
_DEMB_PANEL = 100

_DEMB_ORACLE = f"""
WITH pn AS (SELECT doc_id FROM documents WHERE source = '{_PROBE_SOURCE}'
            ORDER BY doc_id LIMIT {_DEMB_PANEL}),
q AS (SELECT e.vec_id, e.embedding FROM embeddings e SEMI JOIN pn ON pn.doc_id = e.vec_id),
c AS (SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN documents d ON d.doc_id = e.vec_id AND d.source <> '{_PROBE_SOURCE}'),
sc AS (
    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
           CAST(list_sum(list_transform(list_zip(q.embedding, c.embedding),
               x -> CAST(floor(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) * 1099511627776.0) AS BIGINT))) AS BIGINT) AS dot,
           CAST(list_sum(list_transform(q.embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1099511627776.0) AS BIGINT))) AS BIGINT) AS qq,
           CAST(list_sum(list_transform(c.embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1099511627776.0) AS BIGINT))) AS BIGINT) AS cc
    FROM q, c
),
topk AS (
    SELECT query_id, doc_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
        SELECT query_id, doc_id,
               CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) AS cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                                           doc_id) AS rk
        FROM sc
    ) r WHERE rk <= {_DEMB_K}
),
pb AS (SELECT doc_id AS query_id, {X.sql_tokens("text")} AS ptoks
       FROM documents WHERE doc_id IN (SELECT doc_id FROM pn)),
pg AS (SELECT query_id, unnest({_TRI_SQL.format(c="ptoks")}) AS gram FROM pb),
tb AS (SELECT doc_id, {X.sql_tokens("text")} AS ttoks FROM documents
       WHERE doc_id IN (SELECT doc_id FROM topk)),
tg AS (SELECT doc_id, unnest({_TRI_SQL.format(c="ttoks")}) AS gram FROM tb),
sh AS (SELECT k.query_id, k.doc_id, CAST(count(*) AS BIGINT) AS n_shared
       FROM topk k
       JOIN pg ON pg.query_id = k.query_id
       JOIN tg ON tg.doc_id = k.doc_id AND tg.gram = pg.gram
       GROUP BY 1, 2)
SELECT k.query_id, k.doc_id, k.cosine, k.rk,
       COALESCE(sh.n_shared, 0) AS n_shared_trigrams
FROM topk k LEFT JOIN sh ON sh.query_id = k.query_id AND sh.doc_id = k.doc_id
"""


@register(
    "decontaminate_by_embedding",
    tags=("ext", "llm", "retrieval", "decontamination", "similarity"),
    oracle=_DEMB_ORACLE,
)
def decontaminate_by_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-retrieval decontamination: each probe in the fixed eval
    panel retrieves its fixed-point-cosine top-5 from the TRAINING
    side of the embedding space, and each retrieved pair is confirmed
    by shared distinct word 3-grams — high cosine + zero trigrams is
    the PARAPHRASE-leak signature the lexical modalities miss (module
    block above: the triad this completes).

    Plan shape: the probe panel is parameter-sized and broadcasts; one
    pass over the candidate embeddings with the in-row fixed-point
    cosine fold (at 100 TB: the IVF route, exactly like ann queries);
    the confirm stage semi-joins the corpus down to the retrieved
    doc_ids before any tokenization and broadcasts the pair/probe-gram
    tables — the decontaminate_by_retrieval confirm, verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # Parameter-sized; feeds queries AND the confirm stage.
    panel = pin(
        docs.filter(F.col("source") == _PROBE_SOURCE)
        .orderBy("doc_id")
        .limit(_DEMB_PANEL)
        .select("doc_id")
    )
    q = emb.join(panel, emb["vec_id"] == panel["doc_id"], "left_semi").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        S.self_norm_fp_col(F.col("embedding")).alias("qq"),
    )
    train_ids = docs.filter(F.col("source") != _PROBE_SOURCE).select("doc_id")
    # r14 opt: per-vector self-norms precomputed once per side (see
    # hybrid_rrf_retrieval — same integers, bit-identical cosine).
    c = emb.join(train_ids, emb["vec_id"] == train_ids["doc_id"], "left_semi").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("c_emb"),
        S.self_norm_fp_col(F.col("embedding")).alias("cc"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "doc_id")
    # Bounded panel x k; ranking runs once.
    topk = pin(
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "doc_id",
            S.cosine_from_fp(
                S.dot_fp_col(F.col("q_emb"), F.col("c_emb")), F.col("qq"), F.col("cc")
            ).alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _DEMB_K)
    )

    probes = docs.join(panel, "doc_id", "left_semi").select(
        F.col("doc_id").alias("query_id"), X.tokens("text").alias("toks")
    )
    probe_grams = probes.select("query_id", F.explode(_trigrams(F.col("toks"))).alias("gram"))
    cand = docs.join(topk.select("doc_id").distinct(), "doc_id", "left_semi")
    train_grams = cand.select("doc_id", X.tokens("text").alias("toks")).select(
        "doc_id", F.explode(_trigrams(F.col("toks"))).alias("gram")
    )
    shared = (
        train_grams.join(
            F.broadcast(topk.select("query_id", "doc_id").join(probe_grams, "query_id")),
            ["doc_id", "gram"],
        )
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return topk.join(F.broadcast(shared), ["query_id", "doc_id"], "left").select(
        "query_id",
        "doc_id",
        "cosine",
        "rk",
        F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared_trigrams"),
    )


# --- pseudo-relevance feedback -------------------------------------------------
# RM3-lite query expansion, the classic IR relevance-feedback loop:
# retrieve BM25 top-_PRF_FB docs per query, mine their top-_PRF_TERMS
# most-frequent terms NOT already in the query (plain feedback tf —
# the log-free stand-in for RM3's relevance-model weights, rank-exact
# in integers), append them to the query bag, and re-rank to the final
# top-10. The part worth copying at 100 TB: the (doc, term) tf
# aggregate — the inverted index — is computed ONCE and pinned; both
# retrieval rounds and the term-mining stage are broadcast joins and
# bounded windows over that single corpus-sized materialization, so
# feedback costs one extra posting join, not a second index build.
_PRF_FB = 3  # feedback depth
_PRF_TERMS = 3  # expansion terms per query
_PRF_K = 10  # final depth

_PRF_ORACLE = f"""
WITH base AS (SELECT doc_id, {X.sql_tokens("text")} AS toks FROM documents),
tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
              CAST(max(dl) AS BIGINT) AS dl
       FROM tok GROUP BY doc_id, term),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
tot AS (SELECT CAST(sum(dl) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT doc_id, max(dl) AS dl FROM tf GROUP BY doc_id) dls),
q1 AS (SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term
       FROM base WHERE doc_id < {_BM25_NQ}),
sc1 AS (
    SELECT q.query_id, tf.doc_id,
           CAST(SUM(
               (((2 * t.n - 2 * d.df + 1) * {_FP}) // (2 * d.df + 1))
               * ((22 * tf.tf * t.s * {_FP}) // (10 * tf.tf * t.s + 3 * t.s + 9 * tf.dl * t.n))
               // {_FP}
           ) AS BIGINT) AS score_fp
    FROM q1 q JOIN tf ON tf.term = q.term JOIN dfq d ON d.term = q.term, tot t
    GROUP BY 1, 2
),
fb AS (
    SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score_fp DESC, doc_id) AS rk
        FROM sc1
    ) r WHERE rk <= {_PRF_FB}
),
exp AS (
    SELECT query_id, term FROM (
        SELECT f.query_id, tf.term, SUM(tf.tf) AS fb_tf,
               row_number() OVER (PARTITION BY f.query_id
                                  ORDER BY SUM(tf.tf) DESC, tf.term) AS rk
        FROM fb f
        JOIN tf ON tf.doc_id = f.doc_id
        ANTI JOIN q1 ON q1.query_id = f.query_id AND q1.term = tf.term
        GROUP BY f.query_id, tf.term
    ) r WHERE rk <= {_PRF_TERMS}
),
q2 AS (SELECT query_id, term FROM q1 UNION SELECT query_id, term FROM exp),
sc2 AS (
    SELECT q.query_id, tf.doc_id,
           CAST(SUM(
               (((2 * t.n - 2 * d.df + 1) * {_FP}) // (2 * d.df + 1))
               * ((22 * tf.tf * t.s * {_FP}) // (10 * tf.tf * t.s + 3 * t.s + 9 * tf.dl * t.n))
               // {_FP}
           ) AS BIGINT) AS score_fp
    FROM q2 q JOIN tf ON tf.term = q.term JOIN dfq d ON d.term = q.term, tot t
    GROUP BY 1, 2
)
SELECT query_id, doc_id, score_fp, CAST(rk AS BIGINT) AS rk
FROM (
    SELECT query_id, doc_id, score_fp,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score_fp DESC, doc_id) AS rk
    FROM sc2
) r WHERE rk <= {_PRF_K}
ORDER BY query_id, rk
"""


@register(
    "prf_expanded_retrieval",
    tags=("ext", "llm", "retrieval"),
    oracle=_PRF_ORACLE,
)
def prf_expanded_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-round BM25 with pseudo-relevance feedback: the standing 3
    query docs retrieve their top-3, the feedback docs' top-3 unseen
    terms join the query bag, and the expanded queries re-rank to the
    final top-10 (exact integer spec in the block above).

    Plan shape: ONE corpus scan into the pinned (doc, term) tf index;
    df and the totals re-aggregate it (vocabulary/1-row-sized,
    broadcast); both scoring rounds are broadcast posting joins against
    the pin; feedback-term mining touches only the bounded
    (queries x 3) doc set's postings. The second round adds zero
    corpus-sized work — the property that makes PRF affordable."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", X.tokens("text").alias("toks"))
    sized = base.select(
        "doc_id", F.size("toks").cast("long").alias("dl"), F.explode("toks").alias("term")
    )
    # The index: both rounds + term mining reuse it.
    tf = pin(
        sized.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tot = (
        tf.groupBy("doc_id")
        .agg(F.max("dl").alias("dl2"))
        .agg(F.sum("dl2").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    term_fp = F.expr(
        f"(((2 * n - 2 * df + 1) * {_FP}) div (2 * df + 1))"
        f" * ((22 * tf * s * {_FP}) div (10 * tf * s + 3 * s + 9 * dl * n))"
        f" div {_FP}"
    )

    def _score(qterms: DataFrame, k: int) -> DataFrame:
        sc = (
            tf.join(F.broadcast(qterms), "term")
            .join(F.broadcast(dfq), "term")
            .crossJoin(F.broadcast(tot))
            .groupBy("query_id", "doc_id")
            .agg(F.sum(term_fp).cast("long").alias("score_fp"))
        )
        w = Window.partitionBy("query_id").orderBy(F.col("score_fp").desc(), "doc_id")
        return (
            sc.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "doc_id", "score_fp", F.col("rk").cast("long").alias("rk"))
        )

    # Parameter-sized; both rounds + the anti-join reuse it.
    q1 = pin(
        base.filter(F.col("doc_id") < _BM25_NQ)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.array_distinct("toks")).alias("term"),
        )
    )
    fb = _score(q1, _PRF_FB).select("query_id", "doc_id")
    ew = Window.partitionBy("query_id").orderBy(F.col("fb_tf").desc(), "term")
    exp = (
        F.broadcast(fb)
        .join(tf, "doc_id")
        .join(q1, ["query_id", "term"], "left_anti")
        .groupBy("query_id", "term")
        .agg(F.sum("tf").alias("fb_tf"))
        .withColumn("rk", F.row_number().over(ew))
        .filter(F.col("rk") <= _PRF_TERMS)
        .select("query_id", "term")
    )
    q2 = q1.select("query_id", "term").unionByName(exp).distinct()
    return _score(q2, _PRF_K).orderBy("query_id", "rk")


# --- Self-retrieval MRR eval ------------------------------------------------

_MRR_NQ = 20  # keyterm-query panel: the 20 lowest doc_ids (fixed-size eval)
_MRR_K = 10  # retrieval depth MRR@10 is judged at
_MRR_TERMS = 5  # keyterm query = the doc's 5 most-frequent tokens

_MRR_ORACLE = (
    _bm25_ctes(
        "",
        f"""SELECT doc_id AS query_id, term FROM (
        SELECT doc_id, term,
               row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS qrk
        FROM tf WHERE doc_id < {_MRR_NQ}) qq WHERE qrk <= {_MRR_TERMS}""",
        _MRR_K,
    )
    + f"""
SELECT p.query_id,
       CAST(COALESCE(t.rk, 0) AS BIGINT) AS self_rank,
       CAST(CASE WHEN t.rk IS NULL THEN 0 ELSE {_FP} // t.rk END AS BIGINT) AS rr_fp
FROM (SELECT DISTINCT query_id FROM q) p
LEFT JOIN topk t ON t.query_id = p.query_id AND t.doc_id = p.query_id
"""
)


@register(
    "bm25_mrr_eval",
    tags=("ext", "llm", "retrieval", "eval"),
    oracle=_MRR_ORACLE,
)
def bm25_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-retrieval MRR@10: query each panel document's 5
    most-frequent tokens (its keyterm signature) against the full
    corpus and record the rank at which BM25 returns the source
    document — the standard index-pipeline sanity eval (a healthy
    index retrieves a doc from its own keyterms at rank ~1; systematic
    misses point at tokenization or scoring drift). Keyterms by
    term frequency, NOT title position: the synthetic fixture's
    ~31-token vocabulary makes positional terms non-distinctive
    (title-query MRR measured near zero), while the tf signature
    retrieves 20/20 at rank ≤ 5. Per query: self_rank (0 = not in the
    top-10) and the fixed-point reciprocal rank; MRR is the mean of
    rr_fp, which the tests assemble.

    Plan: the scoring engine is ``bm25_topk`` verbatim (one corpus
    scan, pinned tf index, broadcast query terms — its 100 TB shape);
    the keyterm extraction is a window over the panel docs' own terms
    (panel-bounded) and the final join is broadcast-sized. The panel
    is fixed-size by the eval-suite convention (_RET_PANEL rationale).
    """
    docs = load_table(spark, sf_dir, "documents")
    panel_tf = (
        docs.filter(F.col("doc_id") < _MRR_NQ)
        .select("doc_id", F.explode(X.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    qw = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), "term")
    qterms = (
        panel_tf.withColumn("qrk", F.row_number().over(qw))
        .filter(F.col("qrk") <= _MRR_TERMS)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    topk = bm25_topk(docs.select("doc_id", "text"), qterms, _MRR_K)
    self_hits = topk.filter(F.col("doc_id") == F.col("query_id")).select(
        "query_id", F.col("rk").alias("self_rank")
    )
    panel = qterms.select("query_id").distinct()
    return (
        panel.join(F.broadcast(self_hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("self_rank", F.lit(0)).cast("long").alias("self_rank"),
            F.when(F.col("self_rank").isNull(), F.lit(0))
            .otherwise(F.expr(f"{_FP} div self_rank"))
            .cast("long")
            .alias("rr_fp"),
        )
    )


# --- Rank-biased overlap between the two retrieval modalities ----------------

_RBO_D = 20  # evaluation depth == the per-modality candidate depth


def _rbo_terms_sql() -> str:
    """Σ_{d=1..D} (overlap_d · FP div d) div 2^d — RBO@D with the
    dyadic persistence p = 1/2, every term an integer division so the
    score is engine-exact. (1−p)·p^(d−1) = 2^−d folds the RBO weight
    into one shift."""
    return " + ".join(
        f"(CAST(COUNT(*) FILTER (WHERE m <= {d}) AS BIGINT) * {_FP} // {d}) // {2 ** d}"
        for d in range(1, _RBO_D + 1)
    )


_RBO_ORACLE = (
    _bm25_ctes(
        "",
        f"SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term"
        f" FROM base WHERE doc_id < {_BM25_NQ}",
        _RBO_D,
    )
    + f""",
ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
              unnest(embedding) AS val FROM embeddings),
dense_sc AS (
    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(c.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS dot,
           SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(q.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS qq,
           SUM(CAST(floor(CAST(c.val AS DOUBLE) * CAST(c.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS cc
    FROM (SELECT * FROM ex WHERE vec_id < {_BM25_NQ}) q
    JOIN ex c ON c.pos = q.pos
    GROUP BY 1, 2
),
dense AS (
    SELECT query_id, doc_id, rk AS dense_rk FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC,
                                           doc_id) AS rk
        FROM dense_sc
    ) r WHERE rk <= {_RBO_D}
),
common AS (
    SELECT s.query_id, GREATEST(s.rk, d.dense_rk) AS m
    FROM topk s JOIN dense d ON d.query_id = s.query_id AND d.doc_id = s.doc_id
)
SELECT p.query_id,
       CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
       CAST(COALESCE(c.rbo_fp, 0) AS BIGINT) AS rbo_fp
FROM (SELECT DISTINCT query_id FROM q) p
LEFT JOIN (
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST({_rbo_terms_sql()} AS BIGINT) AS rbo_fp
    FROM common GROUP BY query_id
) c ON c.query_id = p.query_id
"""
)


@register(
    "rbo_rank_agreement",
    tags=("ext", "llm", "retrieval", "eval"),
    oracle=_RBO_ORACLE,
)
def rbo_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (RBO@20, persistence p = 1/2) between the
    BM25 and dense-cosine rankings for the standing query panel — DO
    the two retrieval modalities agree, quantified top-weightedly
    (depth-1 agreement dominates; ties at depth 20 barely count)?
    Low RBO is exactly when hybrid fusion (``hybrid_rrf_retrieval``)
    earns its keep; high RBO says one modality suffices.

    Exactness: the dyadic p folds (1−p)p^(d−1) into 2^−d, so every
    term is overlap_d·FP div d div 2^d — pure integers. Plan: both
    bounded rank lists are the hybrid query's own machinery; the
    agreement join, depth explosion (20 literals), and the per-query
    sum all run on parameter-sized frames."""
    docs = load_table(spark, sf_dir, "documents")
    qterms = docs.filter(F.col("doc_id") < _BM25_NQ).select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.array_distinct(X.tokens("text"))).alias("term"),
    )
    sparse = bm25_topk(docs.select("doc_id", "text"), qterms, _RBO_D).select(
        "query_id", "doc_id", F.col("rk").alias("bm25_rk")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    # r14 opt: per-vector self-norms precomputed once per side (see
    # hybrid_rrf_retrieval — same integers, bit-identical cosine).
    q = emb.filter(F.col("vec_id") < _BM25_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        S.self_norm_fp_col(F.col("embedding")).alias("qq"),
    )
    c = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("c_emb"),
        S.self_norm_fp_col(F.col("embedding")).alias("cc"),
    )
    dw = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "doc_id")
    dense = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "doc_id",
            S.cosine_from_fp(
                S.dot_fp_col(F.col("q_emb"), F.col("c_emb")), F.col("qq"), F.col("cc")
            ).alias("cosine"),
        )
        .withColumn("dense_rk", F.row_number().over(dw))
        .filter(F.col("dense_rk") <= _RBO_D)
        .select("query_id", "doc_id", "dense_rk")
    )
    common = sparse.join(dense, ["query_id", "doc_id"]).select(
        "query_id", F.greatest("bm25_rk", "dense_rk").alias("m")
    )
    terms = sum(
        F.expr(f"(count_if(m <= {d}) * {_FP} div {d}) div {2 ** d}")
        for d in range(1, _RBO_D + 1)
    )
    agg = common.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_common"), terms.cast("long").alias("rbo_fp")
    )
    panel = qterms.select("query_id").distinct()
    return panel.join(F.broadcast(agg), "query_id", "left").select(
        "query_id",
        F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        F.coalesce("rbo_fp", F.lit(0)).cast("long").alias("rbo_fp"),
    )
