"""[EXT] LLM-training-data pipeline queries (north-star): text analysis,
dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard), similarity
search over embeddings, multimodal metadata.

Oracle strategy: every operator whose semantics are expressible in
ANSI-ish SQL gets a DuckDB twin built from the same expression text
(operators/text.py sql_* helpers), so tokenization/hashing/tie-breaks
match exactly. Engine-specific numerics (float HOF folds, HLL) are
registered rows-only and cross-checked in tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.operators import dedup as D
from flinkstreametl_spark.operators import similarity as S
from flinkstreametl_spark.operators import text as X
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.sources.parquet import ensure_parallelism, load_table

_TOKS = X.sql_tokens("text")


@register(
    "text_quality_stats",
    tags=("llm", "text", "bench"),
    oracle=f"""
SELECT doc_id,
       lang,
       length(text) AS n_chars_calc,
       len({_TOKS}) AS n_tokens,
       len(list_distinct({_TOKS})) AS n_distinct_tokens,
       length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
       {X.sql_marker_hits(_TOKS, X.EN_STOPWORDS)} AS n_stopwords,
       CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) AS ttr,
       CAST({X.sql_marker_hits(_TOKS, X.EN_STOPWORDS)} AS DOUBLE) / len({_TOKS}) AS stopword_ratio,
       (len({_TOKS}) >= 10 AND len({_TOKS}) <= 10000
        AND (CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS})) > 0.1) AS is_quality
FROM documents
""",
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token/char/punct counts, type-token
    ratio, stopword ratio, and a boolean quality gate — the standard
    pre-training corpus filters. Pure column expressions; one scan, no
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    dtoks = X.distinct_tokens("text")
    n_tokens = F.size(toks)
    n_distinct = F.size(dtoks)
    stop_hits = X.marker_hits(toks, X.EN_STOPWORDS)
    ttr = n_distinct.cast("double") / n_tokens
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        X.punct_count("text").alias("n_punct"),
        stop_hits.alias("n_stopwords"),
        ttr.alias("ttr"),
        (stop_hits.cast("double") / n_tokens).alias("stopword_ratio"),
        ((n_tokens >= 10) & (n_tokens <= 10000) & (ttr > 0.1)).alias("is_quality"),
    )


_HITS_SQL = {lang: X.sql_marker_hits(_TOKS, words) for lang, words in X.LANG_MARKERS.items()}


@register(
    "langid_heuristic",
    tags=("llm", "text"),
    oracle=f"""
SELECT doc_id,
       lang AS labeled_lang,
       {_HITS_SQL['en']} AS en_hits,
       {_HITS_SQL['es']} AS es_hits,
       {_HITS_SQL['de']} AS de_hits,
       {_HITS_SQL['fr']} AS fr_hits,
       {_HITS_SQL['zh']} AS zh_hits,
       {X.sql_predicted_lang(_HITS_SQL)} AS predicted_lang
FROM documents
""",
)
def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID: per-language hit counts + argmax with
    fixed tie-break order (operators/text.py). Deterministic and
    SQL-twinned; a real n-gram model would slot into the same shape."""
    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    hits = {lang: X.marker_hits(toks, words) for lang, words in X.LANG_MARKERS.items()}
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits["en"].alias("en_hits"),
        hits["es"].alias("es_hits"),
        hits["de"].alias("de_hits"),
        hits["fr"].alias("fr_hits"),
        hits["zh"].alias("zh_hits"),
        X.predicted_lang(hits).alias("predicted_lang"),
    )


@register(
    "doc_fingerprint",
    tags=("llm", "dedup"),
    oracle=f"""
SELECT doc_id, {X.sql_fingerprint('text')} AS fp
FROM documents
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 of normalized text) — the exact-dedup key."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.fingerprint("text").alias("fp"))


@register(
    "exact_dup_groups",
    tags=("llm", "dedup", "bench"),
    oracle=f"""
SELECT {X.sql_fingerprint('text')} AS fp,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keeper
FROM documents
GROUP BY 1
""",
)
def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup inventory: hash-groupBy on the fingerprint (the 100 TB
    dedup sweep — one shuffle keyed by digest)."""
    return D.exact_dup_groups(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_keep_first",
    tags=("llm", "dedup"),
    oracle=f"""
SELECT doc_id, fp
FROM (
    SELECT doc_id, {X.sql_fingerprint('text')} AS fp,
           ROW_NUMBER() OVER (PARTITION BY {X.sql_fingerprint('text')} ORDER BY doc_id) AS rn
    FROM documents
) t
WHERE rn = 1
""",
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact dedup: keep min-id doc per fingerprint
    (dropDuplicates picks an arbitrary row; this is the reproducible
    variant)."""
    return D.dedup_keep_first(load_table(spark, sf_dir, "documents")).select("doc_id", "fp")


def _minhash_ctes(src: str, p: str = "") -> str:
    """The MinHash+LSH+verify pipeline as a reusable CTE list over any
    document relation ``src`` (round 8: the dedup funnel re-runs the
    chain on its gate-surviving subset). ``p`` prefixes every CTE name
    so two chains can coexist in one statement. The final CTE,
    ``{p}verified``, is the (doc_a, doc_b, jaccard >= 0.6) pair set —
    byte-for-byte the semantics minhash_lsh_neardup has carried since
    round 1."""
    return f"""{p}tok AS (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM {src}
), {p}mh AS (
    SELECT doc_id, j,
           MIN(md5(tok || ':' || CAST(j AS VARCHAR))) AS mh
    FROM {p}tok, (SELECT unnest(range({D.NUM_HASHES})) AS j) seeds
    GROUP BY doc_id, j
), {p}bands AS (
    SELECT doc_id, CAST(floor(j / {D.ROWS_PER_BAND}) AS INT) AS band,
           string_agg(mh, '|' ORDER BY j) AS band_key
    FROM {p}mh GROUP BY doc_id, CAST(floor(j / {D.ROWS_PER_BAND}) AS INT)
), {p}kept AS (
    SELECT doc_id, band, band_key,
           COUNT(*) OVER (PARTITION BY band, band_key) AS bn
    FROM {p}bands
    QUALIFY bn <= {D.MAX_BUCKET_SIZE}
), {p}sets AS (
    SELECT doc_id, list_distinct({_TOKS}) AS toks FROM {src}
), {p}cand AS (
    SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM {p}kept b1
    JOIN {p}kept b2 ON b1.band = b2.band AND b1.band_key = b2.band_key AND b1.doc_id < b2.doc_id
), {p}verified AS (
    SELECT doc_a, doc_b, jaccard FROM (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(s1.toks, s2.toks)) AS DOUBLE)
                 / (len(s1.toks) + len(s2.toks) - len(list_intersect(s1.toks, s2.toks))) AS jaccard
        FROM {p}cand c
        JOIN {p}sets s1 ON c.doc_a = s1.doc_id
        JOIN {p}sets s2 ON c.doc_b = s2.doc_id
    ) v
    WHERE jaccard >= 0.6
)"""


_MINHASH_ORACLE = (
    "WITH " + _minhash_ctes("documents") + "\nSELECT doc_a, doc_b, jaccard FROM verified"
)


# NOTE the synthetic corpus has a ~40-word vocabulary, so nearly every
# doc pair is a near-dup and un-capped LSH degenerates toward all-pairs
# (6.6M verified pairs at sf0.1 in round 1). The band-bucket cap
# (operators/dedup.py MAX_BUCKET_SIZE, mirrored in the oracle's QUALIFY)
# drops those degenerate hot buckets — which is exactly what it exists
# to do to boilerplate at 100 TB. Candidate-dedup alternatives were
# A/B'd (docs/SCALE.md): the shuffle-free first-matching-band rewrite
# lost 4x to a codegen cliff.
@register("minhash_lsh_neardup", tags=("llm", "dedup", "bench"), oracle=_MINHASH_ORACLE)
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification
    (operators/dedup.py): md5-based hash family so the oracle reproduces
    signatures bit-for-bit. Candidate generation is the banded self-join
    with a hot-bucket cap — output-sized, not O(n²), even when one band
    key collects the whole corpus. The docs input routes through the
    single-split guard: 128 md5s per token on one core otherwise
    (measured 2.67s -> 2.32s at sf0.1); the incremental ingest path
    deliberately does NOT guard (its per-batch frames are small and
    the extra exchange per batch measured 51% slower)."""
    return D.minhash_lsh_pairs(
        ensure_parallelism(load_table(spark, sf_dir, "documents")), threshold=0.6
    )


_SIMHASH_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
), bits AS (
    SELECT doc_id, i,
           SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), 1 + CAST(floor(i / 4) AS INT), 1)) - 1)
                          & (1 << CAST(i % 4 AS INT))) > 0 THEN 1 ELSE -1 END) AS s
    FROM tok, (SELECT unnest(range(16)) AS i) bb
    GROUP BY doc_id, i
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
FROM bits
GROUP BY doc_id
"""


@register("simhash_signatures", tags=("llm", "dedup"), oracle=_SIMHASH_ORACLE)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document from per-token md5 nibbles — same
    integer/bit expressions on both engines."""
    return D.simhash(load_table(spark, sf_dir, "documents"))


_SIMHASH_PAIRS_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
), bits AS (
    SELECT doc_id, i,
           SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), 1 + CAST(floor(i / 4) AS INT), 1)) - 1)
                          & (1 << CAST(i % 4 AS INT))) > 0 THEN 1 ELSE -1 END) AS s
    FROM tok, (SELECT unnest(range(16)) AS i) bb
    GROUP BY doc_id, i
), sh AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
), banded AS (
    SELECT doc_id, simhash, band, (simhash >> (band * 4)) & 15 AS band_bits
    FROM sh, (SELECT unnest(range(4)) AS band) b
    QUALIFY COUNT(*) OVER (PARTITION BY band, band_bits) <= {D.MAX_BUCKET_SIZE}
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
"""


@register("simhash_near_pairs", tags=("llm", "dedup", "bench"), oracle=_SIMHASH_PAIRS_ORACLE)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3 via xor+bit_count) through
    the pigeonhole banded equi-join with the hot-bucket cap. Promoted
    from rows-only in round 2: the banded candidate join (including the
    QUALIFY bucket cap) is now mirrored exactly in the DuckDB oracle —
    signatures were already bit-identical, so the full pair set is
    hash-verified."""
    out = D.simhash_near_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


_ID_BAND = 25  # max doc-id distance for a candidate pair (== bucket width)


@register(
    "ngram_jaccard_pairs",
    tags=("llm", "dedup"),
    oracle=f"""
WITH tk AS (
    SELECT doc_id, lang, source, {_TOKS} AS toks FROM documents
), g AS (
    SELECT doc_id, lang, source,
           list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS grams
    FROM tk
)
SELECT doc_a, doc_b, jaccard FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jaccard
    FROM g a
    JOIN g b ON a.lang = b.lang AND a.source = b.source
            AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 25
) v
WHERE jaccard >= 0.05
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard over (lang, source)-bucketed, id-bounded pairs
    — the blocked pairwise pattern: candidate pairs come from cheap
    equi-join blocking keys, never a full cross join.

    The id-distance bound is part of the JOIN KEY, not a post-filter:
    with bucket = floor(doc_id / BAND), any pair with doc_b - doc_a <=
    BAND has bucket_b in {bucket_a, bucket_a + 1}, so the probe side
    explodes to its own and the next bucket and the join runs on (lang,
    source, id_bucket). Candidates per block are then linear in block
    size; the old key (lang, source alone) enumerated O(block²) pairs
    before the id filter — fine at 500 docs, a skew hazard at 100 TB
    where a (lang, source) block can be billions of rows. The two probe
    buckets are distinct, so no pair is produced twice."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the token array BEFORE the per-element lambda: an
    # inline tokens("text") inside element_at re-runs the regexp split
    # per gram position (measured ~7x slower at sf0.1).
    base = docs.select("doc_id", "lang", "source", X.tokens("text").alias("toks"))
    toks = F.col("toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)),
        )
    )
    g = base.select("doc_id", "lang", "source", grams.alias("grams"))
    bucket = F.floor(F.col("doc_id") / _ID_BAND)
    a = g.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "source",
        F.col("grams").alias("grams_a"),
        F.explode(F.array(bucket, bucket + 1)).alias("id_bucket"),
    )
    b = g.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        "source",
        F.col("grams").alias("grams_b"),
        bucket.alias("id_bucket"),
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    jac = inter.cast("double") / (F.size("grams_a") + F.size("grams_b") - inter)
    return (
        a.join(b, ["lang", "source", "id_bucket"])
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("doc_b") - F.col("doc_a") <= _ID_BAND))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.05)
    )


_EMB_EXPLODE = "SELECT vec_id, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS val FROM embeddings"


_KNN_ORACLE = f"""
WITH q AS (SELECT * FROM ({_EMB_EXPLODE}) WHERE vec_id < 5),
     c AS ({_EMB_EXPLODE}),
     p AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(c.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS dot,
               SUM(CAST(floor(CAST(q.val AS DOUBLE) * CAST(q.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS qq,
               SUM(CAST(floor(CAST(c.val AS DOUBLE) * CAST(c.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS cc
        FROM q JOIN c ON q.pos = c.pos AND q.vec_id <> c.vec_id
        GROUP BY q.vec_id, c.vec_id
     )
SELECT query_id, neighbor_id, cosine, rk FROM (
    SELECT query_id, neighbor_id,
           CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) AS cosine,
           ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC, neighbor_id
           ) AS rk
    FROM p
) v
WHERE rk <= 5
"""


@register("knn_brute_topk", tags=("llm", "similarity", "bench"), oracle=_KNN_ORACLE)
def knn_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id<5 — the ANN
    correctness baseline. Fixed-point (2^-40) dot products make scores
    and ranking bit-identical to the oracle (operators/similarity.py)."""
    return S.knn_exact(load_table(spark, sf_dir, "embeddings"), n_queries=5, k=5)


@register("knn_cosine_fast", tags=("llm", "similarity", "bench"), oracle=_KNN_ORACLE)
def knn_cosine_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast-path k-NN: in-row zip_with/aggregate cosine, broadcast query
    side, no explode. Promoted from rows-only in round 2: the in-row
    fold now quantizes per-element to the SAME 2^-40 fixed point as the
    relational path (operators/similarity.py cosine_col_fp), so scores
    are bit-identical to knn_brute_topk and the same oracle verifies
    both implementations."""
    return S.knn_fast(load_table(spark, sf_dir, "embeddings"), n_queries=5, k=5)


@register(
    "embedding_norms",
    tags=("llm", "similarity"),
    oracle=f"""
SELECT vec_id, label,
       sqrt(CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * CAST(val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS DOUBLE)
            / 1099511627776.0) AS l2_norm
FROM (SELECT e.vec_id, e.label, unnest(e.embedding) AS val FROM embeddings e) t
GROUP BY vec_id, label
""",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm via fixed-point-exact sum of squares."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", "label", F.explode("embedding").alias("val"))
    sq = S.fp(F.col("val").cast("double") * F.col("val").cast("double"))
    return ex.groupBy("vec_id", "label").agg(
        F.sqrt(F.sum(sq).cast("double") / F.lit(S.FP_SCALE)).alias("l2_norm")
    )


@register(
    "label_centroids",
    tags=("llm", "similarity"),
    oracle="""
SELECT label, pos,
       CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS DOUBLE)
           / 1099511627776.0 / COUNT(*) AS centroid_val
FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS val FROM embeddings) t
GROUP BY label, pos
""",
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer table: per-label elementwise mean embedding
    (fixed-point-exact, operators/similarity.py)."""
    return S.label_centroids(load_table(spark, sf_dir, "embeddings"))


_IVF_ORACLE = """
WITH cents AS (
    SELECT label, pos,
           CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS DOUBLE)
               / 1099511627776.0 / COUNT(*) AS cval
    FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS val FROM embeddings) t
    GROUP BY label, pos
), q AS (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos, CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings WHERE vec_id < 5
), ps AS (
    SELECT q.vec_id AS query_id, c.label,
           SUM(CAST(floor(q.val * c.cval * 1099511627776.0) AS BIGINT)) AS dot,
           SUM(CAST(floor(q.val * q.val * 1099511627776.0) AS BIGINT)) AS qq,
           SUM(CAST(floor(c.cval * c.cval * 1099511627776.0) AS BIGINT)) AS cc
    FROM q JOIN cents c ON q.pos = c.pos
    GROUP BY 1, 2
), probes AS (
    SELECT query_id, label FROM (
        SELECT query_id, label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC, label) AS prb
        FROM ps) v
    WHERE prb <= 3
), e AS (
    SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos, CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings
), pairsc AS (
    SELECT p.query_id, e.vec_id AS neighbor_id,
           SUM(CAST(floor(q.val * e.val * 1099511627776.0) AS BIGINT)) AS dot,
           SUM(CAST(floor(q.val * q.val * 1099511627776.0) AS BIGINT)) AS qq,
           SUM(CAST(floor(e.val * e.val * 1099511627776.0) AS BIGINT)) AS cc
    FROM probes p
    JOIN e ON e.label = p.label AND e.vec_id <> p.query_id
    JOIN q ON q.vec_id = p.query_id AND q.pos = e.pos
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, cosine, rk FROM (
    SELECT query_id, neighbor_id,
           CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) AS cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) DESC, neighbor_id) AS rk
    FROM pairsc) v
WHERE rk <= 5
"""


@register("ann_ivf_topk", tags=("llm", "similarity"), oracle=_IVF_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (probe 3 nearest label-centroids, exact cosine within
    probed clusters). Promoted from rows-only in round 2: probe scoring
    and candidate scoring both use the 2^-40 fixed-point fold
    (operators/similarity.py cosine_col_fp), so the oracle reproduces
    the ENTIRE ANN decision path — centroid table, probe choice, and
    final ranking — exactly; tests still measure recall vs
    knn_brute_topk."""
    return S.ivf_topk(load_table(spark, sf_dir, "embeddings"), n_queries=5, k=5, nprobe=3)


@register(
    "media_meta",
    tags=("llm", "multimodal"),
    oracle="""
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS digest
FROM documents
""",
)
def media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata path exercised on real fixtures: documents.text
    encoded as the opaque binary payload (the container ships no codecs —
    operators/multimodal.py stubs decode, this covers the blob-metadata
    plumbing)."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("payload")
    )
    from flinkstreametl_spark.operators.multimodal import media_metadata

    return media_metadata(docs)


@register(
    "audio_features_wav",
    tags=("llm", "multimodal", "audio"),
    oracle="""
SELECT doc_id AS media_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(160 + (n_chars % 100) * 16 AS BIGINT) AS n_frames,
       CAST((160 + (n_chars % 100) * 16) // 8 AS BIGINT) AS duration_ms,
       CAST(1000 + (doc_id % 25) * 100 AS BIGINT) AS rms,
       CAST(1000 + (doc_id % 25) * 100 AS BIGINT) AS peak,
       CAST((160 + (n_chars % 100) * 16) // 8 - 1 AS BIGINT) AS n_sign_flips
FROM documents
""",
)
def audio_features_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode path on REAL RIFF/WAVE payloads: each document row
    synthesizes a deterministic 16-bit PCM square wave (amplitude and
    length derived from doc_id / n_chars), and the pipeline under test
    decodes those bytes with the stdlib wave parser and extracts integer
    frame features (operators/multimodal.py audio_features). The oracle
    states the CLOSED-FORM expected features — a square wave of
    amplitude A has floor-RMS exactly A, peak A, and one sign flip per
    half-period — so any decode/ordering/feature bug breaks parity.
    Both mapInPandas stages are Arrow-batched and executor-side; blobs
    never exist driver-side, exactly the 100 TB media shape."""
    from collections.abc import Iterator as _Iterator

    import pandas as _pd

    from flinkstreametl_spark.operators.multimodal import audio_features, synth_square_wav

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    )  # single-split guard for the per-doc synth+decode chain

    def synth(batches: _Iterator[_pd.DataFrame]) -> _Iterator[_pd.DataFrame]:
        for pdf in batches:
            payloads = [
                synth_square_wav(8000, 160 + int(nch) % 100 * 16, 1000 + int(did) % 25 * 100)
                for did, nch in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            yield _pd.DataFrame({"media_id": pdf["doc_id"].astype("int64"), "payload": payloads})

    media = docs.mapInPandas(synth, schema="media_id LONG, payload BINARY")
    return audio_features(media)


@register(
    "video_frame_sample",
    tags=("llm", "multimodal", "video"),
    oracle="""
WITH fr AS (
    SELECT doc_id, unnest(range(0, 2 + doc_id % 5, 2)) AS frame_idx FROM documents
)
SELECT doc_id AS media_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(4 AS INTEGER) AS width,
       CAST(4 AS INTEGER) AS height,
       CAST((doc_id * 7 + frame_idx * 13) % 256 AS BIGINT) AS mean_r,
       CAST((doc_id * 11 + frame_idx * 17) % 256 AS BIGINT) AS mean_g,
       CAST((doc_id * 13 + frame_idx * 19) % 256 AS BIGINT) AS mean_b
FROM fr
""",
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video decode + frame sampling on REAL container payloads: each
    document synthesizes a concatenated-P6 'video' (the MJPEG shape —
    2 + doc_id % 5 solid-color 4×4 frames whose colors are a function of
    (doc_id, frame_idx)), and the pipeline under test re-parses the
    container (operators/multimodal.py decode_video_ppm), samples every
    2nd frame, and extracts integer per-frame channel means. The oracle
    states the closed-form colors, so frame ORDER, sampling stride, and
    raster decode are all hash-verified. The frame explosion happens
    executor-side after decode — one output row per sampled frame, the
    payload is never copied per frame."""
    from collections.abc import Iterator as _Iterator

    import pandas as _pd

    from flinkstreametl_spark.operators.multimodal import (
        encode_video_ppm,
        video_frame_features,
    )

    # ensure_parallelism: the 5000-row single-row-group documents file
    # is ONE split, which would serialize the per-doc synth+decode
    # mapInPandas chain onto one core while 31 idle (measured: 5.3s
    # -> sub-second at sf0.1). At cluster scale inputs arrive
    # well-split and this is a no-op.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents").select("doc_id"))

    def synth(batches: _Iterator[_pd.DataFrame]) -> _Iterator[_pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = [
                    (4, 4, [(did * 7 + f * 13) % 256, (did * 11 + f * 17) % 256, (did * 13 + f * 19) % 256] * 16)
                    for f in range(2 + did % 5)
                ]
                payloads.append(encode_video_ppm(frames))
            yield _pd.DataFrame({"media_id": pdf["doc_id"].astype("int64"), "payload": payloads})

    media = docs.mapInPandas(synth, schema="media_id LONG, payload BINARY")
    return video_frame_features(media, every_n=2)


@register(
    "bpe_ish_token_count",
    tags=("llm", "text"),
    oracle="""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9[:space:]]')) AS n_bpe_tokens,
       len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws_tokens
FROM documents
""",
)
def bpe_ish_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (north-star): whitespace tokens and a
    BPE-ish pre-tokenizer regex (letter runs | digit runs | single
    punctuation) — the standard GPT-style pre-tokenization shape, all
    JVM-side regexp."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(r"size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0))").alias("n_bpe_tokens"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_ws_tokens"),
    )


@register(
    "embedding_neardup_pairs",
    tags=("llm", "dedup", "similarity", "bench"),
    # In-row list folds (the semantic_dedup_pairs oracle pattern, round
    # 6): candidate pairs carry their vectors as arrays instead of
    # exploding |pairs| x dim rows through a hash aggregate. Same
    # floor(x*y*2^40) BIGINT terms -> bit-identical; the sf1 oracle
    # drops 192s -> seconds-class.
    oracle="""
WITH p AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
               x -> CAST(floor(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) * 1099511627776.0) AS BIGINT))) AS BIGINT) AS dot,
           CAST(list_sum(list_transform(a.embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1099511627776.0) AS BIGINT))) AS BIGINT) AS qq,
           CAST(list_sum(list_transform(b.embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1099511627776.0) AS BIGINT))) AS BIGINT) AS cc
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM (
    SELECT vec_a, vec_b,
           CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) AS cosine
    FROM p
) v
WHERE cosine >= 0.3
""",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection with LABEL BLOCKING: only
    same-cluster pairs are scored (the IVF-style candidate restriction —
    at 100 TB the block key comes from coarse quantization, keeping the
    pair count output-sized instead of O(n²)). Fixed-point cosine, so
    the threshold cut is engine-exact. Threshold 0.3 exercises the
    operator on this zero-centered synthetic corpus (real near-dup
    pipelines use ~0.95).

    Plan shape: one equi-join on the block label over ARRAY rows, the
    cosine folded IN-ROW with the fixed-point HOF (cosine_col_fp) —
    integer folds match the oracle's exploded SUM bit-for-bit, and the
    shuffle carries |pairs| rows, not |pairs| × dim (the round-2
    exploded formulation moved every vector element through the
    join+aggregate and was the worst scaler in docs/SCALING.md)."""
    # the per-pair HOF fold is CPU-bound: spread a single-split input
    # across cores before the join (no-op on well-split inputs)
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    # r14 opt: each side carries its fixed-point self-norm computed
    # ONCE per vector; the pair stage folds only the dot — a ~3x cut of
    # the per-pair arithmetic (|pairs| >> |vectors| under any useful
    # blocking), with the exact same integers reaching the division
    # (operators/similarity.self_norm_fp_col).
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        "label",
        F.col("embedding").alias("emb_a"),
        S.self_norm_fp_col(F.col("embedding")).alias("qq"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
        S.self_norm_fp_col(F.col("embedding")).alias("cc"),
    )
    pairs = a.join(b, (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
    scored = pairs.select(
        "vec_a",
        "vec_b",
        S.cosine_from_fp(
            S.dot_fp_col(F.col("emb_a"), F.col("emb_b")), F.col("qq"), F.col("cc")
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= 0.3)


_CHUNK, _STRIDE = 64, 48  # 16-token overlap


@register(
    "chunk_documents",
    tags=("llm", "text", "chunk", "bench"),
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
n AS (SELECT doc_id, toks,
             GREATEST(CAST(FLOOR((len(toks) - {_CHUNK - _STRIDE} + {_STRIDE - 1}) / {_STRIDE}.0) AS BIGINT), 1) AS nc
      FROM t),
c AS (SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_id FROM n)
SELECT doc_id, chunk_id,
       array_to_string(list_slice(toks, chunk_id*{_STRIDE} + 1, chunk_id*{_STRIDE} + {_CHUNK}), ' ') AS chunk_text,
       len(list_slice(toks, chunk_id*{_STRIDE} + 1, chunk_id*{_STRIDE} + {_CHUNK})) AS n_chunk_tokens
FROM c
""",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking with overlap (64 tokens,
    stride 48) — the context-window packing step of a pretraining
    pipeline. One scan + one generator (explode of the chunk index
    sequence); chunk extraction is an array slice, so the text is
    tokenized once per document, not once per chunk. No shuffle at any
    scale; output is ~n_tokens/stride rows per document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    t = docs.select("doc_id", toks.alias("toks"), X.num_chunks(toks, _CHUNK, _STRIDE).alias("nc"))
    c = t.select(
        "doc_id", "toks", F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("chunk_id")
    )
    sl = X.chunk_tokens(F.col("toks"), F.col("chunk_id"), _CHUNK, _STRIDE)
    return c.select(
        "doc_id",
        "chunk_id",
        F.array_join(sl, " ").alias("chunk_text"),
        F.size(sl).alias("n_chunk_tokens"),
    )


@register(
    "doc_repetition_stats",
    tags=("llm", "text", "quality"),
    # The same HOF-subexpression pitfall the Spark side fixed applies
    # to the ORACLE: inlining sql_ngrams() repeats the full tokenize
    # inside every lambda position and every use, and DuckDB re-splits
    # per element access — the sf1 sweep's slowest oracle by 5x (810s).
    # Materializing tokens then grams once through CTEs computes
    # identical values (same expressions, factored) in seconds.
    oracle="""
WITH tk AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents
),
g AS (
    SELECT doc_id,
           list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3,
           list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS g2
    FROM tk
),
m AS (
    SELECT doc_id, len(g3) AS n3, len(list_distinct(g3)) AS d3,
           len(g2) AS n2, len(list_distinct(g2)) AS d2
    FROM g
)
SELECT doc_id,
       n3 AS n_grams3,
       CASE WHEN n3 > 0 THEN 1.0 - CAST(d3 AS DOUBLE) / n3 ELSE 0.0 END AS dup3_ratio,
       CASE WHEN n2 > 0 THEN 1.0 - CAST(d2 AS DOUBLE) / n2 ELSE 0.0 END AS dup2_ratio,
       (n3 >= 10 AND 1.0 - CAST(d3 AS DOUBLE) / n3 > 0.2) AS is_repetitive
FROM m
""",
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: duplicate word 2-/3-gram
    fractions per document and a repetitiveness flag (>20% duplicate
    trigrams over >=10 trigrams). The ratio is an exact
    int-distinct/int-total division, identical in both engines. Pure
    map-side column expressions — one scan, no shuffle, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialize tokens before the n-gram lambdas (HOF subexpression
    # pitfall, docs/SCALE.md) — inline ngrams("text") re-splits per
    # element.
    base = docs.select("doc_id", X.tokens("text").alias("toks"))
    g3 = X.ngrams_from_tokens(F.col("toks"), 3)
    g2 = X.ngrams_from_tokens(F.col("toks"), 2)
    n3, n2 = F.size(g3), F.size(g2)
    dup3 = F.when(n3 > 0, F.lit(1.0) - F.size(F.array_distinct(g3)).cast("double") / n3).otherwise(0.0)
    dup2 = F.when(n2 > 0, F.lit(1.0) - F.size(F.array_distinct(g2)).cast("double") / n2).otherwise(0.0)
    return base.select(
        "doc_id",
        n3.alias("n_grams3"),
        dup3.alias("dup3_ratio"),
        dup2.alias("dup2_ratio"),
        ((n3 >= 10) & (dup3 > 0.2)).alias("is_repetitive"),
    )


# MATERIALIZED is load-bearing (round 8): without it DuckDB 1.0
# re-inlines the whole minhash pair chain into every iteration of the
# recursive reach CTE (sf1: 464s -> 55s). The r.label < e.v prune is
# exactness-preserving — the cluster minimum m is smaller than every
# other member, so the pruned recursion still delivers m along any
# path (labels that are not the min die early instead of flooding);
# measured 55s -> 29s at sf1 with identical output.
_CLUSTER_ORACLE = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
{_MINHASH_ORACLE}
), edges AS MATERIALIZED (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION ALL
    SELECT doc_b AS u, doc_a AS v FROM pairs
), reach AS (
    SELECT doc_id AS node, doc_id AS label FROM documents
    UNION
    SELECT e.v AS node, r.label AS label FROM edges e JOIN reach r ON e.u = r.node
    WHERE r.label < e.v
), m AS (
    SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node
)
SELECT d.doc_id, m.cluster_id, m.cluster_id = d.doc_id AS is_keeper
FROM documents d JOIN m ON d.doc_id = m.node
"""


@register("neardup_cluster_assign", tags=("llm", "dedup", "iterative"), oracle=_CLUSTER_ORACLE)
def neardup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal: MinHash+LSH pairs -> connected
    components (operators/dedup.neardup_clusters, iterative min-label
    propagation) -> every document assigned a cluster id (its own id if
    unpaired) and a keeper flag (cluster minimum). Promoted from
    rows-only in round 2: the oracle re-derives the SAME pair set
    (_MINHASH_ORACLE) and computes min-reachable-id per node with a
    recursive-CTE transitive closure — the UNION-dedup bounds the
    fixpoint, so the whole iterative algorithm is driver-hash-verified,
    not just unit-tested (the Python union-find test remains as the
    third opinion)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    labels = D.neardup_clusters(pairs)
    cluster = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("is_keeper"),
    )


# Uncapped twin of _MINHASH_ORACLE restricted to doc_id < 300: the
# incremental replay disables the bucket cap (capped buckets depend on
# arrival order; the equivalence below needs order-free semantics).
_INCR_MINHASH_ORACLE = f"""
WITH d AS (
    SELECT * FROM documents WHERE doc_id < 300
), tok AS (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM d
), mh AS (
    SELECT doc_id, j,
           MIN(md5(tok || ':' || CAST(j AS VARCHAR))) AS mh
    FROM tok, (SELECT unnest(range({D.NUM_HASHES})) AS j) seeds
    GROUP BY doc_id, j
), bands AS (
    SELECT doc_id, CAST(floor(j / {D.ROWS_PER_BAND}) AS INT) AS band,
           string_agg(mh, '|' ORDER BY j) AS band_key
    FROM mh GROUP BY doc_id, CAST(floor(j / {D.ROWS_PER_BAND}) AS INT)
), sets AS (
    SELECT doc_id, list_distinct({_TOKS}) AS toks FROM d
), cand AS (
    SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM bands b1
    JOIN bands b2 ON b1.band = b2.band AND b1.band_key = b2.band_key AND b1.doc_id < b2.doc_id
)
SELECT doc_a, doc_b, jaccard FROM (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(s1.toks, s2.toks)) AS DOUBLE)
             / (len(s1.toks) + len(s2.toks) - len(list_intersect(s1.toks, s2.toks))) AS jaccard
    FROM cand c
    JOIN sets s1 ON c.doc_a = s1.doc_id
    JOIN sets s2 ON c.doc_b = s2.doc_id
) v
WHERE jaccard >= 0.6
"""


@register("incremental_minhash_replay", tags=("llm", "dedup", "streaming"), oracle=_INCR_MINHASH_ORACLE)
def incremental_minhash_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup equivalence, as a verifiable query: the
    corpus slice (doc_id < 300) arrives in two batches through
    ``incremental_lsh_pairs`` (per batch: new-doc signatures + a join
    against the append-only band index — old-old work never redone),
    and the unioned pair stream must equal the one-shot batch oracle.
    Cap disabled: capped buckets depend on arrival order, and the
    equivalence statement needs order-free semantics (the production
    cap story is in operators/dedup.py and docs/SCALE.md)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    # Each batch frame and the index feed the pair join and the next
    # batch; lazy, as eager per-batch pins cost a job each.
    first = pin(docs.filter(F.col("doc_id") % 2 == 0), eager=False)
    second = pin(docs.filter(F.col("doc_id") % 2 == 1), eager=False)

    bands = D.lsh_band_keys(docs.limit(0))
    p1, bands = D.incremental_lsh_pairs(bands, first, first, max_bucket_size=None)
    bands = pin(bands, eager=False)
    p2, _ = D.incremental_lsh_pairs(bands, second, docs, max_bucket_size=None)
    return p1.unionByName(p2)


@register("incremental_minhash_multibatch", tags=("llm", "dedup", "streaming", "bench"), oracle=_INCR_MINHASH_ORACLE)
def incremental_minhash_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production replay shape: the same corpus slice arrives in
    THREE batches, and later batches RE-DELIVER documents from earlier
    ones (at-least-once sources do this on retry/CDC replay — batch 2
    re-ships every even doc of batch 1, batch 3 re-ships a slice of
    batch 2). ``incremental_lsh_pairs`` anti-joins re-deliveries away
    against the ids already in the band index before any signature
    work, so the pair stream across batches still equals the one-shot
    batch recompute (same oracle as the 2-batch replay) with no
    duplicate pairs and no duplicate index entries. Cap disabled: the
    equivalence statement needs arrival-order-free semantics."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    # Shared lazily, as in the 2-batch replay above.
    b0 = pin(docs.filter(F.col("doc_id") % 3 == 0), eager=False)
    # late/duplicate arrivals: batch 1 re-delivers batch 0's even docs,
    # batch 2 re-delivers batch 1's %5 slice
    b1 = pin(
        docs.filter(F.col("doc_id") % 3 == 1)
        .unionByName(docs.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 2 == 0))),
        eager=False,
    )
    b2 = pin(
        docs.filter(F.col("doc_id") % 3 == 2)
        .unionByName(docs.filter((F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 5 == 0))),
        eager=False,
    )

    bands = D.lsh_band_keys(docs.limit(0))
    seen = b0
    p0, bands = D.incremental_lsh_pairs(bands, b0, seen, max_bucket_size=None)
    bands = pin(bands, eager=False)
    seen = seen.unionByName(docs.filter(F.col("doc_id") % 3 == 1))
    p1, bands = D.incremental_lsh_pairs(bands, b1, seen, max_bucket_size=None)
    bands = pin(bands, eager=False)
    p2, _ = D.incremental_lsh_pairs(bands, b2, docs, max_bucket_size=None)
    return p0.unionByName(p1).unionByName(p2)


# Integer-weight quality score (the quality_classifier_score expression)
# as a reusable SQL fragment for cluster-representative selection.
_QSCORE_SQL = f"""
    SELECT doc_id,
           3 * CAST(len({_TOKS}) BETWEEN 10 AND 10000 AS BIGINT)
         + 2 * CAST(len(list_distinct({_TOKS})) * 10 > len({_TOKS}) AS BIGINT)
         + 2 * CAST({X.sql_marker_hits(_TOKS, X.EN_STOPWORDS)} * 20 >= len({_TOKS}) AS BIGINT)
         + 1 * CAST(length(text) BETWEEN len({_TOKS}) * 3 AND len({_TOKS}) * 13 AS BIGINT)
         + 1 * CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) * 10 <= length(text) AS BIGINT)
           AS score
    FROM documents
"""

# Same MATERIALIZED + min-label-prune treatment as _CLUSTER_ORACLE
# (round 8): sf1 448s -> ~30s, identical output.
_CANONICAL_ORACLE = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
{_MINHASH_ORACLE}
), edges AS MATERIALIZED (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION ALL
    SELECT doc_b AS u, doc_a AS v FROM pairs
), reach AS (
    SELECT doc_id AS node, doc_id AS label FROM documents
    UNION
    SELECT e.v AS node, r.label AS label FROM edges e JOIN reach r ON e.u = r.node
    WHERE r.label < e.v
), m AS (
    SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node
), q AS ({_QSCORE_SQL}
)
SELECT doc_id, cluster_id, score,
       ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id) = 1 AS is_canonical,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
FROM m JOIN q ON q.doc_id = m.node
"""


@register("cluster_canonical_docs", tags=("llm", "dedup", "quality", "iterative"), oracle=_CANONICAL_ORACLE)
def cluster_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last stage of the dedup pipeline: near-dup pairs -> connected
    components -> pick ONE canonical document per cluster by QUALITY
    (highest integer-weight classifier score, ties to the lowest id)
    instead of the arbitrary lowest-id keeper of
    ``neardup_cluster_assign``. This is how production corpus dedup
    decides which duplicate survives — keep the best-written copy, drop
    the rest.

    Plan: the pair/component machinery is shared (operators/dedup.py);
    the selection adds one window over cluster_id (rank by score) on
    the component labels joined to the map-side score projection — one
    extra shuffle on cluster_id, state bounded per cluster."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    labels = D.neardup_clusters(pairs)
    scored = docs.select("doc_id", X.quality_score_expr("text").alias("score"))
    assigned = scored.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"), "score"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("score").desc(), "doc_id")
    wc = Window.partitionBy("cluster_id")
    return assigned.select(
        "doc_id",
        "cluster_id",
        "score",
        (F.row_number().over(w) == 1).alias("is_canonical"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n_members"),
    )


# 60 pixel samples per synthetic image -> a 60-bit aHash (shifts stay
# clear of the signed-64 boundary, same budget rule as simhash).
#
# The synthetic image SPACE scales with the corpus (round 6): each
# 960-doc "era" carries 240 base patterns x 4 flip positions, and an
# era-dependent per-pixel texture term ((doc_id//960) * (i*i % 251))
# decorrelates images across eras. Every doc is near-identical to
# exactly its 3 same-(era, pattern) partners (images differ in the 2
# inverted pixels), so near-dup pair count grows LINEARLY with corpus
# size. The round-5 formula drew from a FIXED pool of <=960 distinct
# images — at a 10x-replicated sf1 fixture every image class had ~50
# members and pair counts grew quadratically (docs/ROUND5.md). The
# texture term repeats only at era deltas of 256 (~246k doc_ids apart),
# far past the sweep scales; widen the modulus before going there.
_PH_N = 60
_PH_BANDS, _PH_WIDTH = 4, 15
_PH_FAM = 240  # base patterns per era
_PH_FLIPS = 4  # flip positions per (era, pattern): pixels 0/15/30/45
_PH_ERA = _PH_FAM * _PH_FLIPS


def _capped_hamming_oracle_tail(fp: str) -> str:
    """DuckDB twin of ``dedup.hamming_pairs`` from a ``banded`` CTE with
    columns (doc_id, ``fp``, band, band_bits) — QUALIFY bucket cap then
    the banded self-join, mirroring the Spark plan cap-inclusively."""
    return f"""kept AS (
    SELECT doc_id, {fp}, band, band_bits,
           COUNT(*) OVER (PARTITION BY band, band_bits) AS bn
    FROM banded
    QUALIFY bn <= {D.MAX_BUCKET_SIZE}
)
SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b,
       CAST(bit_count(xor(a.{fp}, b.{fp})) AS BIGINT) AS hamming
FROM kept a
JOIN kept b ON a.band = b.band AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.{fp}, b.{fp})) <= 3"""


_PHASH_ORACLE = f"""
WITH px AS (
    SELECT doc_id, i,
           CASE WHEN i = ((doc_id // {_PH_FAM}) % {_PH_FLIPS}) * 15
                THEN 255 - ((doc_id % {_PH_FAM}) * (i + 3) + i * 13 + (doc_id // {_PH_ERA}) * ((i * i) % 251)) % 256
                ELSE ((doc_id % {_PH_FAM}) * (i + 3) + i * 13 + (doc_id // {_PH_ERA}) * ((i * i) % 251)) % 256 END AS v
    FROM documents, (SELECT unnest(range({_PH_N})) AS i) r
), s AS (
    SELECT doc_id, CAST(SUM(v) AS BIGINT) AS total FROM px GROUP BY doc_id
), h AS (
    SELECT px.doc_id,
           SUM(CASE WHEN px.v * {_PH_N} > s.total THEN (CAST(1 AS BIGINT) << px.i) ELSE 0 END) AS ahash
    FROM px JOIN s ON px.doc_id = s.doc_id
    GROUP BY px.doc_id
), banded AS (
    SELECT doc_id, ahash, band, (ahash >> (band * {_PH_WIDTH})) & {(1 << _PH_WIDTH) - 1} AS band_bits
    FROM h, (SELECT unnest(range({_PH_BANDS})) AS band) b
), {_capped_hamming_oracle_tail("ahash")}
"""


@register("image_phash_neardup", tags=("llm", "multimodal", "dedup"), oracle=_PHASH_ORACLE)
def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection through the REAL decode path: each doc
    synthesizes a deterministic 10x2 P6 PPM (240 base patterns x 4
    flip positions per 960-doc era, era-textured so the image space
    grows with the corpus — see the constants block), the pure-Python
    PPM codec decodes the
    bytes back executor-side, an average-hash (aHash: bit i set iff
    sample i is strictly above the image mean, integer
    cross-multiplied) folds each image to 60 bits, and candidate pairs
    come from the pigeonhole banded equi-join with the exact hamming
    filter on candidates — the simhash machinery applied to pixels.

    The oracle states the closed form of the whole chain (synth
    arithmetic -> mean -> bits -> bands -> pairs), so a decode bug, a
    raster-order bug, or a banding bug all break parity. Both
    mapInPandas stages are Arrow-batched; payloads never leave
    executors — at 100 TB swap the synth stage for the object-store
    read and the codec seam for a real JPEG decoder; every downstream
    operator is unchanged."""
    from collections.abc import Iterator as _Iterator

    import pandas as _pd

    from flinkstreametl_spark.operators.multimodal import decode_image, encode_ppm

    docs = ensure_parallelism(  # single-split guard, see video_frame_sample
        load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def synth(batches: _Iterator[_pd.DataFrame]) -> _Iterator[_pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                vals = [
                    ((did % _PH_FAM) * (i + 3) + i * 13 + (did // _PH_ERA) * ((i * i) % 251)) % 256
                    for i in range(_PH_N)
                ]
                flip = ((did // _PH_FAM) % _PH_FLIPS) * 15
                vals[flip] = 255 - vals[flip]
                payloads.append(encode_ppm(10, 2, [float(v) for v in vals]))
            yield _pd.DataFrame({"media_id": pdf["doc_id"].astype("int64"), "payload": payloads})

    media = docs.mapInPandas(synth, schema="media_id LONG, payload BINARY")

    def ahash(batches: _Iterator[_pd.DataFrame]) -> _Iterator[_pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _w, _h, samples = decode_image(bytes(payload))
                iv = [int(v) for v in samples[:_PH_N]]
                total = sum(iv)
                h = 0
                for i, v in enumerate(iv):
                    if v * _PH_N > total:
                        h |= 1 << i
                out.append({"media_id": int(mid), "ahash": h})
            yield _pd.DataFrame(out, columns=["media_id", "ahash"])

    hashes = media.mapInPandas(ahash, schema="media_id LONG, ahash LONG")
    pairs = D.hamming_pairs(hashes, "media_id", "ahash", _PH_BANDS, _PH_WIDTH)
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


# --- audio fingerprint near-dup ----------------------------------------------
# The third leg of the multimodal near-dup triad (text: minhash_lsh /
# simhash; image: image_phash_neardup; audio: this). Fingerprint =
# per-window peak energy folded to bits against the track mean — the
# windowed-energy-signature core of audio fingerprinting (Shazam-style
# constellation maps replace windows with spectral peaks; the banding
# + pigeonhole join downstream is identical). 48 windows of 4 frames;
# the synthetic audio SPACE scales with the corpus exactly like the
# image fixture: 240 base amplitude patterns x 4 flip positions per
# 960-doc era, era-dependent texture term decorrelating eras, so
# near-dup pair count grows LINEARLY with corpus size.
_AF_N = 48  # analysis windows per track -> 48-bit fingerprint
_AF_FPW = 4  # PCM frames per window (+A,-A,+A,-A -> window peak == A)
_AF_BANDS, _AF_WIDTH = 4, 12
_AF_FAM = 240
_AF_FLIPS = 4  # flip windows 0/12/24/36
_AF_ERA = _AF_FAM * _AF_FLIPS

_AFP_ORACLE = f"""
WITH wv AS (
    SELECT doc_id, w,
           CASE WHEN w = ((doc_id // {_AF_FAM}) % {_AF_FLIPS}) * 12
                THEN 255 - ((doc_id % {_AF_FAM}) * (w + 5) + w * 17 + (doc_id // {_AF_ERA}) * ((w * w) % 241)) % 256
                ELSE ((doc_id % {_AF_FAM}) * (w + 5) + w * 17 + (doc_id // {_AF_ERA}) * ((w * w) % 241)) % 256 END AS v
    FROM documents, (SELECT unnest(range({_AF_N})) AS w) r
), s AS (
    SELECT doc_id, CAST(SUM(v) AS BIGINT) AS total FROM wv GROUP BY doc_id
), h AS (
    SELECT wv.doc_id,
           SUM(CASE WHEN wv.v * {_AF_N} > s.total THEN (CAST(1 AS BIGINT) << wv.w) ELSE 0 END) AS afp
    FROM wv JOIN s ON wv.doc_id = s.doc_id
    GROUP BY wv.doc_id
), banded AS (
    SELECT doc_id, afp, band, (afp >> (band * {_AF_WIDTH})) & {(1 << _AF_WIDTH) - 1} AS band_bits
    FROM h, (SELECT unnest(range({_AF_BANDS})) AS band) b
), {_capped_hamming_oracle_tail("afp")}
"""


@register("audio_fingerprint_neardup", tags=("llm", "multimodal", "audio", "dedup"), oracle=_AFP_ORACLE)
def audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection through the REAL decode path: each doc
    synthesizes a deterministic 16-bit PCM RIFF/WAVE track whose 48
    analysis windows carry amplitude 100 + 120*v(doc, w) (the
    constants block states v's closed form; one flip window per
    pattern is inverted, era-textured so the audio space grows with
    the corpus), the stdlib-wave parser in
    ``operators/multimodal.decode_wav`` decodes the bytes back
    executor-side, per-window PEAKS recover v exactly (the affine map
    is strictly increasing, so peak-vs-mean and v-vs-mean bits agree),
    an energy-hash folds each track to 48 bits (bit w set iff window
    w's level is strictly above the track mean), and candidate pairs
    come from the pigeonhole banded equi-join with the exact hamming
    filter — image_phash_neardup's machinery applied to audio, closing
    the text/image/audio near-dup triad (VERDICT r9 item 3b).

    The oracle states the closed form of the whole chain (synth ->
    RIFF round-trip -> window peaks -> bits -> bands -> pairs), so an
    encode bug, a sample-order bug, a window-boundary bug, or a
    banding bug all break parity. Both mapInPandas stages are
    Arrow-batched; payloads never leave executors — at 100 TB swap the
    synth stage for the object-store read and decode_wav for a codec
    library; every downstream operator is unchanged."""
    from collections.abc import Iterator as _Iterator

    import pandas as _pd

    from flinkstreametl_spark.operators.multimodal import decode_wav

    docs = ensure_parallelism(  # single-split guard, see video_frame_sample
        load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def synth(batches: _Iterator[_pd.DataFrame]) -> _Iterator[_pd.DataFrame]:
        import io as _io
        import struct as _struct
        import wave as _wave

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                vals = [
                    ((did % _AF_FAM) * (w + 5) + w * 17 + (did // _AF_ERA) * ((w * w) % 241)) % 256
                    for w in range(_AF_N)
                ]
                flip = ((did // _AF_FAM) % _AF_FLIPS) * 12
                vals[flip] = 255 - vals[flip]
                buf = _io.BytesIO()
                with _wave.open(buf, "wb") as wav:
                    wav.setnchannels(1)
                    wav.setsampwidth(2)
                    wav.setframerate(8000)
                    wav.writeframes(
                        b"".join(
                            _struct.pack(
                                "<h", (100 + 120 * v) if i % 2 == 0 else -(100 + 120 * v)
                            )
                            for v in vals
                            for i in range(_AF_FPW)
                        )
                    )
                payloads.append(buf.getvalue())
            yield _pd.DataFrame({"media_id": pdf["doc_id"].astype("int64"), "payload": payloads})

    media = docs.mapInPandas(synth, schema="media_id LONG, payload BINARY")

    def afp(batches: _Iterator[_pd.DataFrame]) -> _Iterator[_pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _sr, _nch, samples = decode_wav(bytes(payload))
                vs = [
                    (max(abs(s) for s in samples[w * _AF_FPW : (w + 1) * _AF_FPW]) - 100) // 120
                    for w in range(_AF_N)
                ]
                total = sum(vs)
                h = 0
                for w, v in enumerate(vs):
                    if v * _AF_N > total:
                        h |= 1 << w
                out.append({"media_id": int(mid), "afp": h})
            yield _pd.DataFrame(out, columns=["media_id", "afp"])

    hashes = media.mapInPandas(afp, schema="media_id LONG, afp LONG")
    pairs = D.hamming_pairs(hashes, "media_id", "afp", _AF_BANDS, _AF_WIDTH)
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


# --- near-dup source matrix --------------------------------------------------
# WHO copies from WHOM: the verified near-dup pair stream cross-
# tabulated by source pair — the governance view a curation team reads
# before deciding which feed to drop or down-weight (within-source
# boilerplate vs cross-source scraping look identical in a flat pair
# list and completely different here). Pure composition: the pairs are
# minhash_lsh_pairs verbatim (same bands, cap, threshold), the matrix
# is one bounded aggregate on top (|sources|² cells at most).
_SRCMAT_ORACLE = f"""
WITH pr AS ({_MINHASH_ORACLE}
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN da.source = db.source THEN 1 ELSE 0 END) AS BIGINT) AS n_within
FROM pr
JOIN documents da ON da.doc_id = pr.doc_a
JOIN documents db ON db.doc_id = pr.doc_b
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("neardup_source_matrix", tags=("llm", "dedup", "audit"), oracle=_SRCMAT_ORACLE)
def neardup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate contamination matrix: verified MinHash pairs
    (minhash_lsh_neardup's exact pipeline) counted per canonical
    (source_a, source_b) cell, with the within-source count alongside
    (block comment above). Plan shape: the pair stream is output-sized
    by the banded/capped construction; the two source lookups join the
    doc dimension (broadcastable source map at any scale — it is
    |docs| rows but only (doc_id, source) wide, and at 100 TB lives
    bucketed on doc_id like every doc-keyed join here); the matrix
    aggregate is |sources|²-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.6)
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa"), "doc_a")
        .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb"), "doc_b")
    )
    return (
        j.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("sa") == F.col("sb")).cast("long")).alias("n_within"),
        )
        .orderBy("source_a", "source_b")
    )


# --- dedup funnel ------------------------------------------------------------
# The end-to-end survivorship report per source: raw -> quality gate
# (the integer-weight classifier, score >= 6) -> exact dedup (keep
# min-id per fingerprint) -> near-dup dedup (drop a doc whose verified
# MinHash pair has a smaller-id exact-kept partner — the one-hop
# canonical rule; full clustering is cluster_canonical_docs' job).
# Every stage is the PRODUCTION operator, re-run on the previous
# stage's survivors — so the row "src7 keeps 61% at the gate, loses
# another 30% to near-dups" is an executable claim, not a dashboard
# estimate. The near-dup chain over the subset reuses _minhash_ctes.
_FUNNEL_ORACLE = f"""
WITH feat AS (
    SELECT doc_id, source, {_TOKS} AS toks, text FROM documents
),
sig AS (
    SELECT doc_id, source, text,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           {X.sql_marker_hits("toks", X.EN_STOPWORDS)} AS n_stop,
           length(text) AS n_chars,
           length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
    FROM feat
),
gated AS (
    SELECT doc_id, source, text FROM sig
    WHERE 3 * CAST(n_tokens BETWEEN 10 AND 10000 AS BIGINT)
        + 2 * CAST(n_distinct * 10 > n_tokens AS BIGINT)
        + 2 * CAST(n_stop * 20 >= n_tokens AS BIGINT)
        + 1 * CAST(n_chars BETWEEN n_tokens * 3 AND n_tokens * 13 AS BIGINT)
        + 1 * CAST(n_punct * 10 <= n_chars AS BIGINT) >= 6
),
exact_kept AS (
    SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (PARTITION BY {X.sql_fingerprint("text")}
                                  ORDER BY doc_id) AS rn
        FROM gated
    ) t WHERE rn = 1
),
{_minhash_ctes("exact_kept", p="f_")},
final_kept AS (
    SELECT e.doc_id, e.source FROM exact_kept e
    ANTI JOIN f_verified p ON p.doc_b = e.doc_id
),
raw AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw FROM documents GROUP BY source),
g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_gated FROM gated GROUP BY source),
e AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact_kept GROUP BY source),
f AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_final FROM final_kept GROUP BY source)
SELECT r.source, r.n_raw,
       COALESCE(g.n_gated, 0) AS n_gated,
       COALESCE(e.n_exact, 0) AS n_exact,
       COALESCE(f.n_final, 0) AS n_final,
       CAST(COALESCE(f.n_final, 0) * 10000 // r.n_raw AS BIGINT) AS survival_bp
FROM raw r
LEFT JOIN g ON g.source = r.source
LEFT JOIN e ON e.source = r.source
LEFT JOIN f ON f.source = r.source
ORDER BY r.source
"""


@register("dedup_funnel_by_source", tags=("llm", "dedup", "quality", "audit"), oracle=_FUNNEL_ORACLE)
def dedup_funnel_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source survivorship through the production curation funnel:
    raw -> classifier gate -> exact keep-first -> one-hop near-dup
    canonical (block comment above), with the end-to-end survival rate
    in basis points. The curation team's budget sheet: which feeds
    actually contribute tokens after cleaning.

    Plan shape: the gate is map-side; exact dedup is one shuffle keyed
    by the md5 fingerprint; the near-dup stage is the banded/capped
    MinHash operator re-run on the (already smaller) exact-kept subset
    — output-sized candidates, never O(n²); the four stage counts are
    source-grain aggregates LEFT-joined on the (|sources|-sized,
    broadcast) dimension."""
    docs = load_table(spark, sf_dir, "documents")
    score = X.quality_score_expr("text")
    gated = docs.filter(score >= 6).select("doc_id", "source", "text")
    w = Window.partitionBy(X.fingerprint("text")).orderBy("doc_id")
    # Feeds the pair chain AND three stage counts.
    exact_kept = pin(
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "text")
    )
    pairs = D.minhash_lsh_pairs(exact_kept, threshold=0.6)
    final_kept = exact_kept.join(
        pairs.select(F.col("doc_b").alias("doc_id")).distinct(), "doc_id", "left_anti"
    )
    raw = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    g = gated.groupBy("source").agg(F.count(F.lit(1)).alias("n_gated"))
    e = exact_kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    fk = final_kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_final"))
    return (
        raw.join(F.broadcast(g), "source", "left")
        .join(F.broadcast(e), "source", "left")
        .join(F.broadcast(fk), "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_gated", F.lit(0)).alias("n_gated"),
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
            F.expr("coalesce(n_final, 0) * 10000 div n_raw").alias("survival_bp"),
        )
        .orderBy("source")
    )


# --- langid confusion matrix -------------------------------------------------
# Classifier evaluation for the marker-stopword language ID: the
# (labeled, predicted) confusion matrix with per-cell share of the
# true-label row in exact basis points — the standard eval artifact a
# curation team reads before trusting a cheap in-pipeline classifier
# to route documents (which languages leak into which, and how much
# lands in 'und'). Completes the eval family: calibration
# (quality_calibration_audit) for scores, confusion for classes.
_CONF_ORACLE = f"""
WITH pred AS (
    SELECT lang AS labeled_lang,
           {X.sql_predicted_lang(_HITS_SQL)} AS predicted_lang
    FROM documents
),
cell AS (
    SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
),
rowt AS (
    SELECT labeled_lang, CAST(SUM(n_docs) AS BIGINT) AS row_total
    FROM cell GROUP BY 1
)
SELECT c.labeled_lang, c.predicted_lang, c.n_docs, r.row_total,
       CAST(c.n_docs * 10000 // r.row_total AS BIGINT) AS row_share_bp,
       (c.labeled_lang = c.predicted_lang) AS is_correct
FROM cell c JOIN rowt r ON r.labeled_lang = c.labeled_lang
ORDER BY c.labeled_lang, c.predicted_lang
"""


@register("langid_confusion_matrix", tags=("llm", "text", "audit"), oracle=_CONF_ORACLE)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the langid heuristic against the labeled
    lang column, each cell's share of its true-label row in exact
    basis points (block comment above — the per-class eval the flat
    accuracy number hides). Plan shape: one map-side scan emits the
    (labeled, predicted) pair per doc; the matrix is a
    |langs|²-bounded aggregate; row totals re-aggregate the cells and
    broadcast back."""
    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    hits = {lang: X.marker_hits(toks, words) for lang, words in X.LANG_MARKERS.items()}
    pred = docs.select(
        F.col("lang").alias("labeled_lang"),
        X.predicted_lang(hits).alias("predicted_lang"),
    )
    # |langs|² cells; row totals re-aggregate it.
    cell = pin(
        pred.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    rowt = cell.groupBy("labeled_lang").agg(F.sum("n_docs").alias("row_total"))
    return (
        cell.join(F.broadcast(rowt), "labeled_lang")
        .select(
            "labeled_lang",
            "predicted_lang",
            "n_docs",
            "row_total",
            F.expr("n_docs * 10000 div row_total").alias("row_share_bp"),
            (F.col("labeled_lang") == F.col("predicted_lang")).alias("is_correct"),
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


# --- simhash hamming histogram ------------------------------------------------
# Signature-space health check for the SimHash family: the pairwise
# hamming-distance distribution inside the id-band universe (|doc_b -
# doc_a| <= 25 — the lsh_precision_recall_audit ground-truth bound,
# linear in corpus size). A healthy 16-bit signature shows the bimodal
# shape — near-dups piled at distance 0-2, unrelated pairs humped
# around 8 — while a degenerate hash (bit bias, token-set collapse)
# flattens it; simhash_near_pairs' pigeonhole recall depends on that
# gap existing. Pure integer arithmetic: xor + bit_count on BIGINTs.
_HAM_BAND = 25

_HAM_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
), bits AS (
    SELECT doc_id, i,
           SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), 1 + CAST(floor(i / 4) AS INT), 1)) - 1)
                          & (1 << CAST(i % 4 AS INT))) > 0 THEN 1 ELSE -1 END) AS s
    FROM tok, (SELECT unnest(range(16)) AS i) bb
    GROUP BY doc_id, i
), sh AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
)
SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM sh a JOIN sh b
  ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= {_HAM_BAND}
GROUP BY 1
ORDER BY hamming
"""


@register("simhash_hamming_histogram", tags=("llm", "dedup", "audit"), oracle=_HAM_ORACLE)
def simhash_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise hamming-distance histogram of the production 16-bit
    SimHash inside the id-band universe (block comment above — the
    bimodality this shows is what licenses the pigeonhole near-pair
    search). Plan shape: signatures from the production operator (one
    tokenize + per-doc aggregate), then the bucketed id-band self-join
    (the ngram_jaccard blocking — the distance bound lives in the join
    key) and a 17-bucket aggregate; integer xor/bit_count end to end."""
    docs = load_table(spark, sf_dir, "documents")
    sig = pin(D.simhash(docs))  # both join sides reuse one signature pass
    bucket = F.floor(F.col("doc_id") / _HAM_BAND)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sh_a"),
        F.explode(F.array(bucket, bucket + 1)).alias("id_bucket"),
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), bucket.alias("id_bucket")
    )
    return (
        a.join(b, "id_bucket")
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("doc_b") - F.col("doc_a") <= _HAM_BAND))
        .select(F.bit_count(F.expr("sh_a ^ sh_b")).cast("long").alias("hamming"))
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hamming")
    )


# --- cluster size distribution ------------------------------------------------
# The governance summary over the connected components: how big do
# near-dup clusters get? Singleton mass tells you how much of the
# corpus is genuinely unique; a fat tail (one cluster holding
# thousands) is the boilerplate/template signature that deserves a
# source-level fix rather than per-pair dedup. Composes the production
# pipeline end to end: pairs -> CC labels -> size census -> size
# histogram (two bounded aggregates on top of the cluster assignment).
_CSIZE_ORACLE = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
{_MINHASH_ORACLE}
), edges AS MATERIALIZED (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION ALL
    SELECT doc_b AS u, doc_a AS v FROM pairs
), reach AS (
    SELECT doc_id AS node, doc_id AS label FROM documents
    UNION
    SELECT e.v AS node, r.label AS label FROM edges e JOIN reach r ON e.u = r.node
    WHERE r.label < e.v
), m AS (
    SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node
),
sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size FROM m GROUP BY cluster_id)
SELECT size AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) * size AS BIGINT) AS n_docs
FROM sizes
GROUP BY size
ORDER BY cluster_size
"""


@register("neardup_cluster_size_histogram", tags=("llm", "dedup", "audit"), oracle=_CSIZE_ORACLE)
def neardup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size census: for each component size, how many
    clusters have it and how many documents they hold (block comment
    above — the singleton row is the unique-corpus mass, the tail is
    the template signature). Plan shape: the production pair + CC
    pipeline, then a cluster-grain size aggregate and a size-grain
    histogram — both bounded by the cluster census, which is at most
    |docs| rows and shrinks with duplication."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    labels = D.neardup_clusters(pairs)
    assigned = docs.join(labels, "doc_id", "left").select(
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id")
    )
    sizes = assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy(F.col("size").alias("cluster_size"))
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("n_clusters") * F.col("cluster_size")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


# --- source vocabulary overlap ---------------------------------------------
# The lexical cousin of neardup_source_matrix: pairwise Jaccard of the
# per-source VOCABULARIES (distinct token sets) in exact basis points.
# Two sources can share zero near-dup documents yet write in the same
# register — vocabulary overlap is the cheaper, earlier signal of feed
# redundancy, and a sudden overlap jump between previously-disjoint
# feeds is a scraping-chain tell. The pair grain is |sources|² and the
# sets are vocabulary-sized, so everything after the one (source,
# token) distinct aggregate is parameter-scale.
_SVJ_ORACLE = f"""
WITH st AS (SELECT DISTINCT source, unnest({_TOKS}) AS tok FROM documents),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_toks FROM st GROUP BY source),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM st a JOIN st b ON b.tok = a.tok AND a.source < b.source
    GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.n_common,
       sa.n_toks AS n_toks_a, sb.n_toks AS n_toks_b,
       CAST(i.n_common * 10000 // (sa.n_toks + sb.n_toks - i.n_common) AS BIGINT) AS jaccard_bp
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
ORDER BY i.source_a, i.source_b
"""


@register("source_vocab_overlap", tags=("llm", "text", "audit"), oracle=_SVJ_ORACLE)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard in exact basis points (block
    comment above — the early feed-redundancy signal). Plan shape: one
    tokenize into a (source, token) DISTINCT aggregate (vocabulary x
    sources rows, pinned); the pair join, set sizes, and Jaccard all
    run on that bounded relation."""
    docs = load_table(spark, sf_dir, "documents")
    # Vocab x sources rows; sizes + pair join reuse it.
    st = pin(
        docs.select("source", F.explode(X.tokens("text")).alias("tok"))
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("n_toks"))
    a = st.select(F.col("source").alias("source_a"), "tok")
    b = st.select(F.col("source").alias("source_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "source_a").withColumnRenamed("n_toks", "n_toks_a")),
            "source_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "source_b").withColumnRenamed("n_toks", "n_toks_b")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_toks_a",
            "n_toks_b",
            F.expr("n_common * 10000 div (n_toks_a + n_toks_b - n_common)").alias("jaccard_bp"),
        )
        .orderBy("source_a", "source_b")
    )


# --- Token co-occurrence lift -------------------------------------------------

_TLIFT_MIN_CODF = 5
_TLIFT_TOPK = 50

_TLIFT_ORACLE = f"""
WITH ts AS (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS term FROM documents
), n AS (
    SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents
), df AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM ts GROUP BY term
), co AS (
    SELECT a.term AS term_a, b.term AS term_b, CAST(COUNT(*) AS BIGINT) AS co_df
    FROM ts a JOIN ts b ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY 1, 2
)
SELECT term_a, term_b, co_df, da.df AS df_a, db.df AS df_b,
       co_df * n.n_docs * 100 // (da.df * db.df) AS lift_x100
FROM co JOIN df da ON da.term = co.term_a JOIN df db ON db.term = co.term_b
CROSS JOIN n
WHERE co_df >= {_TLIFT_MIN_CODF}
ORDER BY lift_x100 DESC, term_a, term_b
LIMIT {_TLIFT_TOPK}
"""


@register(
    "token_pair_lift_top50",
    tags=("ext", "llm", "text", "stats"),
    oracle=_TLIFT_ORACLE,
)
def token_pair_lift_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top token pairs by document-co-occurrence lift (x100):
    lift = P(a,b) / (P(a)·P(b)) computed on document frequencies — the
    log-free collocation screen (PMI is log(lift); ranking by lift
    ranks by PMI). Feeds phrase/stop-pair curation the way
    ``basket_lift_top_pairs`` feeds market-basket rules — same law,
    token domain.

    Exactness: pure counts and one integer cross-multiplied division.
    int64 headroom: co_df·n_docs·100 ≤ n_docs²·100 ≈ 2.5e11 at sf1.

    Plan shape: distinct-token explode, a (doc-keyed) self-join whose
    per-doc cost is bounded by the vocabulary (distinct tokens per
    doc), vocabulary-sized df broadcast back onto the pair aggregate,
    TakeOrdered 50."""
    docs = load_table(spark, sf_dir, "documents")
    ts = pin(docs.select(
        "doc_id", F.explode(F.array_distinct(X.tokens("text"))).alias("term")
    ))  # df AND both self-join sides
    n = docs.agg(F.count_distinct("doc_id").alias("n_docs"))
    df = ts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    b = ts.select(F.col("doc_id").alias("bd"), F.col("term").alias("term_b"))
    co = (
        ts.join(b, (F.col("doc_id") == F.col("bd")) & (F.col("term") < F.col("term_b")))
        .groupBy(F.col("term").alias("term_a"), "term_b")
        .agg(F.count(F.lit(1)).alias("co_df"))
        .filter(F.col("co_df") >= _TLIFT_MIN_CODF)
    )
    return (
        co.join(F.broadcast(df.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))), "term_a")
        .join(F.broadcast(df.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))), "term_b")
        .crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            "co_df",
            "df_a",
            "df_b",
            F.expr("co_df * n_docs * 100 div (df_a * df_b)").alias("lift_x100"),
        )
        .orderBy(F.col("lift_x100").desc(), "term_a", "term_b")
        .limit(_TLIFT_TOPK)
    )


# --- video fingerprint near-dup ----------------------------------------------
# The FOURTH leg of the multimodal near-dup family (text: minhash_lsh /
# simhash; image: image_phash_neardup; audio: audio_fingerprint_neardup;
# video: this). Fingerprint = per-frame mean luminance folded to bits
# against the track mean — the temporal-luminance-signature core of
# video copy detection (production systems swap the solid-color frames
# for downsampled real frames; the bit fold, banding, and pigeonhole
# join downstream are identical). 48 frames of 4x4 gray pixels; the
# synthetic video SPACE scales with the corpus exactly like the
# image/audio fixtures: 240 base luminance patterns x 4 flip positions
# per 960-doc era, era-dependent texture term decorrelating eras, so
# near-dup pair count grows LINEARLY with corpus size.
_VF_N = 48  # frames per video -> 48-bit fingerprint
_VF_BANDS, _VF_WIDTH = 4, 12
_VF_FAM = 240
_VF_FLIPS = 4  # flip frames 0/12/24/36
_VF_ERA = _VF_FAM * _VF_FLIPS

_VFP_ORACLE = f"""
WITH fv AS (
    SELECT doc_id, f,
           CASE WHEN f = ((doc_id // {_VF_FAM}) % {_VF_FLIPS}) * 12
                THEN 255 - ((doc_id % {_VF_FAM}) * (f + 9) + f * 23 + (doc_id // {_VF_ERA}) * ((f * f) % 233)) % 256
                ELSE ((doc_id % {_VF_FAM}) * (f + 9) + f * 23 + (doc_id // {_VF_ERA}) * ((f * f) % 233)) % 256 END AS v
    FROM documents, (SELECT unnest(range({_VF_N})) AS f) r
), s AS (
    SELECT doc_id, CAST(SUM(v) AS BIGINT) AS total FROM fv GROUP BY doc_id
), h AS (
    SELECT fv.doc_id,
           SUM(CASE WHEN fv.v * {_VF_N} > s.total THEN (CAST(1 AS BIGINT) << fv.f) ELSE 0 END) AS vfp
    FROM fv JOIN s ON fv.doc_id = s.doc_id
    GROUP BY fv.doc_id
), banded AS (
    SELECT doc_id, vfp, band, (vfp >> (band * {_VF_WIDTH})) & {(1 << _VF_WIDTH) - 1} AS band_bits
    FROM h, (SELECT unnest(range({_VF_BANDS})) AS band) b
), {_capped_hamming_oracle_tail("vfp")}
"""


@register("video_fingerprint_neardup", tags=("llm", "multimodal", "video", "dedup", "bench"), oracle=_VFP_ORACLE)
def video_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup detection through the REAL container decode path:
    each doc synthesizes a deterministic 48-frame concatenated-P6 video
    whose frame f is a solid 4x4 gray of luminance v(doc, f) (closed
    form in the constants block; one flip frame per pattern is
    inverted, era-textured so the video space grows with the corpus),
    ``operators/multimodal.decode_video_ppm`` re-parses the container
    executor-side, per-frame floor-mean luminance recovers v exactly
    (solid frames — the mean IS the value), a temporal hash folds each
    video to 48 bits (bit f set iff frame f's level is strictly above
    the video mean), and candidate pairs come from the pigeonhole
    banded equi-join with the exact hamming filter —
    image_phash_neardup's machinery applied along the TIME axis,
    completing the text/image/audio/video near-dup family (VERDICT r9
    item 3b sequel).

    The oracle states the closed form of the whole chain (synth -> P6
    container round-trip -> frame means -> bits -> bands -> pairs), so
    a container-offset bug, a frame-order bug, a raster-mean bug, or a
    banding bug all break parity. Both mapInPandas stages are
    Arrow-batched; payloads never leave executors — at 100 TB swap the
    synth stage for the object-store read and decode_video_ppm for a
    codec library; every downstream operator is unchanged."""
    from collections.abc import Iterator as _Iterator

    import pandas as _pd

    from flinkstreametl_spark.operators.multimodal import decode_video_ppm, encode_video_ppm

    docs = ensure_parallelism(  # single-split guard, see video_frame_sample
        load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def synth(batches: _Iterator[_pd.DataFrame]) -> _Iterator[_pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                vals = [
                    ((did % _VF_FAM) * (f + 9) + f * 23 + (did // _VF_ERA) * ((f * f) % 233)) % 256
                    for f in range(_VF_N)
                ]
                flip = ((did // _VF_FAM) % _VF_FLIPS) * 12
                vals[flip] = 255 - vals[flip]
                frames = [(4, 4, [float(v)] * 48) for v in vals]
                payloads.append(encode_video_ppm(frames))
            yield _pd.DataFrame({"media_id": pdf["doc_id"].astype("int64"), "payload": payloads})

    media = docs.mapInPandas(synth, schema="media_id LONG, payload BINARY")

    def vfp(batches: _Iterator[_pd.DataFrame]) -> _Iterator[_pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = decode_video_ppm(bytes(payload))
                vs = [sum(int(s) for s in px) // (w * h * 3) for w, h, px in frames]
                total = sum(vs)
                h = 0
                for f, v in enumerate(vs):
                    if v * _VF_N > total:
                        h |= 1 << f
                out.append({"media_id": int(mid), "vfp": h})
            yield _pd.DataFrame(out, columns=["media_id", "vfp"])

    hashes = media.mapInPandas(vfp, schema="media_id LONG, vfp LONG")
    pairs = D.hamming_pairs(hashes, "media_id", "vfp", _VF_BANDS, _VF_WIDTH)
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))
