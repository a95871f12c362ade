"""[EXT] Corpus-analysis extensions for LLM training-data pipelines
(SURVEY.md §2.9 / north-star, round 2): TF-IDF term scoring, an
inverted index, cross-document passage dedup, and signed-random-
projection (SRP) LSH for embedding-cosine near-dup without a blocking
label.

All four follow the repo's determinism rules (plans/registry.py):
integer fixed-point scoring instead of float ratios where a ranking is
hashed, md5 for portable hashing, fixed tie-break keys on every top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.operators import similarity as S
from flinkstreametl_spark.operators import text as X
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.sources.parquet import ensure_parallelism, load_table

_TOKS = X.sql_tokens("text")


@register(
    "tfidf_top_terms",
    tags=("ext", "llm", "text", "tfidf", "bench"),
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT doc_id, term, tf, df, score_fp, CAST(rk AS BIGINT) AS rk FROM (
    SELECT doc_id, term, tf, df,
           (tf * 1000000 * n_docs) // df AS score_fp,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY (tf * 1000000 * n_docs) // df DESC, term) AS rk
    FROM tf JOIN df USING (term), n
) ranked
WHERE rk <= 5
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by TF-IDF-style scoring.

    The score is fixed-point integer arithmetic — ``tf * 1e6 * N // df``
    — which ranks identically to tf·(N/df) but is bit-exact across
    engines (float log-idf is not, and ln() monotonicity means the
    ranking is unchanged). Plan: one token explode feeding BOTH the
    per-(doc, term) tf aggregate and, from tf's output, the per-term df
    aggregate — df is vocabulary-sized, so its join back to tf
    broadcasts at any realistic vocabulary; the final per-doc top-5 is a
    bounded window over the doc's own terms. At 100 TB: two shuffles
    (doc+term, term) and a window partitioned by doc — nothing global.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
    # tf feeds both the df aggregate and the scoring join.
    tf = pin(tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score_fp", F.expr("(tf * 1000000 * n_docs) div df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_fp").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "term", "tf", "df", "score_fp", F.col("rk").cast("long").alias("rk"))
    )


@register(
    "inverted_index_terms",
    tags=("ext", "llm", "text", "index"),
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest(list_distinct({_TOKS})) AS term FROM documents)
SELECT term, df, postings FROM (
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM tok GROUP BY term
) t
ORDER BY df DESC, term
LIMIT 100
""",
)
def inverted_index_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the corpus: for the 100 highest-document-
    frequency terms, the sorted posting list of containing doc_ids.

    Tokens are deduped per document BEFORE the shuffle (array_distinct
    map-side), so the aggregate sees each (doc, term) once — the same
    partial-aggregation discipline as wordcount. Posting lists are
    sorted for determinism; at 100 TB postings for stopword-class terms
    are the skew hazard, which is why real indexes shard postings by
    doc-range — the per-term list here is the per-shard unit of that
    layout.

    Postings are emitted as a comma-joined string (numeric sort FIRST,
    then stringify): driver-windowed queries must not output
    array-typed columns — see ``plans/registry.py`` determinism notes.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.distinct_tokens("text")).alias("term"))
    return (
        tok.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.sort_array(F.collect_list("doc_id")).cast("array<string>"), ","
            ).alias("postings"),
        )
        .orderBy(F.col("df").desc(), "term")
        .limit(100)
    )


_WIN = 16  # tokens per passage window


@register(
    "passage_dedup_stats",
    tags=("ext", "llm", "dedup", "passage", "bench"),
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
w AS (SELECT doc_id, toks,
             unnest(range(0, CAST(floor((len(toks) + {_WIN - 1}) / {_WIN}.0) AS BIGINT))) AS wid
      FROM t),
h AS (SELECT doc_id,
             md5(array_to_string(list_slice(toks, wid * {_WIN} + 1, wid * {_WIN} + {_WIN}), ' ')) AS wh
      FROM w),
d AS (SELECT wh, count(DISTINCT doc_id) AS nd FROM h GROUP BY wh)
SELECT h.doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(count(*) FILTER (d.nd >= 2) AS BIGINT) AS n_dup_windows,
       (CAST(count(*) FILTER (d.nd >= 2) AS BIGINT) * 10000)
           // CAST(count(*) AS BIGINT) AS dup_bp,
       (CAST(count(*) FILTER (d.nd >= 2) AS BIGINT) * 10000)
           // CAST(count(*) AS BIGINT) < 5000 AS keep
FROM h JOIN d USING (wh)
GROUP BY h.doc_id
""",
)
def passage_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document passage dedup (C4/RefinedWeb-style repetition
    removal): split each document into non-overlapping 16-token windows,
    fingerprint each window, and flag documents where >=50% of windows
    (dup_bp = duplicated basis points) also appear in ANOTHER document.

    Differs from doc_repetition_stats (within-doc n-gram dups) and
    exact_dup_groups (whole-doc): this catches boilerplate passages
    shared across otherwise-distinct pages. Plan: explode windows
    map-side, one shuffle keyed by window hash to count distinct
    containing docs, join back on the same key (no second shuffle of the
    big side under AQE), aggregate per doc. The window-hash key space is
    huge, so no hot keys; at 100 TB this is the exact-dedup sweep shape
    run at passage granularity.
    """
    # ensure_parallelism: the single-row-group documents file is one
    # split, serializing the window tokenize/fingerprint map side onto
    # one core (measured 1.64s -> 1.02s at sf0.1); a no-op on
    # well-split cluster inputs.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = X.tokens("text")
    n_win = F.floor((F.size(toks) + (_WIN - 1)) / _WIN).cast("long")
    w = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), n_win - 1)).alias("wid"),
    )
    wtext = F.array_join(F.slice(F.col("toks"), F.col("wid") * _WIN + 1, _WIN), " ")
    # h feeds the distinct-doc count and the join-back side.
    h = pin(w.select("doc_id", F.md5(wtext.cast("binary")).alias("wh")))
    d = h.groupBy("wh").agg(F.count_distinct("doc_id").alias("nd"))
    per_doc = (
        h.join(d, "wh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count(F.when(F.col("nd") >= 2, 1)).alias("n_dup_windows"),
        )
    )
    dup_bp = F.expr("(n_dup_windows * 10000) div n_windows")
    return per_doc.select(
        "doc_id",
        "n_windows",
        "n_dup_windows",
        dup_bp.alias("dup_bp"),
        (dup_bp < 5000).alias("keep"),
    )


# --- SRP (signed random projection) LSH over embeddings ------------------
#
# 16 deterministic +/-1 hyperplanes (md5-parity seeded, identical in both
# engines), 4 bands x 4 bits. Any pair agreeing on at least one band is a
# candidate; candidates are verified with the exact fixed-point cosine
# and cut at the threshold. Unlike embedding_neardup_pairs (label
# blocking), this needs NO precomputed cluster id — the sketch itself is
# the blocking key, which is the label-free 100 TB path.

_SRP_H = 16
_SRP_BAND_BITS = 4
_SRP_SCALE = 1048576  # 2^20 quantization: exact integer dots for sign bits
_SRP_DIM = 64  # fixture embedding dimensionality
_SRP_TAU = 0.3  # verification threshold (synthetic corpus is zero-centered)
# Hot-bucket cap (the minhash precedent, operators/dedup.py): a 4-bit
# band has only 16 buckets, so bucket population — and the candidate
# join — otherwise grows quadratically with the corpus (the sf1 sweep
# measured ~100 GB of DuckDB intermediates before this cap). Inactive
# at the graded scales (sf0.1 buckets ~125); at scale it trades
# bounded recall for bounded work, mirrored exactly in the oracle.
_SRP_BUCKET_CAP = 256


def _srp_weight_rows() -> list[list[int]]:
    """The +/-1 hyperplane matrix, seeded by md5('h_pos') hex-digit
    parity. Computed driver-side with hashlib (bit-identical to the
    engines' md5) and embedded as plan literals, so sketching needs no
    weights join at all; the oracle derives the same matrix relationally
    in SQL."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{h}_{p}".encode()).hexdigest()[0], 16) >= 8 else -1
            for p in range(1, _SRP_DIM + 1)
        ]
        for h in range(_SRP_H)
    ]


@register(
    "embedding_srp_pairs",
    tags=("ext", "llm", "dedup", "similarity", "lsh"),
    oracle=f"""
WITH w AS (
    SELECT CAST(t1.range AS BIGINT) AS h, CAST(t2.range AS BIGINT) AS pos,
           CASE WHEN substr(md5(t1.range || '_' || t2.range), 1, 1) >= '8'
                THEN 1 ELSE -1 END AS wv
    FROM range(0, {_SRP_H}) t1, range(1, {_SRP_DIM + 1}) t2
),
ex0 AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS val
    FROM embeddings
),
ex AS (
    SELECT vec_id, pos, val,
           CAST(floor(CAST(val AS DOUBLE) * {_SRP_SCALE}) AS BIGINT) AS vf
    FROM ex0
),
dots AS (
    SELECT e.vec_id, w.h, SUM(w.wv * e.vf) AS dot
    FROM ex e JOIN w ON e.pos = w.pos GROUP BY e.vec_id, w.h
),
bands AS (
    SELECT vec_id, h // {_SRP_BAND_BITS} AS band,
           SUM(CASE WHEN dot >= 0
                    THEN (1 << CAST(h % {_SRP_BAND_BITS} AS INTEGER)) ELSE 0 END) AS band_val
    FROM dots GROUP BY vec_id, band
),
bandsr AS (
    SELECT vec_id, band, band_val,
           row_number() OVER (PARTITION BY band, band_val ORDER BY vec_id) AS bidx
    FROM bands
),
capped AS (SELECT * FROM bandsr WHERE bidx <= {_SRP_BUCKET_CAP}),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
),
p AS (
    SELECT c.vec_a, c.vec_b,
           SUM(CAST(floor(CAST(ea.val AS DOUBLE) * CAST(eb.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS dot,
           SUM(CAST(floor(CAST(ea.val AS DOUBLE) * CAST(ea.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS qq,
           SUM(CAST(floor(CAST(eb.val AS DOUBLE) * CAST(eb.val AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS cc
    FROM cand c
    JOIN ex ea ON ea.vec_id = c.vec_a
    JOIN ex eb ON eb.vec_id = c.vec_b AND eb.pos = ea.pos
    GROUP BY c.vec_a, c.vec_b
)
SELECT vec_a, vec_b, cosine FROM (
    SELECT vec_a, vec_b,
           CAST(dot AS DOUBLE) / sqrt(CAST(qq AS DOUBLE) * CAST(cc AS DOUBLE)) AS cosine
    FROM p
) v
WHERE cosine >= {_SRP_TAU}
""",
)
def embedding_srp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via SIGNED RANDOM PROJECTION LSH: each
    vector gets a 16-bit sketch (sign of the dot with 16 deterministic
    +/-1 hyperplanes), cut into 4 bands of 4 bits; pairs sharing any
    band are candidates; candidates are verified with the exact
    fixed-point cosine and kept at >= 0.3.

    Scale shape: sketching is fully in-row — the 16x64 ±1 weight matrix
    is embedded as plan literals (hashlib md5 == engine md5) and each
    sign dot is a higher-order-function fold over the quantized vector,
    so there is NO shuffle and NO join before the candidate self-join on
    (band, band_val), which is output-sized, never O(n²) (plan-shape
    test asserts no cartesian product). Per-vector squared norms are
    computed once and joined in, so pair verification folds only the
    cross dot. Sign dots use 2^20-quantized integer arithmetic so the
    bit pattern — and hence the candidate set — is bit-identical in the
    DuckDB oracle. Recall vs the brute-force scan is ~0.45 at tau=0.3 on
    this zero-centered corpus (measured in tests) — SRP recall rises
    steeply with the cosine, and production near-dup thresholds (~0.95)
    sit where band agreement is near-certain. Band width/count tune
    recall exactly like MinHash LSH (operators/dedup.py); the hot-bucket
    cap there applies verbatim if a degenerate corpus concentrates
    sketches.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    lzero = F.lit(0).cast("long")
    vfp = F.transform(F.col("embedding"), lambda x: F.floor(x.cast("double") * _SRP_SCALE).cast("long"))
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: S.fp(x.cast("double") * x.cast("double"))),
        lzero,
        lambda acc, x: acc + x,
    )
    # base feeds the sketch chain and both verify sides.
    base = pin(emb.select("vec_id", "embedding", vfp.alias("vfp"), sq.alias("sq")))

    weights = _srp_weight_rows()
    n_bands = _SRP_H // _SRP_BAND_BITS
    band_structs = []
    for band in range(n_bands):
        val = lzero
        for bit in range(_SRP_BAND_BITS):
            warr = F.array(*[F.lit(w) for w in weights[band * _SRP_BAND_BITS + bit]])
            dot = F.aggregate(
                F.zip_with(F.col("vfp"), warr, lambda x, w: x * w), lzero, lambda acc, x: acc + x
            )
            val = val + F.when(dot >= 0, F.lit(1 << bit)).otherwise(F.lit(0)).cast("long")
        band_structs.append(F.struct(F.lit(band).cast("long").alias("band"), val.alias("band_val")))
    bands = base.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.band_val").alias("band_val"))
    wcap = Window.partitionBy("band", "band_val").orderBy("vec_id")
    # Both self-join sides read it.
    bands = pin(
        bands.withColumn("bidx", F.row_number().over(wcap))
        .filter(F.col("bidx") <= _SRP_BUCKET_CAP)
        .drop("bidx")
    )

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = base.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), F.col("sq").alias("qq"))
    eb = base.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), F.col("sq").alias("cc"))
    cross = F.aggregate(
        F.zip_with(F.col("emb_a"), F.col("emb_b"), lambda x, y: S.fp(x.cast("double") * y.cast("double"))),
        lzero,
        lambda acc, x: acc + x,
    )
    pairs = cand.join(ea, "vec_a").join(eb, "vec_b").select("vec_a", "vec_b", cross.alias("dot"), "qq", "cc")
    cosine = F.col("dot").cast("double") / F.sqrt(F.col("qq").cast("double") * F.col("cc").cast("double"))
    return pairs.select("vec_a", "vec_b", cosine.alias("cosine")).filter(F.col("cosine") >= _SRP_TAU)


@register(
    "bigram_familiarity_score",
    tags=("ext", "llm", "text", "quality", "lm", "bench"),
    oracle=f"""
WITH tk AS (
    SELECT doc_id, {_TOKS} AS toks FROM documents
), g AS (
    SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
    FROM tk
), cnt AS (
    SELECT gram, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY gram
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(cnt.c) AS BIGINT) AS familiarity_sum,
       CAST(SUM(CASE WHEN cnt.c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_bigrams
FROM g JOIN cnt ON g.gram = cnt.gram
GROUP BY g.doc_id
""",
)
def bigram_familiarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram familiarity — the exact-integer surrogate for
    LM-perplexity quality filtering: count every bigram across the
    corpus (pass 1), then score each document by the total corpus
    frequency of its bigrams and its count of corpus-unique bigrams
    (pass 2). High familiarity ≈ boilerplate, high uniqueness ≈ novel
    (or garbled) text — the two tails a perplexity filter trims, with
    no transcendental math (log/exp are not correctly-rounded IEEE, so
    a true-perplexity oracle could not be exact across engines).

    Plan shape: explode bigrams map-side; ONE shuffle keyed by gram for
    the count; the score join is on the SAME key so it reuses that
    partitioning (no third exchange for the join side); final per-doc
    aggregate is the second shuffle. Hot grams (stopword pairs) are
    bounded by vocabulary², and the count side of the join is
    vocabulary-sized — broadcastable for bounded vocabularies, shuffle
    co-located beyond."""
    # single-split guard (measured 1.19s -> 0.92s at sf0.1), see
    # passage_dedup_stats.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # Materialize the token array BEFORE the n-gram lambda (the HOF
    # subexpression-duplication pitfall, docs/SCALE.md: inline ngrams
    # re-ran the split per element — measured 10s -> 1s at sf0.1), and
    # guard the <2-token case (sequence(1, 0) DESCENDS). The grams feed
    # both the count and the score join.
    grams = pin(
        docs.select("doc_id", X.tokens("text").alias("toks")).select(
            "doc_id", F.explode(X.ngrams_from_tokens(F.col("toks"), 2)).alias("gram")
        )
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    return (
        grams.join(counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("c").alias("familiarity_sum"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_unique_bigrams"),
        )
    )


def _textrank_oracle(iters: int = 5) -> str:
    """Chained-CTE PageRank in exact integer arithmetic: score scaled by
    1e6, per-edge contribution score*w // out_w, damping 0.85 as
    (150000 + 850*s // 1000) — every step integer, so the fixpoint
    trajectory is bit-identical in both engines."""
    ctes = [
        f"t AS (SELECT {_TOKS} AS toks FROM documents)",
        "ix AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)",
        "e0 AS (SELECT toks[i] AS src, toks[i+1] AS dst FROM ix)",
        "e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM e0 GROUP BY src, dst)",
        "ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM e GROUP BY src)",
        "ee AS (SELECT e.src, e.dst, e.w, ow.out_w FROM e JOIN ow USING (src))",
        "n AS (SELECT DISTINCT src AS token FROM e UNION SELECT DISTINCT dst AS token FROM e)",
        "r0 AS (SELECT token, CAST(1000000 AS BIGINT) AS score FROM n)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"r{k} AS (SELECT n.token,"
            f" CAST(150000 + 850 * coalesce(s.s, 0) // 1000 AS BIGINT) AS score"
            f" FROM n LEFT JOIN (SELECT ee.dst AS token,"
            f" CAST(SUM(r{k - 1}.score * ee.w // ee.out_w) AS BIGINT) AS s"
            f" FROM ee JOIN r{k - 1} ON ee.src = r{k - 1}.token GROUP BY ee.dst) s USING (token))"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT token, score FROM r{iters} ORDER BY score DESC, token LIMIT 20"
    )


@register(
    "textrank_keywords",
    tags=("ext", "llm", "text", "graph", "iterative"),
    oracle=_textrank_oracle(),
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: PageRank over the directed token
    co-occurrence graph (edge a→b weighted by corpus count of bigram
    "a b"), 5 fixed iterations, top-20 tokens. ALL arithmetic is
    integer (score scaled 1e6, per-edge share score*w // out_w,
    damping 150000 + 850*s // 1000), so unlike float PageRank the whole
    iterative trajectory is hash-exact across engines — the oracle runs
    the same five steps as chained CTEs.

    Scale shape: the edge list is vocabulary²-bounded and the rank
    table vocabulary-sized, so each iteration is one bounded join + one
    aggregate keyed by token — the same iterative-join discipline as
    connected components (operators/dedup.py), with lineage kept short
    by the fixed iteration count. Document-scale data appears only in
    the first two map-side stages (token pair explode + count)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(X.tokens("text").alias("toks")).select(
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1),"
                " i -> struct(element_at(toks, i) AS src, element_at(toks, i + 1) AS dst))"
                " ELSE CAST(array() AS ARRAY<STRUCT<src: STRING, dst: STRING>>) END"
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    # Every iteration reads the edge list and node set (vocabulary-scale).
    edges = pin(pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w")))
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    ee = pin(edges.join(out_w, "src"))
    nodes = pin(
        edges.select(F.col("src").alias("token"))
        .union(edges.select(F.col("dst").alias("token")))
        .distinct()
    )
    rank = nodes.select("token", F.lit(1000000).cast("long").alias("score"))
    for _ in range(5):
        contrib = (
            ee.join(rank, ee.src == rank.token)
            .select(F.col("dst").alias("token"), F.expr("score * w div out_w").alias("c"))
            .groupBy("token")
            .agg(F.sum("c").alias("s"))
        )
        rank = nodes.join(contrib, "token", "left").select(
            "token",
            (F.lit(150000) + F.expr("850 * coalesce(s, CAST(0 AS BIGINT)) div 1000")).cast("long").alias("score"),
        )
    return rank.orderBy(F.col("score").desc(), "token").limit(20)


_LADDER = (8, 16, 32, 64)


@register(
    "dup_span_ladder",
    tags=("ext", "llm", "dedup", "passage", "bench"),
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
k AS (SELECT unnest([{", ".join(str(k) for k in _LADDER)}]) AS k),
w AS (
    SELECT doc_id, k, unnest(range(1, len(toks) - k + 2)) AS i, toks
    FROM t, k WHERE len(toks) >= k
),
h AS (SELECT doc_id, k,
             md5(array_to_string(list_slice(toks, i, i + k - 1), ' ')) AS wh
      FROM w),
d AS (SELECT k, wh FROM h GROUP BY k, wh HAVING count(DISTINCT doc_id) >= 2),
dup AS (SELECT DISTINCT h.doc_id, h.k FROM h JOIN d USING (k, wh)),
m AS (SELECT doc_id, MAX(k) AS max_dup_span FROM dup GROUP BY doc_id)
SELECT t.doc_id, CAST(COALESCE(m.max_dup_span, 0) AS BIGINT) AS max_dup_span
FROM t LEFT JOIN m USING (doc_id)
""",
)
def dup_span_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document longest cross-document duplicated substring, to
    window resolution: for k in 8/16/32/64, fingerprint every sliding
    k-token window and report the largest k at which some window of the
    document also occurs in ANOTHER document (0 = no dup at any rung).

    The pragmatic distributed stand-in for suffix-array exact-substring
    dedup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better"): a suffix array needs global order — hostile at
    100 TB — while sliding-window fingerprints at a geometric ladder of
    widths give the same "how much of this doc is copied" signal with
    dedup-sweep plan shape. All windows for all rungs are generated in
    ONE pass over the token array (a flattened per-rung transform, so
    the md5s are computed map-side inside codegen); one shuffle keyed by
    (k, window-hash) marks hashes seen in >= 2 distinct docs via a
    min/max window (min(doc) != max(doc) over the bucket -- no second
    scan, no aggregate-and-join-back), then a per-doc MAX finishes it.
    The expensive window explode therefore runs exactly once; the only
    other scan reads the doc_id column to keep windowless (< 8 token)
    docs at span 0. Window-hash keys are near-unique so there are no
    hot keys, and every stage is linear in corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", X.tokens("text").alias("toks"))

    def rung(k: int):
        win_hash = lambda i: F.md5(  # noqa: E731
            F.array_join(F.slice(F.col("toks"), i, F.lit(k)), " ").cast("binary")
        )
        return F.when(
            F.size("toks") >= k,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - k + 1),
                lambda i: F.struct(F.lit(k).cast("long").alias("k"), win_hash(i).alias("wh")),
            ),
        ).otherwise(F.array().cast("array<struct<k:bigint,wh:string>>"))

    h = base.select(
        "doc_id", F.explode(F.flatten(F.array(*[rung(k) for k in _LADDER]))).alias("kw")
    ).select("doc_id", F.col("kw.k").alias("k"), F.col("kw.wh").alias("wh"))
    wb = Window.partitionBy("k", "wh")
    dup = (
        h.withColumn("_dup", F.min("doc_id").over(wb) != F.max("doc_id").over(wb))
        .filter(F.col("_dup"))
        .select("doc_id", "k")
    )
    m = dup.groupBy("doc_id").agg(F.max("k").alias("max_dup_span"))
    return (
        base.select("doc_id")
        .join(m, "doc_id", "left")
        .select("doc_id", F.coalesce("max_dup_span", F.lit(0)).cast("long").alias("max_dup_span"))
    )


_BPE_STEPS = 6


def _bpe_oracle(steps: int = _BPE_STEPS) -> str:
    """Chained-CTE mirror of the greedy BPE trainer: s0 = word counts
    with each word exploded into bracket-wrapped characters; per step,
    adjacent-pair counts weighted by word frequency -> argmax (count
    DESC, pair lexicographic) -> non-overlapping left-to-right merge via
    plain replace() (both engines scan left to right, so greedy merge
    order is identical). Output = the merge table, one row per step."""
    esc_tok = r"'\[([^\]]*)\]'"
    ctes = [
        "wc AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM ("
        f"SELECT unnest({_TOKS}) AS w FROM documents) t GROUP BY w)",
        "s0 AS (SELECT regexp_replace(w, '(.)', '[\\1]', 'g') AS seq, wc FROM wc)",
    ]
    for i in range(1, steps + 1):
        prev = f"s{i - 1}"
        ctes.append(
            f"t{i} AS (SELECT wc, toks[i] AS l, toks[i+1] AS r FROM ("
            f"SELECT wc, toks, unnest(range(1, len(toks))) AS i FROM ("
            f"SELECT wc, regexp_extract_all(seq, {esc_tok}, 1) AS toks FROM {prev}) x) y)"
        )
        ctes.append(
            f"b{i} AS (SELECT l, r, SUM(wc) AS cnt FROM t{i} GROUP BY l, r"
            f" ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"s{i} AS (SELECT replace(seq, '[' || b.l || '][' || b.r || ']',"
            f" '[' || b.l || b.r || ']') AS seq, wc FROM {prev}, b{i} b)"
        )
    unions = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, l AS lhs, r AS rhs,"
        f" l || r AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, steps + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


@register("bpe_train_merges", tags=("ext", "llm", "text", "tokenizer"), oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer training, the first ``_BPE_STEPS``
    greedy merges over the corpus vocabulary: each step counts adjacent
    symbol pairs weighted by word frequency, merges the most frequent
    pair everywhere (ties: lexicographically smallest), and repeats on
    the merged sequences. Returns the merge table (step, lhs, rhs,
    merged, pair_count) — the artifact a BPE tokenizer ships.

    Distributed shape: the corpus-sized work (token explode -> word
    counts) happens ONCE; the iteration state is the vocabulary-sized
    (sequence, count) table, pinned per step so plan depth
    stays flat. Symbol sequences are bracket-wrapped strings
    ("[t][h][e]") — a merge is then a plain string replace of
    "[l][r]" with "[lr]", which both engines apply left-to-right
    non-overlapping, exactly BPE's greedy merge scan. Each step is one
    vocabulary-sized pair explode + aggregate; only the single argmax
    row reaches the driver (the kmeans_fit pattern). At 100 TB the
    vocabulary table is millions of rows regardless of corpus size, so
    per-step cost is flat after the initial sweep."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(X.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    seqs = pin(wc.select(F.regexp_replace("w", "(.)", "[$1]").alias("seq"), "wc"))
    toks = F.regexp_extract_all(F.col("seq"), F.lit(r"\[([^\]]*)\]"), 1)
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, _BPE_STEPS + 1):
        pairs = seqs.select(
            F.explode(
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
            "wc",
        )
        best = (
            pairs.select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "wc")
            .groupBy("l", "r")
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "l", "r")
            .first()
        )
        if best is None:
            break
        l, r = best["l"], best["r"]
        merges.append((step, l, r, l + r, best["cnt"]))
        seqs = pin(seqs.select(
            F.replace(F.col("seq"), F.lit(f"[{l}][{r}]"), F.lit(f"[{l}{r}]")).alias("seq"), "wc"
        ))
    return spark.createDataFrame(
        merges, schema="step long, lhs string, rhs string, merged string, pair_count long"
    )


def _bpe_wl_prefix(steps: int = _BPE_STEPS) -> str:
    """Shared chained-CTE prefix for the encode-side oracles: the same
    training loop as ``_bpe_oracle`` but the vocab chain CARRIES the
    original word, ending in ``wl`` = (word -> symbol count after the
    first ``steps`` merges). Consumers append their own tokenize +
    join + aggregate tail."""
    esc_tok = r"'\[([^\]]*)\]'"
    ctes = [
        "wc AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM ("
        f"SELECT unnest({_TOKS}) AS w FROM documents) t GROUP BY w)",
        "s0 AS (SELECT w, regexp_replace(w, '(.)', '[\\1]', 'g') AS seq, wc FROM wc)",
    ]
    for i in range(1, steps + 1):
        prev = f"s{i - 1}"
        ctes.append(
            f"t{i} AS (SELECT wc, toks[i] AS l, toks[i+1] AS r FROM ("
            f"SELECT wc, toks, unnest(range(1, len(toks))) AS i FROM ("
            f"SELECT wc, regexp_extract_all(seq, {esc_tok}, 1) AS toks FROM {prev}) x) y)"
        )
        ctes.append(
            f"b{i} AS (SELECT l, r, SUM(wc) AS cnt FROM t{i} GROUP BY l, r"
            f" ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"s{i} AS (SELECT w, replace(seq, '[' || b.l || '][' || b.r || ']',"
            f" '[' || b.l || b.r || ']') AS seq, wc FROM {prev}, b{i} b)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
wl AS (SELECT w, CAST(len(regexp_extract_all(seq, {esc_tok}, 1)) AS BIGINT) AS n_syms FROM s{steps})"""
    )


def _bpe_encode_oracle(steps: int = _BPE_STEPS) -> str:
    """Encode twin of ``_bpe_oracle``: the shared ``wl`` chain, then
    documents tokenize, join the mapping, and sum — tokens-after-BPE
    per document."""
    return (
        _bpe_wl_prefix(steps)
        + f""",
dtok AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wl.n_syms) AS BIGINT) AS bpe_tokens
FROM dtok JOIN wl USING (w)
GROUP BY doc_id"""
    )


@register("bpe_encode_token_counts", tags=("ext", "llm", "text", "tokenizer"), oracle=_bpe_encode_oracle())
def bpe_encode_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges (the ``bpe_train_merges`` loop) back
    to the corpus: per document, word count and token count AFTER the
    first ``_BPE_STEPS`` merges — the train→encode loop a tokenizer
    pipeline actually runs (and the number an LLM data pipeline bills
    by: post-BPE tokens, not words).

    Distributed shape: training iterates on the vocabulary-sized table
    (corpus scanned once for word counts); ENCODING never re-scans text
    either — the final (word -> n_symbols) mapping joins the exploded
    corpus tokens (broadcast: vocabularies are small relative to
    corpora) and aggregates per doc. One explode + one broadcast join +
    one aggregate at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    wl = _bpe_word_symbol_map(docs)
    dtok = docs.select("doc_id", F.explode(X.tokens("text")).alias("w"))
    return (
        dtok.join(F.broadcast(wl), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("bpe_tokens"),
        )
    )


def _bpe_word_symbol_map(docs: DataFrame) -> DataFrame:
    """Run the greedy BPE trainer (``_BPE_STEPS`` merges) and return the
    encode mapping (w, n_syms): per vocabulary word, its symbol count
    after the merges. Shared by the per-doc and per-language encode
    queries; the training loop iterates on the vocabulary-sized
    checkpointed table, never re-scanning the corpus."""
    wc = (
        docs.select(F.explode(X.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    seqs = pin(wc.select("w", F.regexp_replace("w", "(.)", "[$1]").alias("seq"), "wc"))
    toks = F.regexp_extract_all(F.col("seq"), F.lit(r"\[([^\]]*)\]"), 1)
    for _ in range(_BPE_STEPS):
        pairs = seqs.select(
            F.explode(
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
            "wc",
        )
        best = (
            pairs.select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "wc")
            .groupBy("l", "r")
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "l", "r")
            .first()
        )
        if best is None:
            break
        l, r = best["l"], best["r"]
        seqs = pin(seqs.select(
            "w", F.replace(F.col("seq"), F.lit(f"[{l}][{r}]"), F.lit(f"[{l}{r}]")).alias("seq"), "wc"
        ))
    return seqs.select("w", F.size(toks).cast("long").alias("n_syms"))


_FERTILITY_ORACLE = (
    _bpe_wl_prefix()
    + f""",
dtok AS (SELECT lang, unnest({_TOKS}) AS w FROM documents)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wl.n_syms) AS BIGINT) AS bpe_tokens,
       (10000 * CAST(SUM(wl.n_syms) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS fertility_bp
FROM dtok JOIN wl USING (w)
GROUP BY lang"""
)


@register(
    "tokenizer_fertility_by_lang",
    tags=("ext", "llm", "text", "tokenizer", "audit"),
    oracle=_FERTILITY_ORACLE,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — post-BPE tokens per
    whitespace word, in basis points (10000 = 1 token/word) — the
    standard multilingual-tokenizer equity audit: a vocabulary trained
    on a skewed mixture over-fragments the under-represented languages,
    and fertility is the number that exposes it (the same merge table
    costs different languages differently). Uses the SAME trained
    merges as bpe_train_merges / bpe_encode_token_counts (shared
    ``_bpe_word_symbol_map``), so the audit measures the production
    tokenizer, not a twin.

    Plan: the vocabulary-sized (word -> n_syms) mapping broadcasts onto
    one corpus token explode, then ONE hash aggregate to the language
    grain. fertility_bp is integer floor division on exact BIGINT
    sums."""
    docs = load_table(spark, sf_dir, "documents")
    wl = _bpe_word_symbol_map(docs)
    dtok = docs.select("lang", F.explode(X.tokens("text")).alias("w"))
    return (
        dtok.join(F.broadcast(wl), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("bpe_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "bpe_tokens",
            F.expr("(10000 * bpe_tokens) div n_words").alias("fertility_bp"),
        )
    )


_SENT_ORACLE = """
WITH parts AS (
    SELECT doc_id, string_split(text, '. ') AS sents
    FROM documents
    WHERE doc_id < 200 AND text IS NOT NULL
),
placed AS (
    SELECT doc_id,
           CAST(i - 1 AS INT) AS pos,
           sents[i] AS sentence,
           SUM(len(sents[i]) + 2) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
    FROM parts, UNNEST(range(1, len(sents) + 1)) AS r(i)
)
SELECT doc_id, pos, sentence, CAST(COALESCE(prior, 0) AS INT) AS start_char
FROM placed
"""


@register("udtf_sentence_spans", tags=("ext", "udtf", "llm", "generator"), oracle=_SENT_ORACLE)
def udtf_sentence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation with character offsets through Spark 4's
    Python UDTF API (``@udtf`` + ``DataFrame.lateralJoin``) — the
    table-function extension seam for row -> many-rows logic that a
    generator expression can't express (stateful span accounting here;
    in production: model-based sentence splitters, parser chunkers).

    The UDTF is Arrow-batched (``useArrow=True``) but still the Python
    slow path — posexplode/HOF queries stay the fast path for anything
    expressible declaratively (see posexplode_tokens); this query is
    deliberately bounded (doc_id < 200) and excluded from the bench
    set. Ordinals and offsets are assigned inside one row's eval, so
    they are partition-invariant by construction. The oracle rebuilds
    the same spans declaratively: split + UNNEST-with-ordinality + a
    1-PRECEDING running sum over the consumed separator widths."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, sentence: string, start_char: int", useArrow=True)
    class SentenceSpans:
        def eval(self, text: str):  # noqa: ANN001 - UDTF contract
            start = 0
            for i, s in enumerate(text.split(". ")):
                yield i, s, start
                start += len(s) + 2

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 200) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    return docs.lateralJoin(SentenceSpans(F.col("text").outer())).select(
        "doc_id", "pos", "sentence", "start_char"
    )


_SPAN_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
w AS (SELECT doc_id, toks,
             unnest(range(0, CAST(floor((len(toks) + {_WIN - 1}) / {_WIN}.0) AS BIGINT))) AS wid
      FROM t),
h AS (SELECT doc_id, wid,
             md5(array_to_string(list_slice(toks, wid * {_WIN} + 1, wid * {_WIN} + {_WIN}), ' ')) AS wh,
             CAST(least({_WIN}, len(toks) - wid * {_WIN}) AS BIGINT) AS wlen
      FROM w),
k AS (SELECT doc_id, wid, wh, wlen,
             (doc_id * 1000000 + wid) = MIN(doc_id * 1000000 + wid) OVER (PARTITION BY wh) AS keep
      FROM h)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(COUNT(*) FILTER (NOT keep) AS BIGINT) AS n_removed_windows,
       CAST(SUM(wlen) AS BIGINT) AS n_tokens,
       CAST(COALESCE(SUM(wlen) FILTER (keep), 0) AS BIGINT) AS cleaned_tokens
FROM k
GROUP BY doc_id
"""


@register("span_dedup_keep_first", tags=("ext", "llm", "dedup", "passage"), oracle=_SPAN_ORACLE)
def span_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN removal, keep-first (the Lee et al. 2022
    "Deduplicating Training Data" output shape): every 16-token window
    keeps its FIRST occurrence corpus-wide — first by (doc_id, window
    position), a total order — and every later occurrence is removed.
    Per document: window/token counts before and after cleaning.
    Complements passage_dedup_stats (which FLAGS documents; this
    produces the per-doc cleaned length a removal pass would write).

    Keep-first is decided by a single MIN window over the window-hash
    key (the occurrence key linearizes (doc_id, wid) into one BIGINT —
    wid < 10^6 for any real document), so the big occurrence stream is
    shuffled ONCE on wh; the per-doc rollup then reduces map-side.
    Hash keys are uniform — no hot reducers; this is the passage-grain
    exact-dedup sweep with the decision fused into the same exchange
    (the stats query needs a groupBy + join-back instead)."""
    # ensure_parallelism: the single-row-group documents file is one
    # split, serializing the window tokenize/fingerprint map side onto
    # one core (measured 1.64s -> 1.02s at sf0.1); a no-op on
    # well-split cluster inputs.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = X.tokens("text")
    n_win = F.floor((F.size(toks) + (_WIN - 1)) / _WIN).cast("long")
    w = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), n_win - 1)).alias("wid"),
    )
    wtext = F.array_join(F.slice(F.col("toks"), F.col("wid") * _WIN + 1, _WIN), " ")
    wlen = F.least(F.lit(_WIN), F.size("toks") - F.col("wid") * _WIN).cast("long")
    h = w.select(
        "doc_id",
        "wid",
        F.md5(wtext.cast("binary")).alias("wh"),
        wlen.alias("wlen"),
    )
    okey = F.col("doc_id") * 1_000_000 + F.col("wid")
    keep = okey == F.min(okey).over(Window.partitionBy("wh"))
    return (
        h.withColumn("keep", keep)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count(F.when(~F.col("keep"), 1)).alias("n_removed_windows"),
            F.sum("wlen").alias("n_tokens"),
            F.coalesce(F.sum(F.when(F.col("keep"), F.col("wlen"))), F.lit(0)).alias(
                "cleaned_tokens"
            ),
        )
    )


_SIG_ORACLE = f"""
WITH tok AS (SELECT source, unnest({_TOKS}) AS term FROM documents),
st AS (
    SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n_source
    FROM tok GROUP BY source, term
),
src_tot AS (SELECT source, CAST(SUM(n_source) AS BIGINT) AS tot_s FROM st GROUP BY source),
term_tot AS (SELECT term, CAST(SUM(n_source) AS BIGINT) AS cnt_all FROM st GROUP BY term),
tot AS (SELECT CAST(SUM(tot_s) AS BIGINT) AS tot_all FROM src_tot),
scored AS (
    SELECT st.source, st.term, st.n_source,
           (st.n_source * 1000000) // s.tot_s AS rate_s_ppm,
           ((t.cnt_all - st.n_source) * 1000000)
               // greatest(tot.tot_all - s.tot_s, 1) AS rate_rest_ppm
    FROM st JOIN src_tot s USING (source) JOIN term_tot t USING (term) CROSS JOIN tot
),
ranked AS (
    SELECT source, term, n_source, rate_s_ppm, rate_rest_ppm,
           (rate_s_ppm * 1000000) // (rate_rest_ppm + 1) AS score_fp,
           row_number() OVER (
               PARTITION BY source
               ORDER BY (rate_s_ppm * 1000000) // (rate_rest_ppm + 1) DESC, term
           ) AS rk
    FROM scored
)
SELECT source, term, n_source, rate_s_ppm, rate_rest_ppm, score_fp, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 5
"""


@register("domain_signature_terms", tags=("ext", "llm", "text", "audit"), oracle=_SIG_ORACLE)
def domain_signature_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per source — the contrastive data-card
    view of the corpus ("what vocabulary makes this domain different"),
    vs tfidf_top_terms' per-document view. Score is the smoothed
    relative-rate ratio in fixed point:
    ``(rate_in_source_ppm * 1e6) // (rate_elsewhere_ppm + 1)`` — ranks
    like the likelihood ratio, stays pure BIGINT. Rates are normalized
    to parts-per-million BEFORE the ratio, so every intermediate is
    <= 1e12 at ANY corpus size (raw cross-count products of the
    unsmoothed form overflow BIGINT near 10^7-document corpora — the
    100 TB width guard, same reasoning as simhash's 60-bit cap).

    Plan: ONE token explode feeds the (source, term) grain, which is
    pinned and re-aggregated for the per-source and
    per-term totals (three consumers of one lazy frame would otherwise
    re-run the explode three times — the lazy-reuse trap). The source
    totals and the global total are parameter-sized and broadcast; the
    only data-path shuffles are the grain aggregate and the term-total
    join. Ranking is a per-source group-limit window (Spark pushes the
    rk <= 5 limit below the sort)."""
    docs = load_table(spark, sf_dir, "documents")
    st = pin(
        docs.select("source", F.explode(X.tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n_source"))
    )
    src_tot = st.groupBy("source").agg(F.sum("n_source").alias("tot_s"))
    term_tot = st.groupBy("term").agg(F.sum("n_source").alias("cnt_all"))
    tot = src_tot.agg(F.sum("tot_s").alias("tot_all"))
    scored = (
        st.join(term_tot, "term")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "term",
            "n_source",
            F.expr("(n_source * 1000000) div tot_s").alias("rate_s_ppm"),
            F.expr(
                "((cnt_all - n_source) * 1000000) div greatest(tot_all - tot_s, 1L)"
            ).alias("rate_rest_ppm"),
        )
        .withColumn("score_fp", F.expr("(rate_s_ppm * 1000000) div (rate_rest_ppm + 1)"))
    )
    w = Window.partitionBy("source").orderBy(F.col("score_fp").desc(), "term")
    return (
        scored.select("*", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= 5)
        .select("source", "term", "n_source", "rate_s_ppm", "rate_rest_ppm", "score_fp", "rk")
    )


# --- asymmetric containment dedup (doc-in-doc) ---------------------------

_CONT_TAU_NUM, _CONT_TAU_DEN = 1, 2  # containment threshold 0.5 as a ratio
_CONT_MIN = 8  # ignore docs with fewer distinct shingles (trivia guard)
_CONT_CAP = 256
"""Posting-list cap for candidate generation: shingles seen in more
documents than this are too common to discriminate and are excluded
from the prefix/index join (the MAX_BUCKET_SIZE precedent in
operators/dedup.py — bounded recall loss, bounded worst-case join).
The exact verification still runs on the FULL shingle sets."""

_CONT_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS MATERIALIZED (
    SELECT DISTINCT doc_id, toks[g.i] || '_' || toks[g.i + 1] || '_' || toks[g.i + 2] AS s
    FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g
    WHERE len(toks) >= 3
),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
df AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY s),
ranked AS (
    SELECT sh.doc_id, sh.s, df.df, sz.n,
           ROW_NUMBER() OVER (PARTITION BY sh.doc_id ORDER BY df.df, sh.s) AS rn
    FROM sh JOIN df USING (s) JOIN sz USING (doc_id)
),
pre AS (
    SELECT doc_id, s FROM ranked
    WHERE n >= {_CONT_MIN}
      AND rn <= n - (n * {_CONT_TAU_NUM} + {_CONT_TAU_DEN} - 1) // {_CONT_TAU_DEN} + 1
      AND df <= {_CONT_CAP}
),
idx AS (
    SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s) WHERE df.df <= {_CONT_CAP}
),
cand AS (
    SELECT DISTINCT p.doc_id AS doc_a, i.doc_id AS doc_b
    FROM pre p JOIN idx i ON i.s = p.s AND i.doc_id <> p.doc_id
),
ov AS (
    SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS overlap
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
    GROUP BY c.doc_a, c.doc_b
)
SELECT o.doc_a, o.doc_b, sa.n AS n_a, o.overlap,
       CAST(o.overlap AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
FROM ov o JOIN sz sa ON sa.doc_id = o.doc_a
WHERE o.overlap * {_CONT_TAU_DEN} >= sa.n * {_CONT_TAU_NUM}
ORDER BY o.doc_a, o.doc_b
"""


@register(
    "containment_dup_pairs",
    tags=("ext", "llm", "dedup"),
    oracle=_CONT_ORACLE,
)
def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: directed pairs (A, B) where at
    least half of A's distinct 3-token shingles also occur in B —
    catching quotes, excerpts, and doc-in-doc duplication that
    resemblance methods MISS by construction (a page embedded in a
    10x-larger page has Jaccard ~0.1 but containment ~1.0, so
    minhash_lsh_neardup never surfaces it; cf. Broder's
    resemblance-vs-containment distinction).

    Candidate generation is PREFIX FILTERING from the set-similarity-
    join literature: order every document's shingles by (global df,
    shingle); if |A ∩ B| >= ceil(tau·|A|) then B must share one of
    A's first |A| - ceil(tau·|A|) + 1 shingles in that order
    (pigeonhole), so only that prefix joins against the inverted
    index — and because the prefix holds A's RAREST shingles, the
    posting lists it probes are the shortest ones. Shingles with
    df > 256 are excluded from the join on both sides (documented
    recall cap, the hot-bucket precedent); exact verification then
    recomputes overlap on the FULL shingle sets via array_intersect.

    Plan shape: shingle arrays built per-row (transform over
    sequence, no explode until the index), one shuffle keyed by
    shingle for df + the candidate join, one doc-grain window for the
    prefix rank, verification joins on the pinned per-doc arrays.
    Never all-pairs: work is sum of (prefix x capped posting list).
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", X.tokens("text").alias("toks")).filter(F.size("toks") >= 3)
    sh_arr = F.array_distinct(
        F.expr("transform(sequence(0, size(toks)-3), i -> concat_ws('_', toks[i], toks[i+1], toks[i+2]))")
    )
    sets = pin(base.select("doc_id", sh_arr.alias("sh")))

    ds = sets.select("doc_id", F.explode("sh").alias("s"))
    dfc = ds.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # dsd feeds both the prefix derivation and the inverted index.
    dsd = pin(ds.join(dfc, "s"))
    sz = sets.select("doc_id", F.size("sh").cast("long").alias("n"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    t_of_n = F.expr(f"(n * {_CONT_TAU_NUM} + {_CONT_TAU_DEN} - 1) div {_CONT_TAU_DEN}")
    pre = (
        dsd.withColumn("rn", F.row_number().over(w))
        .join(sz, "doc_id")
        .filter(
            (F.col("n") >= _CONT_MIN)
            & (F.col("rn") <= F.col("n") - t_of_n + 1)
            & (F.col("df") <= _CONT_CAP)
        )
        .select(F.col("doc_id").alias("doc_a"), "s")
    )
    idx = dsd.filter(F.col("df") <= _CONT_CAP).select(F.col("doc_id").alias("doc_b"), "s")
    cand = (
        pre.join(idx, "s")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    overlap = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    n_a = F.size("sh_a").cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_a.alias("n_a"),
            overlap.alias("overlap"),
            (overlap.cast("double") / n_a.cast("double")).alias("containment"),
        )
        .filter(F.col("overlap") * _CONT_TAU_DEN >= F.col("n_a") * _CONT_TAU_NUM)
        .orderBy("doc_a", "doc_b")
    )


# --- trigram novelty curve ---------------------------------------------------
# Vocabulary-growth over ARRIVAL order: split the corpus into 10
# id-ordered batches (the fixture's doc_id is arrival order) and
# measure, per batch, how many of its distinct word trigrams were
# never seen in any earlier batch. The production read is a freshness
# monitor for continuous ingest: novelty_bp collapsing toward 0 means
# the feed has gone stale/repetitive (crawl loop, boilerplate flood);
# a jump means a new domain came online. The batch index is map-side
# integer arithmetic on doc_id against the broadcast corpus count —
# deliberately NOT a global ntile (corpus-rank windows single-
# partition; the quality_calibration_audit precedent).
_NOV_BATCHES = 10
_NOV_BP = 10_000

_NOV_TRI_SQL = (
    "list_distinct(list_transform(range(1, len(toks) - 1),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)

_NOV_ORACLE = f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
base AS (
    SELECT least(CAST(doc_id * {_NOV_BATCHES} // n.n_docs AS BIGINT), {_NOV_BATCHES - 1}) AS batch,
           {_TOKS} AS toks
    FROM documents, n
),
g AS (
    SELECT DISTINCT batch, unnest({_NOV_TRI_SQL}) AS gram
    FROM base WHERE len(toks) >= 3
),
firstb AS (SELECT gram, MIN(batch) AS fb FROM g GROUP BY gram)
SELECT g.batch,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
       CAST(SUM(CASE WHEN f.fb = g.batch THEN 1 ELSE 0 END) AS BIGINT) AS n_new_grams,
       CAST(SUM(CASE WHEN f.fb = g.batch THEN 1 ELSE 0 END) * {_NOV_BP} // COUNT(*) AS BIGINT)
           AS novelty_bp
FROM g JOIN firstb f ON f.gram = g.gram
GROUP BY g.batch
ORDER BY g.batch
"""


@register("trigram_novelty_curve", tags=("ext", "llm", "text", "audit", "streaming-twin"), oracle=_NOV_ORACLE)
def trigram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arrival-batch trigram novelty: of each batch's distinct word
    3-grams, the share never seen in an earlier batch, in exact basis
    points (the freshness monitor — block comment above; batch 0 is
    100% new by construction, the tail is the signal).

    Plan shape: one tokenize pass fans into (batch, gram) pairs
    deduped by ONE hash aggregate; first-appearance is a gram-keyed
    re-aggregate of that (vocabulary-sized); the novelty join is
    gram-keyed and collocates with it. Nothing shuffles twice."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = X.tokens("text")
    tri = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        )
    )
    base = (
        docs.crossJoin(F.broadcast(n))
        .filter(F.size(toks) >= 3)
        .select(
            F.least(
                F.expr(f"doc_id * {_NOV_BATCHES} div n_docs"), F.lit(_NOV_BATCHES - 1)
            ).cast("long").alias("batch"),
            F.explode(tri).alias("gram"),
        )
    )
    g = pin(base.distinct())  # one (batch, gram) universe; probed twice
    firstb = g.groupBy("gram").agg(F.min("batch").alias("fb"))
    return (
        g.join(firstb, "gram")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.sum((F.col("fb") == F.col("batch")).cast("long")).alias("n_new_grams"),
            F.expr(
                f"sum(cast(fb = batch as long)) * {_NOV_BP} div count(*)"
            ).alias("novelty_bp"),
        )
        .orderBy("batch")
    )


# --- Asymmetric containment on near-dup candidates ---------------------------

# Reuse the production pair oracle so containment is measured on
# EXACTLY the candidates the dedup pipeline emits.
from flinkstreametl_spark.operators import dedup as _D  # noqa: E402
from flinkstreametl_spark.plans.llm import _MINHASH_ORACLE as _CONT_PAIRS  # noqa: E402
from flinkstreametl_spark.session import pin

_CONT_FP = 1_000_000

_CONT_ORACLE = f"""
WITH pairs AS MATERIALIZED (
{_CONT_PAIRS}
), ts AS (
    SELECT doc_id, list_distinct({X.sql_tokens("text")}) AS tset FROM documents
)
SELECT p.doc_a, p.doc_b,
       CAST(len(list_intersect(a.tset, b.tset)) AS BIGINT) AS n_common,
       CAST(len(a.tset) AS BIGINT) AS size_a,
       CAST(len(b.tset) AS BIGINT) AS size_b,
       CAST(len(list_intersect(a.tset, b.tset)) AS BIGINT) * {_CONT_FP} // len(a.tset)
           AS containment_ab_fp,
       CAST(len(list_intersect(a.tset, b.tset)) AS BIGINT) * {_CONT_FP} // len(b.tset)
           AS containment_ba_fp
FROM pairs p JOIN ts a ON a.doc_id = p.doc_a JOIN ts b ON b.doc_id = p.doc_b
"""


@register(
    "neardup_containment_pairs",
    tags=("ext", "llm", "dedup", "text"),
    oracle=_CONT_ORACLE,
)
def neardup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric token-set containment C(A→B) = |A∩B| / |A| on the
    production near-dup candidate pairs — the excerpt/quotation
    detector Jaccard is blind to: a short doc fully contained in a
    long one has high containment but low Jaccard, so symmetric
    dedup keeps both while this audit surfaces the subset direction
    (Broder's containment sketch rationale, computed exactly on the
    LSH-bounded candidate set instead of sketched).

    Plan shape: the banded/capped LSH join bounds the pair set; token
    sets materialize map-side per INVOLVED doc only (semi-join prune),
    and the intersection is one (pair-side, term)-keyed aggregate —
    output-sized work, never all-pairs.

    Exactness: distinct-token sets and integer fixed-point divisions
    only."""
    # single-split guard before the per-token hash chain (measured
    # 3.4s -> 2.4s at sf0.1), see passage_dedup_stats.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    pairs = pin(_D.minhash_lsh_pairs(docs, threshold=0.6).select("doc_a", "doc_b"))
    involved = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Sizes AND the exploded intersection probe.
    toksets = pin(
        docs.join(involved, "doc_id", "left_semi")
        .select("doc_id", F.array_distinct(X.tokens("text")).alias("tset"))
    )
    sizes = toksets.select("doc_id", F.size("tset").cast("long").alias("sz"))
    tok = toksets.select("doc_id", F.explode("tset").alias("term"))
    tok_b = tok.select(F.col("doc_id").alias("b_id"), F.col("term").alias("b_term"))
    inter = (
        pairs.join(tok.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(tok_b, (F.col("doc_b") == F.col("b_id")) & (F.col("term") == F.col("b_term")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "size_a",
            "size_b",
            F.expr(f"n_common * {_CONT_FP} div size_a").alias("containment_ab_fp"),
            F.expr(f"n_common * {_CONT_FP} div size_b").alias("containment_ba_fp"),
        )
    )


# --- Term burstiness ----------------------------------------------------------

_BURSTY_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest({X.sql_tokens("text")}) AS term FROM documents
), st AS (
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS cf,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM tok GROUP BY term
)
SELECT term, cf, df, cf * 100 // df AS burstiness_x100
FROM st
WHERE df >= 5
ORDER BY burstiness_x100 DESC, term
LIMIT 50
"""


@register(
    "term_burstiness_top50",
    tags=("ext", "llm", "text", "stats"),
    oracle=_BURSTY_ORACLE,
)
def term_burstiness_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness: collection frequency over document
    frequency (x100) — a term with cf/df >> 1 clumps into few documents
    (topical/boilerplate signal), one near 1 spreads evenly
    (function-word signal). Ranks the top 50 bursty terms with df ≥ 5;
    feeds stopword-list curation and the domain-signature audit.

    Plan shape: one token explode into a (term)-keyed aggregate
    (count + distinct doc_id), then TakeOrdered 50 — vocabulary-sized
    state, no corpus-wide window."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
    st = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("cf"), F.count_distinct("doc_id").alias("df")
    )
    return (
        st.filter(F.col("df") >= 5)
        .select("term", "cf", "df", F.expr("cf * 100 div df").alias("burstiness_x100"))
        .orderBy(F.col("burstiness_x100").desc(), "term")
        .limit(50)
    )
