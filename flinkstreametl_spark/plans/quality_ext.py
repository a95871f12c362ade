"""[EXT] Round-4 training-data quality operators: Gopher-style
repetition/quality gate and vocabulary coverage curve (SURVEY.md §2.9
/ the LLM-pipeline north star; splits/sampling live in pipeline_ext).

The reference ETL (liwei199411/FlinkStreamETL, Main.java) moves CDC
rows; a corpus pipeline at 100 TB additionally has to DECIDE what to
keep. These are the keep/drop operators, shaped as one-shuffle
aggregates: per-document signals come from a single (doc_id, token)
explode + hash aggregate (the wordcount discipline — partial
aggregation map-side, one exchange), never from O(len²) per-row
higher-order scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.operators import text as X
from flinkstreametl_spark.operators.ranks import with_global_rank, with_running_sum
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.sources.parquet import ensure_parallelism, load_table

_TOKS = X.sql_tokens("text")

# Thresholds tuned so the fixture corpus has both keepers and drops;
# the shape (bounds on length, repetition, and word geometry) follows
# the published Gopher/C4 filter families.
_MIN_TOKENS = 12
_MAX_TOKENS = 100_000
_MIN_DISTINCT_FRAC = 0.45
_MAX_TOP_FRAC = 0.12
_MIN_MEAN_WLEN = 3.0
_MAX_MEAN_WLEN = 10.0


_GOPHER_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), tc AS (
    SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY doc_id, tok
), sig AS (
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(cnt) AS BIGINT) AS top_tok_count,
           CAST(SUM(len(tok) * cnt) AS BIGINT) AS n_word_chars
    FROM tc GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct, top_tok_count,
       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_frac,
       CAST(top_tok_count AS DOUBLE) / n_tokens AS top_frac,
       CAST(n_word_chars AS DOUBLE) / n_tokens AS mean_word_len,
       (n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS})
         AND CAST(n_distinct AS DOUBLE) / n_tokens >= {_MIN_DISTINCT_FRAC}
         AND CAST(top_tok_count AS DOUBLE) / n_tokens <= {_MAX_TOP_FRAC}
         AND CAST(n_word_chars AS DOUBLE) / n_tokens BETWEEN {_MIN_MEAN_WLEN} AND {_MAX_MEAN_WLEN}
         AS keep
FROM sig
"""


@register("gopher_quality_gate", tags=("ext", "llm", "quality"), oracle=_GOPHER_ORACLE)
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-family quality gate: per document, token count,
    distinct-token fraction (1 - repetition), most-frequent-token
    fraction, and mean word length, each bounded to produce a keep
    flag.

    Shape: explode to (doc_id, token), ONE hash aggregate keyed on
    (doc_id, token) with map-side partial aggregation, then a second
    per-doc aggregate that reuses the same doc_id partitioning — at
    100 TB this is two pipelined aggregates over one exchange, state
    bounded by vocabulary-per-doc. The per-row higher-order-function
    alternative (count each distinct token inside the token array) is
    O(len·distinct) per document with no codegen — wrong shape for
    long documents. All derived fractions are integer-over-integer
    double divisions, bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sig = tc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_tok_count"),
        F.sum(F.length("tok") * F.col("cnt")).alias("n_word_chars"),
    )
    n = F.col("n_tokens")
    distinct_frac = F.col("n_distinct").cast("double") / n
    top_frac = F.col("top_tok_count").cast("double") / n
    mean_wlen = F.col("n_word_chars").cast("double") / n
    keep = (
        n.between(_MIN_TOKENS, _MAX_TOKENS)
        & (distinct_frac >= _MIN_DISTINCT_FRAC)
        & (top_frac <= _MAX_TOP_FRAC)
        & mean_wlen.between(_MIN_MEAN_WLEN, _MAX_MEAN_WLEN)
    )
    return sig.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_tok_count",
        distinct_frac.alias("distinct_frac"),
        top_frac.alias("top_frac"),
        mean_wlen.alias("mean_word_len"),
        keep.alias("keep"),
    )


_VOCAB_ORACLE = f"""
WITH tok AS (
    SELECT unnest({_TOKS}) AS tok FROM documents
), freq AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY tok
), tot AS (
    SELECT CAST(SUM(freq) AS BIGINT) AS total FROM freq
), ranked AS (
    SELECT tok, freq,
           ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rk,
           CAST(SUM(freq) OVER (ORDER BY freq DESC, tok
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_freq
    FROM freq
)
SELECT CAST(rk AS BIGINT) AS rk, tok, freq, cum_freq,
       CAST(cum_freq AS DOUBLE) / total AS cum_frac
FROM ranked, tot
WHERE rk <= 100
"""


@register("vocab_coverage_curve", tags=("ext", "llm", "text"), oracle=_VOCAB_ORACLE)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: tokens by descending corpus
    frequency with the cumulative fraction of all token occurrences
    covered — the plot that sizes a tokenizer vocabulary (how few
    types cover 90% of the stream). Top-100 rows emitted.

    The corpus-wide explode + count is the scalable part (wordcount
    shape); the ordered rank + cumulative sum run over the VOCABULARY
    — smaller than the corpus (Heaps' law), but at 100 TB still
    10^8–10^9 distinct tokens, so they use the two-phase
    range-repartition primitives (operators/ranks.py, proven
    bit-identical to the unpartitioned window) rather than a
    single-partition sort (VERDICT r11 item 3). (freq DESC, tok) is a
    total order, so the running sum is deterministic; ties broken by
    token."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(X.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = freq.agg(F.sum("freq").alias("total"))
    # Filter to the emitted top-100 BEFORE the running sum: cum_freq at
    # rank k depends only on ranks 1..k, so the prefix scan over the
    # 100-row head is value-identical to scanning the whole vocabulary
    # and discarding all but 100 rows (round-12 review).
    ranked = with_global_rank(freq, [F.col("freq").desc(), "tok"], out_col="rk").filter(
        F.col("rk") <= 100
    )
    ranked = with_running_sum(ranked, ["rk"], "freq", "cum_freq")
    return ranked.crossJoin(F.broadcast(total)).select(
        "rk",
        "tok",
        "freq",
        "cum_freq",
        (F.col("cum_freq").cast("double") / F.col("total")).alias("cum_frac"),
    )


# Gopher's n-gram repetition family (the half gopher_quality_gate does
# not cover: that gate bounds DISTINCT-token and top-TOKEN fractions;
# these bound positional n-gram repetition — boilerplate and copy-paste
# loops that unigram statistics cannot see). Thresholds placed at the
# fixture distribution's tail (top-2-gram char frac p90 ≈ 0.066,
# dup-3-gram char frac p99 ≈ 0.036) so the corpus has both keepers and
# drops.
_MAX_TOP2_FRAC = 0.06
_MAX_DUP3_FRAC = 0.01

_G2_SQL = "list_transform(range(1, len({c})), i -> {c}[i] || ' ' || {c}[i+1])"
_G3_SQL = "list_transform(range(1, len({c}) - 1), i -> {c}[i] || ' ' || {c}[i+1] || ' ' || {c}[i+2])"

_REP_ORACLE = f"""
WITH base AS (SELECT doc_id, {X.sql_tokens("text")} AS c FROM documents),
g2 AS (SELECT doc_id, unnest({_G2_SQL.format(c="c")}) AS g
       FROM base WHERE len(c) >= 2),
c2 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt FROM g2 GROUP BY 1, 2),
s2 AS (SELECT doc_id, CAST(SUM(cnt * len(g)) AS BIGINT) AS tot2 FROM c2 GROUP BY 1),
top2 AS (SELECT doc_id, g AS top_2gram, cnt AS top2_count,
                CAST(cnt * len(g) AS BIGINT) AS top2_chars
         FROM (SELECT doc_id, g, cnt,
                      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
               FROM c2) t WHERE rn = 1),
g3 AS (SELECT doc_id, unnest({_G3_SQL.format(c="c")}) AS g
       FROM base WHERE len(c) >= 3),
c3 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt FROM g3 GROUP BY 1, 2),
s3 AS (SELECT doc_id, CAST(SUM(cnt * len(g)) AS BIGINT) AS tot3,
              CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * len(g) ELSE 0 END) AS BIGINT) AS dup3
       FROM c3 GROUP BY 1)
SELECT s2.doc_id, top2.top_2gram, top2.top2_count,
       CAST(top2.top2_chars AS DOUBLE) / s2.tot2 AS top2_char_frac,
       CAST(s3.dup3 AS DOUBLE) / s3.tot3 AS dup3_char_frac,
       (CAST(top2.top2_chars AS DOUBLE) / s2.tot2 <= {_MAX_TOP2_FRAC})
         AND (CAST(s3.dup3 AS DOUBLE) / s3.tot3 <= {_MAX_DUP3_FRAC}) AS keep
FROM s2 JOIN top2 USING (doc_id) JOIN s3 USING (doc_id)
"""


def _ngrams(toks, n: int):
    """Positional word n-grams WITH duplicates (repetition is the
    signal), guarded for short docs — Spark's sequence(1, stop)
    DESCENDS for stop < 1 where DuckDB's range(1, stop) is empty."""
    parts = lambda i: [F.element_at(toks, i + j) for j in range(n)]  # noqa: E731
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *parts(i)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


@register(
    "ngram_repetition_stats",
    tags=("ext", "llm", "quality", "repetition"),
    oracle=_REP_ORACLE,
)
def ngram_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher n-gram repetition filters: per document, the fraction of
    2-gram characters covered by the single most frequent 2-gram
    (boilerplate headers/footers) and the fraction of 3-gram characters
    inside 3-grams occurring twice or more (copy-paste loops), each
    bounded into a keep flag. Complements gopher_quality_gate, which
    sees only unigram geometry.

    Shape: the token array is materialized once per doc, n-grams come
    from an array transform (no positional window, no extra shuffle —
    the (doc_id, gram) aggregate is the only exchange, with map-side
    partial aggregation). The top-2-gram pick is a per-doc row_number
    with (count desc, gram) tie-break; all fractions are
    integer-over-integer double divisions — bit-identical across
    engines. At 100 TB this is the gopher_quality_gate plan with a
    wider key (gram vs token): state stays bounded by per-doc gram
    vocabulary; nothing is quadratic in document length."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", X.tokens("text").alias("c"))
    # Feeds the char-total aggregate AND the top-gram window.
    c2 = pin(
        base.select("doc_id", F.explode(_ngrams(F.col("c"), 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    s2 = c2.groupBy("doc_id").agg(F.sum(F.col("cnt") * F.length("g")).alias("tot2"))
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), "g")
    top2 = (
        c2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("g").alias("top_2gram"),
            F.col("cnt").alias("top2_count"),
            (F.col("cnt") * F.length("g")).alias("top2_chars"),
        )
    )
    c3 = (
        base.select("doc_id", F.explode(_ngrams(F.col("c"), 3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    s3 = c3.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * F.length("g")).alias("tot3"),
        F.sum(
            F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("g")).otherwise(F.lit(0))
        ).alias("dup3"),
    )
    top2_frac = F.col("top2_chars").cast("double") / F.col("tot2")
    dup3_frac = F.col("dup3").cast("double") / F.col("tot3")
    return (
        s2.join(top2, "doc_id")
        .join(s3, "doc_id")
        .select(
            "doc_id",
            "top_2gram",
            "top2_count",
            top2_frac.alias("top2_char_frac"),
            dup3_frac.alias("dup3_char_frac"),
            ((top2_frac <= _MAX_TOP2_FRAC) & (dup3_frac <= _MAX_DUP3_FRAC)).alias("keep"),
        )
    )


# --- DSIR importance weights ----------------------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023): score raw
# documents by how target-like their hashed n-gram features are, then
# keep the top of the ranking. Features are bigrams hashed into
# _DSIR_B buckets (the paper's hashed n-gram model); the target corpus
# here is source = 'src0' (the suite's stand-in eval/benchmark slice,
# the retrieval module's convention) and every other source is raw.
#
# Exactness: the paper scores log p_tgt(doc) - log p_raw(doc); ln()
# is not bit-portable, so — like the BM25 module — this is a
# documented LOG-FREE VARIANT: each bigram occurrence contributes the
# add-one-smoothed probability RATIO in fixed point,
#   ratio_fp[b] = ((tgt_cnt[b]+1) * FP div (raw_cnt[b]+1))
#                 * (T_raw + B) div (T_tgt + B)
# and a document's weight is the MEAN ratio over its occurrences
# (score_fp div n_grams — the length normalization the log-sum gets
# for free). FP = 10^4 keeps the widest intermediate,
# (tgt_cnt+1)*FP*(T_raw+B), under 2^63 to ~10^9 raw bigram
# occurrences; past that the spec re-scales FP or widens to
# DECIMAL(38,0) — the plan shape is unchanged.
_DSIR_B = 4096
_DSIR_FP = 10_000
_DSIR_K = 50
_DSIR_TGT = "src0"
# Engine-portable bucket: first 8 md5 hex chars of the bigram string.
_DSIR_BUCKET_SQL = f"CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % {_DSIR_B}"

_DSIR_ORACLE = f"""
WITH base AS MATERIALIZED (
    SELECT doc_id, source, {_TOKS} AS toks FROM documents
),
grams AS MATERIALIZED (
    SELECT doc_id, source, {_DSIR_BUCKET_SQL} AS b
    FROM (
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i+1])) AS g
        FROM base
    )
),
tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tgt_cnt FROM grams
        WHERE source = '{_DSIR_TGT}' GROUP BY b),
raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS raw_cnt FROM grams
        WHERE source <> '{_DSIR_TGT}' GROUP BY b),
tot AS (SELECT CAST(SUM(CASE WHEN source = '{_DSIR_TGT}' THEN 1 ELSE 0 END) AS BIGINT) AS t_tgt,
               CAST(SUM(CASE WHEN source <> '{_DSIR_TGT}' THEN 1 ELSE 0 END) AS BIGINT) AS t_raw
        FROM grams),
ratio AS (
    SELECT b,
           (COALESCE(t.tgt_cnt, 0) + 1) * {_DSIR_FP} // (COALESCE(r.raw_cnt, 0) + 1)
               * (tot.t_raw + {_DSIR_B}) // (tot.t_tgt + {_DSIR_B}) AS ratio_fp
    FROM tgt t FULL OUTER JOIN raw r USING (b), tot
),
scored AS (
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(ratio.ratio_fp) // COUNT(*) AS BIGINT) AS avg_ratio_fp
    FROM grams g JOIN ratio USING (b)
    WHERE g.source <> '{_DSIR_TGT}'
    GROUP BY g.doc_id
)
SELECT doc_id, n_grams, avg_ratio_fp, CAST(rk AS BIGINT) AS rk
FROM (
    SELECT *, row_number() OVER (ORDER BY avg_ratio_fp DESC, doc_id) AS rk
    FROM scored
) t
WHERE rk <= {_DSIR_K}
ORDER BY rk
"""


@register("dsir_importance_topk", tags=("ext", "llm", "selection", "bench"), oracle=_DSIR_ORACLE)
def dsir_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: the top-50 raw documents by
    target-likeness under hashed-bigram importance ratios (see the
    block comment for the exact log-free fixed-point spec). This is
    the "make the pretraining mix look like the eval distribution"
    operator — the quality gate's statistical cousin: gopher filters
    on absolute signals, DSIR ranks against a target corpus.

    Plan shape: ONE pass over the corpus explodes bigrams and hashes
    them to _DSIR_B buckets; both bucket tables and the occurrence
    totals are AT MOST B rows (bounded by the hash range, NOT the
    corpus) so the ratio table broadcasts; scoring is a broadcast-hash
    join on the bucket id plus one partial-aggregated exchange keyed
    by doc_id; the final top-50 is TakeOrdered. Nothing but the two
    doc-grain aggregates ever shuffles."""
    # per-bigram md5 hashing is the CPU-heavy map stage; a single-row-
    # group parquet file is ONE split, so spread it first (measured at
    # sf0.1: 14-21s on one core -> ~2s on 32; the ensure_parallelism
    # rationale, sources/parquet.py)
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = X.tokens("text")
    bigram = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = pin(docs.select(
        "doc_id", "source", F.explode(bigram).alias("g")
    ).select(
        "doc_id",
        "source",
        (F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long") % _DSIR_B).alias("b"),
    ))  # one corpus pass feeds tgt/raw/tot AND the scoring join
    is_tgt = F.col("source") == _DSIR_TGT
    # ONE conditional aggregation replaces the former tgt/raw twin
    # scans AND their full-outer join (r14 opt): per-bucket target/raw
    # occurrence counts in a single pass over the pinned gram stream.
    # A bucket with no tgt (raw) rows gets a 0 count — exactly what
    # COALESCE(cnt, 0) produced through the outer join. The occurrence
    # totals then re-aggregate the B-row counts table instead of
    # scanning the corpus-scale grams a third time: t_tgt = Σ tgt_cnt
    # by definition. 4 corpus-scale passes -> 2, bit-identical ratios.
    counts = grams.groupBy("b").agg(
        F.sum(is_tgt.cast("long")).alias("tgt_cnt"),
        F.sum((~is_tgt).cast("long")).alias("raw_cnt"),
    )
    tot = counts.agg(
        F.sum("tgt_cnt").alias("t_tgt"), F.sum("raw_cnt").alias("t_raw")
    )
    ratio = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.expr(
                f"(tgt_cnt + 1) * {_DSIR_FP} div (raw_cnt + 1)"
                f" * (t_raw + {_DSIR_B}) div (t_tgt + {_DSIR_B})"
            ).alias("ratio_fp"),
        )
    )
    scored = (
        grams.filter(~is_tgt)
        .join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.expr("sum(ratio_fp) div count(*)").alias("avg_ratio_fp"),
        )
    )
    top = scored.orderBy(F.col("avg_ratio_fp").desc(), "doc_id").limit(_DSIR_K)
    w = Window.orderBy(F.col("avg_ratio_fp").desc(), "doc_id")
    return top.select(
        "doc_id", "n_grams", "avg_ratio_fp", F.row_number().over(w).cast("long").alias("rk")
    ).orderBy("rk")


# --- token Gini diversity ---------------------------------------------------
# Lexical-diversity score that avoids entropy's ln(): Gini impurity of
# the per-document token distribution, 1 - Σ_t (cnt_t / n)². Scaled by
# FP it is exactly   gini_fp = FP - Σ cnt² * FP div n²   — pure BIGINT
# (widest term Σcnt²·FP <= n²·FP: a 100k-token doc stays under 2^63
# with FP = 10^6), so unlike a Shannon-entropy twin it hash-verifies
# cross-engine. Low gini = the doc is a few tokens repeated (spam /
# boilerplate); the gopher gate's distinct_frac is the 0/1 version of
# the same signal, this is the smooth one a quality classifier feeds.
_GINI_FP = 1_000_000

_GINI_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
tc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY doc_id, tok)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST({_GINI_FP} - SUM(cnt * cnt) * {_GINI_FP} // (SUM(cnt) * SUM(cnt)) AS BIGINT) AS gini_fp
FROM tc
GROUP BY doc_id
ORDER BY doc_id
"""


@register("token_gini_diversity", tags=("ext", "llm", "quality"), oracle=_GINI_ORACLE)
def token_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity as fixed-point Gini impurity of
    the token histogram (exact spec in the block comment — the log-free
    sibling of token entropy). Plan shape is the module's wordcount
    discipline: one (doc_id, token) explode -> hash aggregate (partial
    map-side), then the doc-grain re-aggregate — the integer Σcnt² and
    Σcnt fold in the same exchange; nothing is O(len²) per row."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        tc.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.expr(f"CAST({_GINI_FP} - sum(cnt * cnt) * {_GINI_FP} div (sum(cnt) * sum(cnt)) AS BIGINT)").alias(
                "gini_fp"
            ),
        )
        .orderBy("doc_id")
    )


# --- signal calibration audit ------------------------------------------------
# Does the smooth diversity signal PREDICT the hard gate? Bucket every
# document by its Gini diversity (ten fixed-width fixed-point bins —
# map-side arithmetic, NOT a global ntile: a corpus-wide rank window
# single-partitions at 100 TB, while bucket = min(gini*10 div FP, 9)
# costs nothing) and report the gopher keep rate per bucket. A
# monotone keep-rate curve validates using the cheap smooth score as a
# pre-filter in front of the expensive gate; a flat one says the
# signals are independent. This is the classifier-calibration shape
# every model-based quality filter gets audited with before it is
# trusted to pre-prune.
_CAL_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
tc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY doc_id, tok),
sig AS (
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(cnt) AS BIGINT) AS top_tok_count,
           CAST(SUM(len(tok) * cnt) AS BIGINT) AS n_word_chars,
           CAST(SUM(cnt * cnt) AS BIGINT) AS sum_cnt2
    FROM tc GROUP BY doc_id
),
feat AS (
    SELECT doc_id,
           {_GINI_FP} - sum_cnt2 * {_GINI_FP} // (n_tokens * n_tokens) AS gini_fp,
           (n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS})
             AND CAST(n_distinct AS DOUBLE) / n_tokens >= {_MIN_DISTINCT_FRAC}
             AND CAST(top_tok_count AS DOUBLE) / n_tokens <= {_MAX_TOP_FRAC}
             AND CAST(n_word_chars AS DOUBLE) / n_tokens BETWEEN {_MIN_MEAN_WLEN} AND {_MAX_MEAN_WLEN}
             AS keep
    FROM sig
)
SELECT CAST(least(gini_fp * 10 // {_GINI_FP}, 9) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) * {_GINI_FP} // COUNT(*) AS BIGINT) AS keep_rate_fp,
       CAST(MIN(gini_fp) AS BIGINT) AS min_gini_fp,
       CAST(MAX(gini_fp) AS BIGINT) AS max_gini_fp
FROM feat
GROUP BY 1
ORDER BY bucket
"""


@register("quality_calibration_audit", tags=("ext", "llm", "quality", "audit"), oracle=_CAL_ORACLE)
def quality_calibration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the Gini diversity signal against the gopher
    gate: per fixed-width gini bucket, document count and gate keep
    rate (exact integer spec in the block above — note the deliberate
    map-side bucketing instead of a corpus-rank ntile). Both signals
    come from ONE (doc_id, token) aggregate: the gini Σcnt² and the
    gate's four geometry signals fold in the same exchange, so the
    audit costs exactly what the gate alone costs."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sig = tc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_tok_count"),
        F.sum(F.length("tok") * F.col("cnt")).alias("n_word_chars"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_cnt2"),
    )
    n = F.col("n_tokens")
    keep = (
        n.between(_MIN_TOKENS, _MAX_TOKENS)
        & (F.col("n_distinct").cast("double") / n >= _MIN_DISTINCT_FRAC)
        & (F.col("top_tok_count").cast("double") / n <= _MAX_TOP_FRAC)
        & (F.col("n_word_chars").cast("double") / n).between(_MIN_MEAN_WLEN, _MAX_MEAN_WLEN)
    )
    feat = sig.select(
        F.expr(f"{_GINI_FP} - sum_cnt2 * {_GINI_FP} div (n_tokens * n_tokens)").alias("gini_fp"),
        keep.alias("keep"),
    )
    return (
        feat.groupBy(
            F.least(F.expr(f"gini_fp * 10 div {_GINI_FP}"), F.lit(9)).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.expr(f"sum(cast(keep as long)) * {_GINI_FP} div count(*)").alias("keep_rate_fp"),
            F.min("gini_fp").alias("min_gini_fp"),
            F.max("gini_fp").alias("max_gini_fp"),
        )
        .orderBy("bucket")
    )


# --- quality-score drift (batch twin) ----------------------------------------
# The oracle-verified twin of the streaming drift monitor
# (streaming/drift_monitor.py): the corpus's arrival halves (doc_id
# order — the fixture's arrival proxy, the trigram_novelty convention)
# are histogrammed on the SAME 0..9 classifier score the ingest gate
# filters on, normalized to integer parts-per-FP shares, and compared
# by the monitor's squared-L2 statistic d_fp = Σ(share_a - share_b)²
# div FP. On a stationary fixture d_fp ~ 0 — the baseline-noise number
# a deployment turns into its alert threshold.
_DRIFT_FP = 1_000_000

_DRIFT_Q_ORACLE = f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
sig AS (
    SELECT CASE WHEN doc_id * 2 < n.n_docs THEN 0 ELSE 1 END AS half,
           3 * CAST(len({_TOKS}) BETWEEN 10 AND 10000 AS BIGINT)
         + 2 * CAST(len(list_distinct({_TOKS})) * 10 > len({_TOKS}) AS BIGINT)
         + 2 * CAST({X.sql_marker_hits(_TOKS, X.EN_STOPWORDS)} * 20 >= len({_TOKS}) AS BIGINT)
         + 1 * CAST(length(text) BETWEEN len({_TOKS}) * 3 AND len({_TOKS}) * 13 AS BIGINT)
         + 1 * CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) * 10
                    <= length(text) AS BIGINT) AS bucket
    FROM documents, n
),
h AS (SELECT half, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM sig GROUP BY half, bucket),
t AS (SELECT half, CAST(SUM(cnt) AS BIGINT) AS tot FROM h GROUP BY half),
sh AS (
    SELECT COALESCE(a.bucket, b.bucket) AS bucket,
           COALESCE(a.cnt, 0) * {_DRIFT_FP} // ta.tot AS sa,
           COALESCE(b.cnt, 0) * {_DRIFT_FP} // tb.tot AS sb
    FROM (SELECT * FROM h WHERE half = 0) a
    FULL OUTER JOIN (SELECT * FROM h WHERE half = 1) b ON b.bucket = a.bucket,
    (SELECT tot FROM t WHERE half = 0) ta,
    (SELECT tot FROM t WHERE half = 1) tb
)
SELECT (SELECT tot FROM t WHERE half = 0) AS n_first,
       (SELECT tot FROM t WHERE half = 1) AS n_second,
       CAST(SUM((sa - sb) * (sa - sb)) // {_DRIFT_FP} AS BIGINT) AS d_fp
FROM sh
"""


@register("quality_score_drift", tags=("ext", "llm", "quality", "audit", "streaming-twin"), oracle=_DRIFT_Q_ORACLE)
def quality_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared-L2 drift between the arrival halves' quality-score
    histograms, in exact integer fixed point — the batch twin of the
    streaming drift monitor's statistic (block comment above). Plan
    shape: one map-side scan scores every doc, one (half, bucket)
    aggregate (<= 20 cells), and all remaining arithmetic on the
    bounded cells."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = X.quality_score_expr("text")
    # <= 20 cells; totals and shares reuse it.
    h = pin(
        docs.crossJoin(F.broadcast(n))
        .select(
            F.when(F.col("doc_id") * 2 < F.col("n_docs"), F.lit(0)).otherwise(F.lit(1)).alias("half"),
            score.alias("bucket"),
        )
        .groupBy("half", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = h.groupBy("half").agg(F.sum("cnt").alias("tot"))
    a = h.filter(F.col("half") == 0).select("bucket", F.col("cnt").alias("ca"))
    b = h.filter(F.col("half") == 1).select(F.col("bucket").alias("bucket_b"), F.col("cnt").alias("cb"))
    ta = t.filter(F.col("half") == 0).select(F.col("tot").alias("ta"))
    tb = t.filter(F.col("half") == 1).select(F.col("tot").alias("tb"))
    sh = (
        a.join(b, a["bucket"] == b["bucket_b"], "full_outer")
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            F.expr(f"coalesce(ca, 0) * {_DRIFT_FP} div ta").alias("sa"),
            F.expr(f"coalesce(cb, 0) * {_DRIFT_FP} div tb").alias("sb"),
        )
    )
    return (
        sh.agg(F.expr(f"CAST(sum((sa - sb) * (sa - sb)) div {_DRIFT_FP} AS BIGINT)").alias("d_fp"))
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(F.col("ta").alias("n_first"), F.col("tb").alias("n_second"), "d_fp")
    )


# Cohen's kappa between the corpus's two independent keep/drop gates.
# Both sides are consumed from their single definitions: the Spark
# plan CALLS the registered gopher query and the shared
# quality_score_expr; the oracle embeds _GOPHER_ORACLE and the shared
# _QSCORE_SQL fragment as CTEs — no re-derived filter logic anywhere
# (the round-8 single-definition ADVICE discipline).
_KAPPA_ORACLE = f"""
WITH g AS ({_GOPHER_ORACLE}),
q AS ({{qscore}}),
j AS (
    SELECT g.keep AS ka, q.score >= 6 AS kb
    FROM g JOIN q USING (doc_id)
), c AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
           CAST(SUM(CASE WHEN ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
           CAST(SUM(CASE WHEN NOT ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
           CAST(SUM(CASE WHEN NOT ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS n00
    FROM j
)
SELECT n AS n_docs, n11, n10, n01, n00,
       (n11 + n00) * 10000 // n AS agree_bp,
       CASE WHEN n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) = 0 THEN NULL
            ELSE round(CAST(n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE)
                       / CAST(n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE), 6)
       END AS kappa
FROM c
"""


@register(
    "quality_gates_kappa",
    tags=("ext", "llm", "quality", "eval"),
    oracle=None,  # set below after the llm module's shared fragment loads
)
def quality_gates_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between the corpus's two independent
    quality gates — the Gopher-style statistical gate
    (``gopher_quality_gate``) and the 5-term weighted classifier
    (``operators/text.quality_score_expr`` >= 6). Raw agreement
    overstates consensus when both gates keep almost everything;
    kappa subtracts the chance-agreement floor, which is the honest
    "do these filters measure the same thing?" number a curation
    pipeline needs before it treats one gate as a cheap proxy for the
    other. The 2x2 contingency is emitted alongside so the DISAGREEING
    quadrants (n10/n01) are directly inspectable.

    Exactness: all counts exact; kappa's numerator/denominator are
    exact int64 products (n^2 <= 2.5e11 at sf1) crossing to double for
    ONE division in identical literal order (round 6); agreement share
    is integer basis points.

    Plan: the gopher side is the registered query's own plan (one
    exchange); the classifier side is row-local expression over the
    documents scan; one doc_id join, one global aggregate — 5 numbers
    cross the final exchange."""
    ga = gopher_quality_gate(spark, sf_dir).select("doc_id", F.col("keep").alias("ka"))
    docs = load_table(spark, sf_dir, "documents")
    gb = docs.select("doc_id", (X.quality_score_expr("text") >= 6).alias("kb"))
    c = ga.join(gb, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("ka") & F.col("kb"), 1).otherwise(0)).cast("long").alias("n11"),
        F.sum(F.when(F.col("ka") & ~F.col("kb"), 1).otherwise(0)).cast("long").alias("n10"),
        F.sum(F.when(~F.col("ka") & F.col("kb"), 1).otherwise(0)).cast("long").alias("n01"),
        F.sum(F.when(~F.col("ka") & ~F.col("kb"), 1).otherwise(0)).cast("long").alias("n00"),
    )
    pe = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    den = F.col("n") * F.col("n") - pe
    num = F.col("n") * (F.col("n11") + F.col("n00")) - pe
    return c.select(
        F.col("n").alias("n_docs"),
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr("(n11 + n00) * 10000 div n").alias("agree_bp"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(num.cast("double") / den.cast("double"), 6))
        .alias("kappa"),
    )


def _install_kappa_oracle() -> None:
    """Late-bind the kappa oracle: the classifier's SQL fragment lives
    in plans/llm (its single definition); importing it at module top
    would be fine today but this keeps the dependency one-way and
    explicit."""
    from flinkstreametl_spark.plans.llm import _QSCORE_SQL
    from flinkstreametl_spark.plans.registry import REGISTRY

    REGISTRY["quality_gates_kappa"].oracle = _KAPPA_ORACLE.format(qscore=_QSCORE_SQL)


_install_kappa_oracle()


# --- unigram surprisal (perplexity-proxy quality score) -----------------------
# The log-free member of the quality-score family: per-source mean token
# surprisal against the CORPUS unigram distribution. True surprisal is
# -log2(n_w / N); runtime ln/log2 over doubles is banned from oracles
# (last-ulp divergence across engines — the sketch_ext precedent), so the
# metric quantizes to INTEGER bits: bits(w) = floor(log2(N // n_w)) =
# length(bin(N // n_w)) - 1, exact 64-bit arithmetic in both engines
# (Spark bin() and DuckDB bin() agree on positive BIGINT by definition of
# binary notation). Low mean surprisal = repetitive/boilerplate source;
# high = rare-token-heavy (OCR noise, code, multilingual) — the unigram
# cross-entropy signal CCNet/Gopher-style pipelines threshold on.
_SUR_FP = 1_000_000

_SUR_ORACLE = f"""
WITH st AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT source, unnest({X.sql_tokens('text')}) AS tok FROM documents)
    GROUP BY source, tok
), tf AS (
    SELECT tok, CAST(SUM(cnt) AS BIGINT) AS n FROM st GROUP BY tok
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM tf)
SELECT st.source,
       CAST(SUM(st.cnt) AS BIGINT) AS n_tokens,
       CAST(SUM(st.cnt * (length(bin(tot.nn // tf.n)) - 1)) AS BIGINT) AS sum_bits,
       CAST(CAST(SUM(st.cnt * (length(bin(tot.nn // tf.n)) - 1)) AS HUGEINT) * {_SUR_FP}
              // SUM(st.cnt) AS BIGINT)
         AS mean_surprisal_ubits
FROM st JOIN tf USING (tok), tot
GROUP BY st.source
"""


@register("unigram_surprisal_by_source", tags=("ext", "llm", "quality", "bench"), oracle=_SUR_ORACLE)
def unigram_surprisal_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean token surprisal vs the corpus unigram model —
    the perplexity-proxy quality gate (spec + why integer bits in the
    block comment above). Plan: ONE corpus scan into the (source, token)
    hash aggregate (map-side partial), pinned because it
    feeds BOTH the corpus term-frequency re-aggregate and the scoring
    join; the corpus total is a broadcast 1-row frame (scalar-subquery
    idiom). The scoring join shuffles on token — the wordcount exchange,
    |vocab|-sized, never corpus-sized. At 100 TB the unigram table is a
    dictionary-sized artifact broadcast to the scorers; nothing here is
    driver-side."""
    docs = load_table(spark, sf_dir, "documents")
    st = pin(
        docs.select("source", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tf = st.groupBy("tok").agg(F.sum("cnt").alias("n"))
    tot = tf.agg(F.sum("n").alias("nn"))
    joined = st.join(tf, "tok").crossJoin(F.broadcast(tot))
    bits = F.expr("length(bin(nn div n)) - 1")
    return (
        joined.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("cnt") * bits).cast("long").alias("sum_bits"),
        )
        .select(
            "source",
            "n_tokens",
            "sum_bits",
            # The fixed-point multiply widens to DECIMAL(38,0) before
            # scaling (ADVICE r10): at <=63 bits/token, int64 sum_bits
            # * 1e6 overflows once a source holds ~1.5e11 tokens —
            # inside the 100 TB envelope. DECIMAL DIV returns the
            # exact integral quotient; the DuckDB twin widens to
            # HUGEINT the same way. The mean itself (<= 64e6) always
            # fits BIGINT.
            F.expr(
                f"CAST(CAST(sum_bits AS DECIMAL(38,0)) * {_SUR_FP} DIV n_tokens AS BIGINT)"
            ).alias("mean_surprisal_ubits"),
        )
    )
