"""[EXT] Training-data-pipeline operators beyond dedup/similarity
(north-star requirement): reproducible dataset splitting and sampling,
higher-order array functions, and date arithmetic breadth.

Splitting/sampling at 100 TB must be HASH-based, never rand(): a random
split is irreproducible across reruns, retried tasks, and engines,
and can't be recomputed for an incremental batch. Hashing a stable id
gives the same assignment everywhere — these queries prove Spark and
DuckDB agree bucket-for-bucket via the md5 oracle gate.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.operators import text as X
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.sources.parquet import load_table

# Engine-portable hash bucket in [0, 100): md5 of the decimal string id,
# first 4 hex digits, mod 100. (xxhash64/Spark `hash` are Spark-private;
# md5 is bit-identical everywhere.)
_BUCKET_SQL = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100"


def _bucket() -> F.Column:
    return (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("int") % 100).alias(
        "bucket"
    )


@register(
    "hash_split_train_test",
    tags=("ext", "llm", "sampling"),
    oracle=f"""
SELECT doc_id,
       {_BUCKET_SQL} AS bucket,
       CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
            WHEN {_BUCKET_SQL} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def hash_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by md5 bucket of the
    document id: reproducible across engines, reruns, retries, and
    incremental batches (a new document lands in the same split
    forever). The per-row hash is a pure map — no shuffle, no state."""
    docs = load_table(spark, sf_dir, "documents")
    b = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("int") % 100
    return docs.select(
        "doc_id",
        b.alias("bucket"),
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )


@register(
    "stratified_hash_sample",
    tags=("ext", "llm", "sampling"),
    oracle=f"""
SELECT doc_id, lang, {_BUCKET_SQL} AS bucket
FROM documents
WHERE {_BUCKET_SQL} < (CASE WHEN lang = 'en' THEN 50 ELSE 10 END)
""",
)
def stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-language rates (50% en, 10% rest) —
    the hash-based form of `sampleBy`, chosen because rand()-based
    sampling is irreproducible across engines/retries. The rate table
    extends to any per-stratum map via the CASE chain (or a broadcast
    join against a rates dim at scale)."""
    docs = load_table(spark, sf_dir, "documents")
    b = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("int") % 100
    rate = F.when(F.col("lang") == "en", 50).otherwise(10)
    return docs.filter(b < rate).select("doc_id", "lang", b.alias("bucket"))


@register(
    "array_functions_embeddings",
    tags=("ext", "scalar", "array", "llm"),
    oracle="""
SELECT vec_id,
       len(embedding) AS n_dims,
       len(list_filter(embedding, x -> x > 0)) AS n_pos,
       CAST(list_aggregate(list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)), 'sum') AS BIGINT) AS fp_sum,
       CAST(floor(CAST(list_max(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS fp_max
FROM embeddings
""",
)
def array_functions_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column —
    size/filter/transform/aggregate/array_max, all JVM-side inside
    codegen (the F.aggregate fold is the same machinery the cosine
    kernel uses). Exactness: element values go through fixed-point
    floor(x * 2^20) BIGINTs before summing, because a float array
    summed as doubles is engine-divergent in the last ulp; integer
    folds are exact in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    fp = "CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)"
    return emb.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.expr("size(filter(embedding, x -> x > 0))").alias("n_pos"),
        F.expr(f"aggregate(transform(embedding, x -> {fp}), CAST(0 AS BIGINT), (a, x) -> a + x)").alias(
            "fp_sum"
        ),
        F.expr("CAST(floor(CAST(array_max(embedding) AS DOUBLE) * 1048576) AS BIGINT)").alias("fp_max"),
    )


@register(
    "date_arithmetic_orders",
    tags=("ext", "scalar", "datetime"),
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS qtr,
       CAST(EXTRACT(DOW FROM o_orderdate) + 1 AS INT) AS dow,
       CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3_months
FROM orders
""",
)
def date_arithmetic_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-arithmetic breadth (E1/E2 extended): day difference to a
    fixed horizon, month-end, quarter, day-of-week (normalized to
    Spark's 1=Sunday), and clamping month addition — all pushed-down
    column expressions, no UDFs."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
        F.last_day("o_orderdate").alias("month_end"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofweek("o_orderdate").alias("dow"),
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTH")).alias("plus_3_months"),
    )


@register(
    "grouped_agg_pandas_udf",
    tags=("ext", "udf", "aggregate"),
    oracle="""
SELECT l_returnflag,
       (CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0)
       /
       (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS wmean_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def grouped_agg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas_udf — the custom-UDAF surface (the reference
    has no UDAF at all; this is the Spark-idiomatic extensibility
    point): quantity-weighted mean price per return flag, Arrow-batched.

    Promoted from rows-only in round 2 by applying the repo's decimal
    discipline INSIDE the UDF: values are quantized to integer cents
    (the same decimal(12,2) the SQL twin casts to), summed as int64
    (exact, order-independent), and converted to double through the
    unscaled-integer path (functions/exact.py dbl) before one float
    division — so the Python kernel, the built-in expression, and the
    DuckDB oracle all emit the same bits."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    def _wmean(price: pd.Series, qty: pd.Series) -> float:
        p = np.rint(price.to_numpy(dtype=np.float64) * 100).astype(np.int64)  # cents
        q = np.rint(qty.to_numpy(dtype=np.float64) * 100).astype(np.int64)
        den = int(q.sum())
        if den == 0:
            return float("nan")
        num = int((p * q).sum())  # price*qty at scale 10^4
        return (float(num) / 1e4) / (float(den) / 1e2)

    # GROUPED_AGG is inferred from the (Series, Series) -> scalar hints;
    # pd must be module-global for PEP-563 hint resolution.
    wmean = pandas_udf(_wmean, "double")

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        wmean(F.col("l_extendedprice"), F.col("l_quantity")).alias("wmean_price")
    )


from flinkstreametl_spark.operators import text as _X

_PIPE_TOKS = _X.sql_tokens("text")
_PIPE_FP = _X.sql_fingerprint("text")
_PIPE_BUCKET = "CAST(concat('0x', substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100"


@register(
    "training_data_pipeline",
    tags=("ext", "llm", "pipeline", "bench"),
    oracle=f"""
WITH scored AS (
    SELECT doc_id, lang,
           len({_PIPE_TOKS}) AS n_tokens,
           {_PIPE_FP} AS fp,
           (len({_PIPE_TOKS}) >= 10 AND len({_PIPE_TOKS}) <= 10000
            AND (CAST(len(list_distinct({_PIPE_TOKS})) AS DOUBLE) / len({_PIPE_TOKS})) > 0.1)
             AS is_quality
    FROM documents
),
quality AS (SELECT * FROM scored WHERE is_quality),
keepers AS (SELECT fp, MIN(doc_id) AS keeper FROM quality GROUP BY fp)
SELECT q.doc_id, q.lang, q.n_tokens,
       CASE WHEN {_PIPE_BUCKET} < 80 THEN 'train'
            WHEN {_PIPE_BUCKET} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM quality q
JOIN keepers k ON q.fp = k.fp AND q.doc_id = k.keeper
""",
)
def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-preparation flow, composed from the
    engine's own operators: quality gate (token count + type-token
    ratio) -> exact dedup keeping the lowest doc_id per content
    fingerprint -> deterministic md5-bucket train/val/test assignment.
    One scan of documents; the only shuffle is the keep-first dedup
    window on the fingerprint (a min-over-partition then filter — one
    exchange, no self-join back); the split is a pure map. This is the composite a real
    100 TB pretraining pipeline runs nightly — every stage is
    individually oracle-checked elsewhere, and the composition is
    checked here."""
    from flinkstreametl_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    n_tokens = F.size(toks)
    ttr = F.size(X.distinct_tokens("text")).cast("double") / n_tokens
    scored = docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        X.fingerprint("text").alias("fp"),
        ((n_tokens >= 10) & (n_tokens <= 10000) & (ttr > 0.1)).alias("is_quality"),
    )
    quality = scored.filter("is_quality")
    keeper = F.min("doc_id").over(Window.partitionBy("fp"))
    b = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("int") % 100
    return (
        quality.withColumn("keeper", keeper)
        .filter(F.col("doc_id") == F.col("keeper"))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
        )
    )


_CTX = 64  # context-window length in tokens


@register(
    "pack_sequences",
    tags=("ext", "llm", "pipeline", "packing"),
    oracle=f"""
WITH sized AS (
    SELECT doc_id, lang, source,
           CAST(len({_PIPE_TOKS}) AS BIGINT) AS n_tokens
    FROM documents
), placed AS (
    SELECT doc_id, lang, source, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY lang, source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS "offset"
    FROM sized
    WHERE n_tokens > 0
)
SELECT doc_id, lang, source, n_tokens, "offset",
       "offset" // {_CTX} AS start_bin,
       ("offset" + n_tokens - 1) // {_CTX} AS end_bin,
       ("offset" + n_tokens - 1) // {_CTX} - "offset" // {_CTX} + 1 AS n_bins
FROM placed
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a stable
    order and split the token stream into fixed 64-token context
    windows — each doc's placement is its running-sum offset, so the
    whole assignment is two window functions over a per-(lang, source)
    shard sort, no iteration and no driver state. At 100 TB the shard
    key bounds each sort partition; packing never needs a global order,
    only a reproducible one. Emits (offset, start_bin, end_bin, n_bins)
    per doc — the writer that materializes the packed windows is a
    partition-local array slice exactly like chunk_documents."""
    from flinkstreametl_spark.operators import text as X
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n = F.size(X.tokens("text")).cast("long")
    sized = docs.select("doc_id", "lang", "source", n.alias("n_tokens")).filter(F.col("n_tokens") > 0)
    w = Window.partitionBy("lang", "source").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    placed = sized.withColumn("offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    start_bin = F.floor(F.col("offset") / _CTX)
    end_bin = F.floor((F.col("offset") + F.col("n_tokens") - 1) / _CTX)
    return placed.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        "offset",
        start_bin.alias("start_bin"),
        end_bin.alias("end_bin"),
        (end_bin - start_bin + 1).alias("n_bins"),
    )


_N_SHARDS = 16  # output shards (training files); parameter-sized
_SHARD_BUCKETS = 64  # parallel units of the two-phase prefix sum


@register(
    "token_balanced_shards",
    tags=("ext", "llm", "pipeline", "sharding", "bench"),
    oracle=f"""
WITH sized AS (
    SELECT doc_id,
           CAST(len({_PIPE_TOKS}) AS BIGINT) AS n,
           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hkey
    FROM documents
),
keyed AS (
    SELECT doc_id, n, hkey, hkey % {_SHARD_BUCKETS} AS bucket FROM sized WHERE n > 0
),
placed AS (
    SELECT n,
           CAST(SUM(n) OVER (ORDER BY bucket, hkey, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n AS cum_before
    FROM keyed
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM keyed),
agg AS (
    SELECT CAST(({_N_SHARDS} * p.cum_before) // t.t AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n) AS BIGINT) AS shard_tokens,
           MAX(t.t) AS t
    FROM placed p CROSS JOIN tot t
    GROUP BY 1
)
SELECT shard, n_docs, shard_tokens,
       CAST(({10000 * _N_SHARDS} * shard_tokens) // t - 10000 AS BIGINT) AS dev_bp
FROM agg
""",
)
def token_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced output sharding — the write-side step of a
    training pipeline: assign every document to one of 16 shards so
    shard token totals are near-equal (each shard covers a contiguous
    token range of the hash-ordered stream, so imbalance is bounded by
    one document), deterministically (md5 order, no rand()) and
    without a global sort. Emits the per-shard audit: doc count,
    token total, and signed deviation from the ideal share in integer
    basis points.

    The scale pattern this query exists to demonstrate is the
    TWO-PHASE GLOBAL PREFIX SUM. A naive running total over a global
    ORDER BY is a single-partition window — the one shape Spark cannot
    scale. Instead: (1) docs hash into 64 buckets; the running sum
    runs per-bucket (parallel, each sorts |docs|/64 rows); (2)
    per-bucket token totals — a 64-row parameter table — get
    cumulative offsets on a single partition that is
    PARAMETER-sized, never data-sized, and broadcast back; (3) global
    position = bucket offset + local running sum, exactly as if one
    machine had summed the stream in (bucket, hkey, doc_id) order —
    which is precisely what the DuckDB oracle does, so the
    decomposition itself is what the hash check verifies. The windowed
    doc-scale frame is pinned: it feeds both the
    offset table and the final join (pin shared fan-out, not chains).

    Integer exactness: positions and totals are BIGINT token counts;
    shard = (N * cum_before) div total stays under 9.2e18 up to ~5e14
    total tokens at N=16, and dev_bp's 160000 * shard_tokens under
    ~5e13 — both orders of magnitude past a 100 TB corpus. Engine
    `div` and DuckDB `//` agree on the nonnegative operands.
    """
    from flinkstreametl_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    h32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    sized = docs.select(
        "doc_id", F.size(X.tokens("text")).cast("long").alias("n"), h32.alias("hkey")
    )
    keyed = sized.filter(F.col("n") > 0).withColumn(
        "bucket", F.col("hkey") % _SHARD_BUCKETS
    )
    wloc = (
        Window.partitionBy("bucket")
        .orderBy("hkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("bucket")
    placed = pin(keyed.select(
        "bucket",
        "n",
        (F.sum("n").over(wloc) - F.col("n")).alias("loc_before"),
        F.sum("n").over(wtot).alias("bucket_tokens"),
    ))
    woff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        placed.groupBy("bucket")
        .agg(F.first("bucket_tokens").alias("bt"))
        .select(
            "bucket",
            F.coalesce(F.sum("bt").over(woff), F.lit(0)).alias("offset"),
            F.sum("bt").over(wall).alias("total"),
        )
    )
    shard = F.expr(f"({_N_SHARDS} * (offset + loc_before)) div total")
    agg = (
        placed.join(F.broadcast(offsets), "bucket")
        .select(shard.alias("shard"), "n", "total")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("shard_tokens"),
            F.first("total").alias("total"),
        )
    )
    return agg.select(
        "shard",
        "n_docs",
        "shard_tokens",
        F.expr(f"({10000 * _N_SHARDS} * shard_tokens) div total - 10000").alias("dev_bp"),
    )


_PROBE_SOURCE = "src0"  # stand-in benchmark/eval corpus


@register(
    "decontaminate_ngram_hits",
    tags=("ext", "llm", "pipeline", "decontamination", "bench"),
    oracle=f"""
WITH tk AS (
    SELECT doc_id, source, {_PIPE_TOKS} AS toks FROM documents
), grams AS (
    SELECT doc_id, source,
           unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
    FROM tk
), probe AS (
    SELECT DISTINCT gram FROM grams WHERE source = '{_PROBE_SOURCE}'
)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_grams
FROM grams g
JOIN probe p ON g.gram = p.gram
WHERE g.source <> '{_PROBE_SOURCE}'
GROUP BY g.doc_id
""",
)
def decontaminate_ngram_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word 3-gram with the probe corpus (here: source=src0 as the
    stand-in eval set; production swaps in the benchmark suite). The
    probe side is tiny by nature, so its distinct grams BROADCAST and
    the training side never shuffles — one scan, map-side explode,
    broadcast-hash semi-ish join, one aggregate keyed by doc. Real
    pipelines use 8-13-grams; 3 fits the fixture's short docs."""
    from flinkstreametl_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    # Materialize the token array first — an inline split inside the
    # per-element lambda re-runs the regexp per gram (measured ~7x
    # slower at sf0.1).
    base = docs.select("doc_id", "source", X.tokens("text").alias("toks"))
    toks = F.col("toks")
    tri = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)),
        )
    )
    grams = base.select("doc_id", "source", F.explode(tri).alias("gram"))
    probe = grams.filter(F.col("source") == _PROBE_SOURCE).select("gram").distinct()
    return (
        grams.filter(F.col("source") != _PROBE_SOURCE)
        .join(F.broadcast(probe), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


@register(
    "bpe_pair_counts",
    tags=("ext", "llm", "text", "tokenizer"),
    oracle=f"""
SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
    SELECT unnest(list_transform(range(1, length(tok)), i -> substr(tok, i, 2))) AS pair
    FROM (SELECT unnest({_PIPE_TOKS}) AS tok FROM documents) t
) p
GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT 50
""",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE vocabulary training: corpus-wide adjacent
    symbol-pair frequencies (character bigrams within tokens), top-50.
    Explode -> partial aggregate absorbs the pair explosion before the
    shuffle -> top-k; at 100 TB this is the same plan as wordcount with
    a two-level generator."""
    from flinkstreametl_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    # length-1 tokens have no pairs; filtering them also avoids Spark's
    # sequence(1, 0) pitfall (descending sequence, where DuckDB's
    # range(1, 1) is empty)
    tok = docs.select(F.explode(X.tokens("text")).alias("tok")).filter(F.length("tok") > 1)
    pairs = tok.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(50)
    )


@register(
    "weighted_sample_topk",
    tags=("ext", "llm", "sampling", "weighted"),
    oracle="""
SELECT doc_id, n_chars,
       (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
            * 1000000000000) // n_chars AS priority
FROM documents
WHERE n_chars > 0
ORDER BY priority, doc_id
LIMIT 100
""",
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic size-weighted sampling (PPS flavor): each document
    gets priority hash16(doc_id)·10¹² // weight and the 100 smallest
    win — heavier documents draw systematically smaller priorities, so
    selection probability grows with weight, yet the draw is a pure
    function of doc_id (reproducible across engines/retries, stable
    under corpus growth). The exact A-ES scheme keys on u^(1/w), which
    needs transcendentals; the integer rational surrogate keeps the
    same monotone weight trade with a hash-exact oracle. Plan: map-side
    priority + global top-k (TakeOrderedAndProject — no full sort at
    any scale)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h16 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
    priority = F.expr("_h * 1000000000000 div n_chars")
    return (
        docs.select("doc_id", "n_chars", h16.alias("_h"))
        .select("doc_id", "n_chars", priority.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(100)
    )


@register(
    "quota_sample_per_lang",
    tags=("ext", "llm", "sampling", "quota"),
    oracle="""
SELECT doc_id, lang, rk FROM (
    SELECT doc_id, lang,
           CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT), doc_id
           ) AS BIGINT) AS rk
    FROM documents
) t WHERE rk <= 20
""",
)
def quota_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-quota stratified sampling: exactly 20 documents per
    language, chosen by md5-hash order (a deterministic shuffle) — the
    eval-set / holdout construction where every stratum must contribute
    the SAME count regardless of its size, unlike rate-based
    stratified_hash_sample. Catalyst plans the rank-filter as a
    window-group-limit pushdown: each partition keeps only its top-20
    before the exchange, so the shuffle carries ≤ 20·n_partitions rows
    per stratum at any corpus size."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    w = Window.partitionBy("lang").orderBy(h32, "doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= 20)
    )


@register(
    "mixture_weights_by_lang",
    tags=("ext", "llm", "sampling", "mixture"),
    oracle=f"""
WITH lt AS (
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_PIPE_TOKS})) AS BIGINT) AS n_tokens
    FROM documents GROUP BY lang
),
w AS (
    SELECT lang, n_docs, n_tokens,
           CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576) AS BIGINT) AS weight_fp
    FROM lt
),
t AS (SELECT CAST(SUM(weight_fp) AS BIGINT) AS total_fp FROM w)
SELECT lang, n_docs, n_tokens, weight_fp,
       CAST(weight_fp AS DOUBLE) / CAST(total_fp AS DOUBLE) AS share,
       CAST(1000000 * weight_fp // total_fp AS BIGINT) AS budget_tokens_per_m
FROM w CROSS JOIN t
""",
)
def mixture_weights_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixture ALLOCATION table that temperature sampling
    presupposes: per language, document/token counts and the
    temperature-weighted (alpha = 0.5) sampling share — p_i^0.5
    renormalized — plus the integer token budget each language gets
    out of every 1M training tokens. Upweighting low-resource
    languages by sqrt is the standard multilingual mixing recipe
    (mBERT/XLM-R lineage); the planner emits the weights a sampler
    (temperature_mix_sample) then enforces.

    Exactness: sqrt is IEEE-correctly-rounded in both engines on an
    exact integer operand, immediately quantized to a fixed-point
    BIGINT (floor(sqrt(n)*2^20)); the total is an exact integer sum;
    share is ONE double division of exact integers and the budget is
    pure integer floor-division — no order-dependent float summation
    anywhere.

    Plan: one map-side-combined aggregate to the lang grain, so the
    fact is scanned (and tokenized) ONCE; the normalizing total is a
    global window over the LANG-GRAIN rows — the single-partition
    exchange it needs carries one row per language, never data. (The
    naive `w.agg(sum)` self-reference re-scanned and re-tokenized the
    whole corpus — Spark does not dedupe common subplans; caught by
    the plan test.)"""
    docs = load_table(spark, sf_dir, "documents")
    lt = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_X.tokens("text"))).cast("long").alias("n_tokens"),
    )
    w = lt.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1048576))
        .cast("long")
        .alias("weight_fp"),
    )
    base = w.select(
        "lang",
        "n_docs",
        "n_tokens",
        "weight_fp",
        F.sum("weight_fp").over(Window.partitionBy()).cast("long").alias("total_fp"),
    )
    return base.select(
        "lang",
        "n_docs",
        "n_tokens",
        "weight_fp",
        (F.col("weight_fp").cast("double") / F.col("total_fp").cast("double")).alias("share"),
        F.expr("1000000 * weight_fp div total_fp").cast("long").alias("budget_tokens_per_m"),
    )


_CTX_LENS = [128, 256, 512, 1024]


@register(
    "context_length_waste_curve",
    tags=("ext", "llm", "tokenize", "quality-curve"),
    oracle=f"""
WITH d AS (
    SELECT doc_id, CAST(len({_PIPE_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
ls AS (SELECT CAST(unnest([{", ".join(str(n) for n in _CTX_LENS)}]) AS BIGINT) AS ctx_len)
SELECT ctx_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_tokens <= ctx_len THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_fit,
       CAST(SUM(LEAST(n_tokens, ctx_len)) AS BIGINT) AS tokens_kept,
       CAST(SUM(GREATEST(n_tokens - ctx_len, 0)) AS BIGINT) AS tokens_truncated,
       CAST(SUM(ctx_len - LEAST(n_tokens, ctx_len)) AS BIGINT) AS pad_waste,
       CAST(10000 * SUM(LEAST(n_tokens, ctx_len)) // (COUNT(*) * ctx_len) AS BIGINT) AS utilization_bp
FROM d CROSS JOIN ls
GROUP BY ctx_len
""",
)
def context_length_waste_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length sizing audit (the packing/ivf-curve pattern
    applied to sequence length): for each candidate context length,
    how much of the corpus fits whole, how many tokens truncation
    loses, how many slots one-doc-per-row padding wastes, and the
    resulting utilization in basis points. Production reads the curve
    to pick max_len and to decide whether sequence PACKING
    (pack_sequences) is worth its shuffle — high pad_waste at the
    chosen length is the packing trigger.

    Exactness: all five measures are integer aggregates of per-doc
    integers (LEAST/GREATEST clamps + counts) and utilization is
    integer basis points via floor division — nothing float anywhere.

    Plan: ONE scan computes per-doc token counts (the tokenize is the
    only heavy expression, evaluated once per doc, not per length);
    the 4-row length table cross-joins broadcast, so the curve costs
    4 aggregate rows per group through one map-combined exchange."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(F.size(_X.tokens("text")).cast("long").alias("n_tokens"))
    ls = (
        spark.range(1)
        .select(F.explode(F.array(*[F.lit(n) for n in _CTX_LENS])).alias("ctx_len"))
        .select(F.col("ctx_len").cast("long").alias("ctx_len"))
    )
    kept = F.least(F.col("n_tokens"), F.col("ctx_len"))
    return (
        d.crossJoin(F.broadcast(ls))
        .groupBy("ctx_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_tokens") <= F.col("ctx_len")).cast("long")).alias("n_docs_fit"),
            F.sum(kept).alias("tokens_kept"),
            F.sum(F.greatest(F.col("n_tokens") - F.col("ctx_len"), F.lit(0))).alias(
                "tokens_truncated"
            ),
            F.sum(F.col("ctx_len") - kept).alias("pad_waste"),
        )
        .select(
            "ctx_len",
            "n_docs",
            "n_docs_fit",
            "tokens_kept",
            "tokens_truncated",
            "pad_waste",
            F.expr("10000 * tokens_kept div (n_docs * ctx_len)")
            .cast("long")
            .alias("utilization_bp"),
        )
    )


_LEAK_N = 5  # contamination n-gram width

_SPLIT_SQL = f"""CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
            WHEN {_BUCKET_SQL} < 90 THEN 'val' ELSE 'test' END"""

_LEAK_GRAM_SQL = (
    "list_distinct(list_transform(range(1, len(toks) - "
    + str(_LEAK_N - 2)
    + "), i -> "
    + " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(_LEAK_N))
    + "))"
)

_LEAK_ORACLE = f"""
WITH sp AS (
    SELECT doc_id, {_SPLIT_SQL} AS split, {_X.sql_tokens("text")} AS toks
    FROM documents
),
g AS (
    SELECT doc_id, split, md5(gram) AS gh
    FROM (SELECT doc_id, split, unnest({_LEAK_GRAM_SQL}) AS gram FROM sp) t
),
flagged AS (
    SELECT doc_id, split,
           MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) OVER (PARTITION BY gh) AS has_train
    FROM g
),
leaked AS (
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_leaked
    FROM (SELECT DISTINCT doc_id, split FROM flagged WHERE split <> 'train' AND has_train = 1)
    GROUP BY split
),
totals AS (
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM sp WHERE split <> 'train' GROUP BY split
)
SELECT t.split, t.n_docs,
       CAST(COALESCE(l.n_leaked, 0) AS BIGINT) AS n_leaked,
       (10000 * CAST(COALESCE(l.n_leaked, 0) AS BIGINT)) // t.n_docs AS leaked_bp
FROM totals t LEFT JOIN leaked l USING (split)
"""


@register("split_leakage_audit", tags=("ext", "llm", "sampling", "audit"), oracle=_LEAK_ORACLE)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination audit of the 80/10/10 hash split: for val and
    test, how many documents share at least one {n}-gram with ANY
    train document (count + basis points). The split itself is the
    hash_split_train_test assignment, so this is the audit a pipeline
    runs BEFORE trusting held-out eval numbers — hash splits are
    reproducible but do nothing about cross-split near-duplication.

    Plan, single corpus scan: tokenize once, explode distinct
    {n}-grams, and mark leakage with ONE window over the gram hash —
    ``max(split = 'train') over (partition by gh)`` — instead of the
    natural train-set semi-join, which would scan (or materialize) the
    exploded grams twice. The distinct doc set and the per-split
    totals are BIGINT counts; leaked_bp is integer basis points, so
    the whole result is hash-exact cross-engine. Grams travel as
    md5 hashes: the shuffle key is 32 bytes regardless of gram text
    width (the 100 TB shuffle-width guard used across the dedup
    stack). Hot grams (boilerplate) skew the window partition exactly
    like they'd skew the join — AQE's skew handling applies to both;
    the window form still moves strictly fewer bytes (no probe-side
    duplication of the train set)."""
    docs = load_table(spark, sf_dir, "documents")
    b = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("int") % 100
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    sp = docs.select("doc_id", split.alias("split"), _X.tokens("text").alias("toks"))
    grams = F.array_distinct(_X.ngrams_from_tokens(F.col("toks"), _LEAK_N))
    g = sp.select("doc_id", "split", F.explode(grams).alias("gram")).select(
        "doc_id", "split", F.md5(F.col("gram").cast("binary")).alias("gh")
    )
    w = Window.partitionBy("gh")
    flagged = g.select(
        "doc_id",
        "split",
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).over(w).alias("has_train"),
    )
    leaked = (
        flagged.filter((F.col("split") != "train") & (F.col("has_train") == 1))
        .select("doc_id", "split")
        .distinct()
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_leaked"))
    )
    totals = (
        sp.filter(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        totals.join(leaked, "split", "left")
        .select(
            "split",
            "n_docs",
            F.coalesce(F.col("n_leaked"), F.lit(0)).cast("long").alias("n_leaked"),
            F.expr("(10000 * coalesce(n_leaked, 0)) div n_docs").cast("long").alias("leaked_bp"),
        )
    )


_VEC_BUCKET_SQL = "CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100"

_REPR_ORACLE = f"""
WITH sp AS (
    SELECT CASE WHEN {_VEC_BUCKET_SQL} < 80 THEN 'train'
                WHEN {_VEC_BUCKET_SQL} < 90 THEN 'val' ELSE 'test' END AS split,
           label
    FROM embeddings
),
g AS (
    SELECT split, label, CAST(COUNT(*) AS BIGINT) AS n FROM sp GROUP BY split, label
)
SELECT split, label, n,
       CAST((10000 * n) // SUM(n) OVER (PARTITION BY split) AS BIGINT) AS share_bp,
       CAST((10000 * SUM(n) OVER (PARTITION BY label)) // SUM(n) OVER () AS BIGINT) AS global_share_bp,
       CAST((10000 * n) // SUM(n) OVER (PARTITION BY split)
         - (10000 * SUM(n) OVER (PARTITION BY label)) // SUM(n) OVER () AS BIGINT) AS dev_bp
FROM g
"""


@register(
    "split_representativeness_audit",
    tags=("ext", "llm", "sampling", "audit"),
    oracle=_REPR_ORACLE,
)
def split_representativeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance audit of the hash split over the embedding corpus:
    per (split, label), the within-split share vs the global label
    share and their deviation, all in integer basis points. A hash
    split is uniform in EXPECTATION only — on a finite corpus the
    deviation column is the evidence eval sets represent the training
    distribution (and the first thing to check before attributing an
    eval gap to the model).

    Plan: one scan, one hash aggregate to the (split, label) grain;
    the share/total windows run on that grain — 3 x |labels| rows, a
    parameter-sized frame, so the unpartitioned total window is NOT a
    data-path single-partition hazard (same justification as
    mixture_weights_by_lang). Integer floor-division shares on BIGINT
    counts keep every value hash-exact; dev_bp is the difference of
    the two floored shares, defined identically on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10).cast("int") % 100
    sp = emb.select(
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"), "label"
    )
    g = sp.groupBy("split", "label").agg(F.count(F.lit(1)).alias("n"))
    w_split = Window.partitionBy("split")
    w_label = Window.partitionBy("label")
    w_all = Window.partitionBy()
    # Window sums land as named columns first so the shares can use
    # integer `div` (same floor as DuckDB's //) — not floor(dbl/dbl),
    # whose correctly-rounded quotient can cross an integer boundary
    # at exact-divisibility edges.
    sums = g.select(
        "split",
        "label",
        F.col("n").cast("long").alias("n"),
        F.sum("n").over(w_split).cast("long").alias("s_split"),
        F.sum("n").over(w_label).cast("long").alias("s_label"),
        F.sum("n").over(w_all).cast("long").alias("s_all"),
    )
    return sums.select(
        "split",
        "label",
        "n",
        F.expr("(10000 * n) div s_split").alias("share_bp"),
        F.expr("(10000 * s_label) div s_all").alias("global_share_bp"),
        F.expr("(10000 * n) div s_split - (10000 * s_label) div s_all").alias("dev_bp"),
    )


# --- domain_budget_allocation -------------------------------------------
# Water-filling token-budget allocation across sources (the data-mixing
# step of a training run: a fixed token budget, per-domain supplies, no
# domain allowed to crowd out the rest). Exact integer arithmetic
# throughout, so the driver hash gate holds.
_BUDGET_NUM, _BUDGET_DEN = 3, 5  # budget = 60% of the corpus supply

_ALLOC_ORACLE = f"""
WITH s AS (
    SELECT source, CAST(SUM(len({{toks}})) AS BIGINT) AS supply
    FROM documents GROUP BY source
),
b AS (
    SELECT CAST((SUM(supply) * {_BUDGET_NUM}) // {_BUDGET_DEN} AS BIGINT) AS budget,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s
),
r AS (
    SELECT source, supply,
           ROW_NUMBER() OVER (ORDER BY supply, source) AS k,
           CAST(SUM(supply) OVER (ORDER BY supply, source
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pk
    FROM s
),
j AS (
    SELECT MIN(k) AS j FROM r, b WHERE supply * (n - k + 1) > budget - (pk - supply)
),
cap AS (
    SELECT (b.budget - (r.pk - r.supply)) // (b.n - r.k + 1) AS cap,
           (b.budget - (r.pk - r.supply)) % (b.n - r.k + 1) AS rem
    FROM r, b, j WHERE r.k = j.j
)
SELECT r.source, r.supply AS supply_tokens,
       CAST(CASE WHEN j.j IS NULL OR r.k < j.j THEN r.supply
            ELSE cap.cap + (CASE WHEN r.k - j.j < cap.rem THEN 1 ELSE 0 END)
       END AS BIGINT) AS alloc_tokens,
       (j.j IS NOT NULL AND r.k >= j.j) AS capped
FROM r LEFT JOIN j ON TRUE LEFT JOIN cap ON TRUE
ORDER BY r.source
"""


@register(
    "domain_budget_allocation",
    tags=("ext", "llm", "sampling", "mixing"),
    oracle=_ALLOC_ORACLE.format(toks=X.sql_tokens("text")),
)
def domain_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources — the
    data-mixing planner: given a training budget of 60% of the corpus'
    tokens, small domains contribute everything they have and large
    domains are capped at the common water level, chosen so the
    allocations sum EXACTLY to the budget (the integer remainder goes
    +1 to the first capped domains in (supply, source) order).
    Classic max-min fair allocation, all in int64: the capped level is
    cap = (budget - supply_of_uncapped) div n_capped.

    Shape: the corpus-sized work is one tokenize + per-source sum
    (map-side combine, one exchange on source). Everything after runs
    on the DOMAIN table — orders of magnitude smaller than the corpus
    (tens to thousands of rows at 100 TB), so the single-partition
    window over it is a deliberate bounded choice, the same reasoning
    as vocab_coverage_curve's vocabulary window. The first-capped
    index and water level are 1-row aggregates joined back by
    broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.select("source", F.size(X.tokens("text")).cast("long").alias("n_toks"))
        .groupBy("source")
        .agg(F.sum("n_toks").alias("supply"))
    )
    b = s.agg(
        F.expr(f"(SUM(supply) * {_BUDGET_NUM}) div {_BUDGET_DEN}").alias("budget"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.orderBy("supply", "source")
    r = s.select(
        "source",
        "supply",
        F.row_number().over(w).cast("long").alias("k"),
        F.sum("supply").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("pk"),
    ).crossJoin(F.broadcast(b))
    j = r.agg(
        F.min(
            F.when(
                F.col("supply") * (F.col("n") - F.col("k") + 1)
                > F.col("budget") - (F.col("pk") - F.col("supply")),
                F.col("k"),
            )
        ).alias("j")
    )
    rj = r.crossJoin(F.broadcast(j))
    cap = rj.filter(F.col("k") == F.col("j")).select(
        F.expr("(budget - (pk - supply)) div (n - k + 1)").alias("cap"),
        F.expr("(budget - (pk - supply)) % (n - k + 1)").alias("rem"),
    )
    alloc = F.when(
        F.col("j").isNull() | (F.col("k") < F.col("j")), F.col("supply")
    ).otherwise(
        F.col("cap") + F.when(F.col("k") - F.col("j") < F.col("rem"), F.lit(1)).otherwise(F.lit(0))
    )
    # cap is a 1-row (or empty) frame: left cross-joinable via a
    # broadcast nested loop without a key.
    return (
        rj.join(F.broadcast(cap), F.lit(True), "left")
        .select(
            "source",
            F.col("supply").alias("supply_tokens"),
            alloc.cast("long").alias("alloc_tokens"),
            (F.col("j").isNotNull() & (F.col("k") >= F.col("j"))).alias("capped"),
        )
        .orderBy("source")
    )


# --- stratified k-fold -------------------------------------------------------
# Cross-validation fold assignment at corpus scale: fold = md5 bucket
# mod k (zero-shuffle, zero-coordination — every worker computes its
# rows' folds independently, the coherent-sampling discipline), audited
# for the property k-fold exists to provide: each fold's per-language
# composition matches the corpus (a skewed fold biases every held-out
# estimate). Output is the (fold, lang) grain with each cell's share of
# its fold in integer basis points against the global language share —
# the representativeness audit a CV harness runs before trusting folds.
_KFOLD = 5
_KF_BP = 10_000

_KFOLD_ORACLE = f"""
WITH f AS (
    SELECT doc_id, lang,
           CAST({_BUCKET_SQL} % {_KFOLD} AS BIGINT) AS fold
    FROM documents
),
cell AS (SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM f GROUP BY fold, lang),
ftot AS (SELECT fold, CAST(SUM(n_docs) AS BIGINT) AS fold_docs FROM cell GROUP BY fold),
ltot AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_docs FROM cell GROUP BY lang),
gtot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM cell)
SELECT c.fold, c.lang, c.n_docs,
       CAST(c.n_docs * {_KF_BP} // f.fold_docs AS BIGINT) AS fold_share_bp,
       CAST(l.lang_docs * {_KF_BP} // g.total AS BIGINT) AS global_share_bp,
       CAST(c.n_docs * {_KF_BP} // f.fold_docs
            - l.lang_docs * {_KF_BP} // g.total AS BIGINT) AS skew_bp
FROM cell c JOIN ftot f ON f.fold = c.fold
JOIN ltot l ON l.lang = c.lang, gtot g
ORDER BY c.fold, c.lang
"""


@register("stratified_kfold_audit", tags=("ext", "llm", "sampling", "audit"), oracle=_KFOLD_ORACLE)
def stratified_kfold_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold assignment by md5 bucket with the per-language
    representativeness audit (block comment above): each (fold, lang)
    cell's share of its fold vs the language's global share, in exact
    basis points — skew_bp near 0 everywhere is what licenses using
    the folds. Plan shape: fold assignment is map-side arithmetic on
    the hash the split family already uses; the audit is one
    (fold, lang) aggregate plus three bounded re-aggregates of it
    (folds x langs cells — parameter-sized, broadcast back)."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("int")
            % 100
            % _KFOLD
        ).cast("long").alias("fold"),
    )
    # folds x langs rows — pinned so its four consumers (cell itself,
    # ftot, ltot, gtot) replay one materialization, not four corpus
    # scans (tools/audit_dup_subtrees.py flagged 4x documents unpinned).
    cell = pin(f.groupBy("fold", "lang").agg(F.count(F.lit(1)).alias("n_docs")))
    ftot = cell.groupBy("fold").agg(F.sum("n_docs").alias("fold_docs"))
    ltot = cell.groupBy("lang").agg(F.sum("n_docs").alias("lang_docs"))
    gtot = cell.agg(F.sum("n_docs").alias("total"))
    return (
        cell.join(F.broadcast(ftot), "fold")
        .join(F.broadcast(ltot), "lang")
        .crossJoin(F.broadcast(gtot))
        .select(
            "fold",
            "lang",
            "n_docs",
            F.expr(f"n_docs * {_KF_BP} div fold_docs").alias("fold_share_bp"),
            F.expr(f"lang_docs * {_KF_BP} div total").alias("global_share_bp"),
            F.expr(
                f"n_docs * {_KF_BP} div fold_docs - lang_docs * {_KF_BP} div total"
            ).alias("skew_bp"),
        )
        .orderBy("fold", "lang")
    )


# --- nucleus (top-p) source sampling -----------------------------------------
# Top-p selection transplanted from decoding to data curation: per
# source, keep the smallest prefix of highest-quality documents whose
# cumulative TOKEN mass reaches p = 0.7 of the source — spend the
# training budget on each feed's best tokens instead of a flat rate.
# Ordering is (classifier score DESC, doc_id) — the integer-weight
# gate's 0..9 score, total-order tie-broken; the crossing document is
# INCLUDED (keep iff tokens-before < ceil(7T/10), all integer: thr =
# (7*T + 9) div 10).
#
# 100 TB note: the per-source ordered cumulative sum is a window over
# that source's documents — fine while no single source dominates a
# partition range; a celebrity source swaps in the two-phase global
# prefix sum (per-bucket running sums + broadcast bucket offsets) the
# token-balanced shard writer already implements. The output is the
# source-grain summary either way.
_NUC_NUM, _NUC_DEN = 7, 10  # p = 0.7
_NUC_BP = 10_000

_NUC_ORACLE = f"""
WITH feat AS (
    SELECT doc_id, source, {{toks}} AS toks, text FROM documents
),
sig AS (
    SELECT doc_id, source,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           3 * CAST(len(toks) BETWEEN 10 AND 10000 AS BIGINT)
         + 2 * CAST(len(list_distinct(toks)) * 10 > len(toks) AS BIGINT)
         + 2 * CAST({{stop}} * 20 >= len(toks) AS BIGINT)
         + 1 * CAST(length(text) BETWEEN len(toks) * 3 AND len(toks) * 13 AS BIGINT)
         + 1 * CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) * 10
                    <= length(text) AS BIGINT) AS score
    FROM feat
),
cum AS (
    SELECT source, n_tokens, score,
           SUM(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
    FROM sig
),
tot AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM sig GROUP BY source),
k AS (
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(c.n_tokens) AS BIGINT) AS tokens_kept
    FROM cum c JOIN tot ON tot.source = c.source
    WHERE c.c - c.n_tokens < ({_NUC_NUM} * tot.t + {_NUC_DEN} - 1) // {_NUC_DEN}
    GROUP BY c.source
)
SELECT t.source, t.n_docs, k.n_kept, t.t AS tokens_total, k.tokens_kept,
       CAST(k.tokens_kept * {_NUC_BP} // t.t AS BIGINT) AS kept_share_bp
FROM tot t JOIN k ON k.source = t.source
ORDER BY t.source
"""


def _nuc_oracle() -> str:
    from flinkstreametl_spark.operators import text as _X

    return _NUC_ORACLE.format(
        toks=_X.sql_tokens("text"),
        stop=_X.sql_marker_hits("toks", _X.EN_STOPWORDS),
    )


@register("nucleus_sample_per_source", tags=("ext", "llm", "sampling"), oracle=_nuc_oracle())
def nucleus_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (p = 0.7) token-budget selection per source: keep each
    feed's highest-classifier-score documents until 70% of its token
    mass is covered (exact integer spec and the 100 TB window note in
    the block above); reports per source how many documents that
    nucleus needs — a concentrated source covers 70% of tokens with
    few docs, a flat one needs most of them.

    Plan shape: one map-side scan computes tokens+score; the ordered
    cumulative sum runs inside each source partition; totals are a
    source-grain aggregate joined back by broadcast; output is
    |sources| rows."""
    from flinkstreametl_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = X.marker_hits(toks, X.EN_STOPWORDS)
    n_chars = F.length("text")
    n_punct = X.punct_count("text")
    score = (
        3 * F.size(toks).between(10, 10000).cast("long")
        + 2 * (n_distinct * 10 > F.size(toks)).cast("long")
        + 2 * (n_stop * 20 >= F.size(toks)).cast("long")
        + 1 * n_chars.between(F.size(toks) * 3, F.size(toks) * 13).cast("long")
        + 1 * (n_punct * 10 <= n_chars).cast("long")
    )
    sig = docs.select(
        "doc_id", "source", n_tokens.alias("n_tokens"), score.alias("score")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("score").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sig.select("source", "n_tokens", F.sum("n_tokens").over(w).alias("c"))
    tot = sig.groupBy("source").agg(
        F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("n_docs")
    )
    k = (
        cum.join(F.broadcast(tot.select("source", "t")), "source")
        .filter(
            F.expr(f"c - n_tokens < ({_NUC_NUM} * t + {_NUC_DEN} - 1) div {_NUC_DEN}")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
    )
    return (
        tot.join(k, "source")
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.col("t").alias("tokens_total"),
            "tokens_kept",
            F.expr(f"tokens_kept * {_NUC_BP} div t").alias("kept_share_bp"),
        )
        .orderBy("source")
    )


# --- Dataset card summary ----------------------------------------------------

# The quality CTE is the shared classifier fragment (plans/llm.py), so
# the card's mean quality can never drift from the gate (ADVICE r8).
from flinkstreametl_spark.plans.llm import _QSCORE_SQL as _CARD_QSCORE_SQL  # noqa: E402
from flinkstreametl_spark.session import pin

_CARD_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {_X.sql_tokens("text")} AS t FROM documents
), tok AS (
    SELECT doc_id, unnest(t) AS term FROM toks
), fp AS (
    SELECT {_X.sql_fingerprint("text")} AS f FROM documents
), q AS ({_CARD_QSCORE_SQL}
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM tok) AS n_tokens,
       (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) FROM tok) AS vocab_size,
       (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents) AS n_langs,
       (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents) AS n_sources,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM tok) * 100
           // (SELECT COUNT(*) FROM documents) AS tokens_per_doc_x100,
       ((SELECT CAST(COUNT(*) AS BIGINT) FROM fp)
        - (SELECT CAST(COUNT(DISTINCT f) AS BIGINT) FROM fp)) * 10000
           // (SELECT COUNT(*) FROM fp) AS exact_dup_rate_bp,
       (SELECT CAST(SUM(score) AS BIGINT) FROM q) * 100
           // (SELECT COUNT(*) FROM q) AS mean_quality_x100
"""


@register(
    "dataset_card_summary",
    tags=("ext", "llm", "pipeline", "governance", "bench"),
    oracle=_CARD_ORACLE,
)
def dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus datasheet every dataset release ships: doc
    and token counts, vocabulary size, language/source breadth, mean
    tokens per doc, exact-duplicate rate, and mean quality score — the
    numbers a Datasheets-for-Datasets card quotes, computed in one
    query with the pipeline's OWN definitions (the shared tokenizer,
    fingerprint, and gate classifier), so the card can never disagree
    with what the pipeline actually did.

    All ratios are scaled integers (x100 / basis points) — exact in
    both engines. Plan shape: one token explode feeding the count and
    the distinct-term aggregate, map-side fingerprint/score
    projections, and 1-row broadcast assembly; every aggregate is
    partial-aggregated before its exchange."""
    docs = load_table(spark, sf_dir, "documents")
    tok = pin(docs.select(F.explode(_X.tokens("text")).alias("term")))
    n_tok = tok.agg(F.count(F.lit(1)).alias("n_tokens"))
    vocab = tok.agg(F.count_distinct("term").alias("vocab_size"))
    # One combined pass for every doc-grain statistic (the scan-audit
    # flag: five separate aggregates each re-scanned the table).
    head = docs.select(
        "lang",
        "source",
        _X.fingerprint("text").alias("f"),
        _X.quality_score_expr("text").alias("score"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.count(F.lit(1)).alias("n_fp"),
        F.count_distinct("f").alias("n_distinct_fp"),
        F.sum("score").alias("q_sum"),
    )
    return (
        head.crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(vocab))
        .select(
            "n_docs",
            "n_tokens",
            "vocab_size",
            "n_langs",
            "n_sources",
            F.expr("n_tokens * 100 div n_docs").alias("tokens_per_doc_x100"),
            F.expr("(n_fp - n_distinct_fp) * 10000 div n_fp").alias("exact_dup_rate_bp"),
            F.expr("q_sum * 100 div n_docs").alias("mean_quality_x100"),
        )
    )
