"""[EXT] Deduplication operators: exact (fingerprint groupBy),
MinHash+LSH near-dup, SimHash, bounded n-gram Jaccard (SURVEY.md §2.9 /
north-star).

Scale design
------------
- Exact dedup: hash-groupBy on a fingerprint — one shuffle keyed by the
  digest; at 100 TB this is the classic dedup-by-content-hash sweep.
- MinHash+LSH: shingle -> K min-hashes -> band keys -> self-join on
  (band, band_key). Only documents sharing a band bucket are paired, so
  the candidate set is output-sized, not O(n²); the exact Jaccard
  verification runs only on candidates. Hashes are md5 strings (not
  engine-native hash()) so the DuckDB oracle reproduces them exactly.
- SimHash: 16-bit signature from per-token md5 nibbles; near-dup pairs
  = hamming distance <= d via xor/bit_count, candidates from the
  multi-index pigeonhole equi-join (d+1 bit bands; any pair within d
  agrees on some band) — exact recall, never a cross join.
- Hot-key guard: every candidate self-join in the engine (LSH, SimHash,
  media fingerprints, blocking keys) is ``bucket_pairs``, which drops
  buckets above MAX_BUCKET_SIZE first — one boilerplate bucket
  otherwise turns the candidate join quadratic on a single key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.operators.text import distinct_tokens, fingerprint
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.sources.parquet import ensure_parallelism

# 8 hashes in 4 bands of 2: at the 0.6 Jaccard threshold the candidate
# probability is 1-(1-j²)⁴ ≈ 0.86 (vs 0.59 for 2 bands of 4) — recall
# matters more than band selectivity because candidates are verified
# with exact Jaccard anyway.
NUM_HASHES = 8
ROWS_PER_BAND = 2  # -> 4 bands

# Band buckets larger than this are dropped before the candidate
# self-join. A hot band key (boilerplate, empty docs, template text)
# otherwise produces a quadratic self-join on a single key — the one
# thing that does not survive 100 TB. Oversized buckets carry almost no
# signal anyway: their members are typically exact or near-exact
# duplicates that the cheaper exact-fingerprint pass (run it first)
# already collapses.
MAX_BUCKET_SIZE = 256


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup inventory: one row per distinct content fingerprint
    with its cardinality and keeper (min id)."""
    return (
        docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper"))
    )


def dedup_keep_first(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: keep the lowest-id document per fingerprint
    (deterministic, unlike dropDuplicates' arbitrary pick)."""
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        docs.withColumn("fp", fingerprint(text_col))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def token_sets(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(F.col(id_col), distinct_tokens(text_col).alias("toks"))


def _sig_array(num_hashes: int):
    """array<string> of the document's min-hashes, computed per-row:
    sig[j] = MIN over tokens t of md5(t || ':' || j). Pure higher-order
    functions over the already-materialized token array — whole-stage
    codegen, no explode, no shuffle. The md5 family is engine-portable
    and MIN over hex strings is exact, so the DuckDB oracle reproduces
    signatures bit-for-bit."""
    return F.array(
        [
            F.array_min(
                F.transform(
                    F.col("toks"),
                    lambda t: F.md5(F.concat(t, F.lit(":"), F.lit(str(j))).cast("binary")),
                )
            )
            for j in range(num_hashes)
        ]
    )


def lsh_band_keys(
    docs_or_sigs: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = ROWS_PER_BAND,
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """(doc, band, band_key) rows; band key = ordered concatenation of
    the band's min-hashes. Computed entirely per-row (signature array ->
    slice per band -> one generator explode of #bands rows) — the first
    exchange in the whole LSH pipeline is the candidate self-join's."""
    n_bands = -(-num_hashes // rows_per_band)
    toks = token_sets(docs_or_sigs, id_col, text_col).filter(F.size("toks") > 0)
    sig = toks.select(F.col(id_col), _sig_array(num_hashes).alias("sig"))
    bands = F.array(
        [
            F.struct(
                F.lit(b).alias("band"),
                F.array_join(
                    F.slice("sig", b * rows_per_band + 1, rows_per_band), "|"
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(bands).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def cap_buckets(
    rows: DataFrame, bucket_cols: list[str], cap: int | None = MAX_BUCKET_SIZE
) -> DataFrame:
    """``rows`` without the buckets (rows sharing ``bucket_cols``) that
    have more than ``cap`` members; ``None`` keeps every bucket. The
    count is a window over the bucket columns, so it reuses the
    partitioning a join on them needs anyway, and a hot bucket costs
    one linear scan. Dropping by size is arrival-order-independent, so
    the oracles mirror it with ``QUALIFY COUNT(*) OVER (...) <= cap``."""
    if cap is None:
        return rows
    n = F.count(F.lit(1)).over(Window.partitionBy(*bucket_cols))
    return rows.withColumn("_bn", n).filter(F.col("_bn") <= cap).drop("_bn")


def _side(col: str, side: str) -> str:
    return f"{col.removesuffix('_id')}_{side}"


def bucket_pairs(
    rows: DataFrame, id_col: str, bucket_cols: list[str], cap: int | None = MAX_BUCKET_SIZE
) -> DataFrame:
    """Every pair of rows in the same bucket: the candidate step of
    every near-dup and blocking query.

    Buckets above ``cap`` are dropped first (``cap_buckets``), so a
    single hot key cannot generate size² candidates in one task. The
    capped frame is pinned eagerly, because both join sides read it.
    The self-join on ``bucket_cols`` keeps ``id_a < id_b``.

    Output: the bucket columns, then every other column ``c`` twice, as
    ``<c>_a`` and ``<c>_b``, where a trailing ``_id`` is dropped from
    ``c`` (``doc_id`` -> ``doc_a``/``doc_b``). A pair that shares
    several buckets appears once per bucket."""
    kept = pin(cap_buckets(rows, bucket_cols, cap))
    others = [c for c in kept.columns if c not in bucket_cols]

    def side(s: str) -> DataFrame:
        return kept.select(*(F.col(c).alias(_side(c, s)) for c in others), *bucket_cols)

    return side("a").join(side("b"), bucket_cols).filter(
        F.col(_side(id_col, "a")) < F.col(_side(id_col, "b"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    num_hashes: int = NUM_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    max_bucket_size: int | None = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidate generation + exact Jaccard
    verification. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    Candidates come from ``bucket_pairs`` on (band, band_key), capped at
    ``max_bucket_size`` (``None`` disables)."""
    bands = lsh_band_keys(docs, id_col, rows_per_band, text_col, num_hashes)
    bands = bands.withColumnRenamed(id_col, "doc_id")
    cand = (
        bucket_pairs(bands, "doc_id", ["band", "band_key"], max_bucket_size)
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Both pair sides read the token sets (doc-scale).
    sets = pin(token_sets(docs, id_col, text_col))
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("toks").alias("toks_a"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def neardup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over a near-dup pair graph -> (doc_id,
    cluster_id) with cluster_id = min doc id in the component: the step
    a real dedup pipeline runs AFTER pair generation, since near-dup is
    not transitive but removal must be (A~B, B~C => keep one of
    {A,B,C}).

    Iterative min-label propagation, all DataFrame ops: each round
    pushes labels across edges and takes the per-node min; converges in
    O(graph diameter) rounds (near-dup components are dense, so
    typically 2-4). Each round is one shuffle join + one aggregate;
    ``pin`` cuts lineage so round N's plan doesn't replay
    rounds 1..N-1. This is the simple 100 TB-safe formulation; the
    large-star/small-star variant halves rounds on high-diameter graphs
    but near-dup graphs are not that.
    """
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # Every round reads the edge list; unpinned, each re-runs pair generation.
    sym = pin(edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))))
    labels = pin(
        sym.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    for _ in range(max_iterations):
        nbr = sym.join(labels, sym.src == labels.id).select(
            F.col("dst").alias("id"), F.col("label")
        )
        new_labels = pin(
            nbr.union(labels).groupBy("id").agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """16-bit SimHash signature per document.

    Per distinct token, take the first 4 hex chars of md5(token); bit i
    contributes +1/-1 according to nibble bit ((hex_digit >> (i%4)) & 1
    of hex char i//4). Signature bit i is set iff the sum over tokens is
    positive. Pure integer/string builtins — portable to the oracle.

    Computed entirely PER ROW with higher-order functions (the
    ``_sig_array`` MinHash pattern): one ``aggregate`` over the token
    array carries a `bits`-wide array of contribution sums, then the
    signature folds out of the sums — zero explodes, zero shuffles,
    whole-stage codegen. The previous explode(tokens) × explode(bits)
    formulation shuffled ~|tokens|×bits rows through two aggregations
    (~40M at sf0.1) and was the bench's hottest operator; the semantics
    and the DuckDB oracle are unchanged (integer sums are
    order-independent)."""
    # ceil(bits/4) hex chars must fit a signed 64-bit int after conv():
    # 16 chars can exceed it and the non-ANSI cast would silently NULL
    # every signature. 15 hex chars (60 bits) is the safe maximum.
    if not 1 <= bits <= 60:
        raise ValueError(f"simhash bits must be in [1, 60] (conv() of {-(-bits // 4)} hex chars overflows bigint): {bits}")
    # A digest per token is CPU-bound: spread a badly-split input
    # across cores before the hot map (measured 5.2s -> 1.5s at sf0.1,
    # where the fixture parquet is one unsplittable row group).
    toks = token_sets(ensure_parallelism(docs), id_col, text_col).filter(F.size("toks") > 0)
    # md5 once per token -> the first 4 hex chars as one 16-bit int
    # (HOF lambdas get no common-subexpression elimination, so per-bit
    # md5 calls would run `bits` digests per token). Bit i of the
    # oracle's scheme — nibble bit (i%4) of hex char (i//4), the
    # leftmost hex char being the HIGH nibble of the conv() value —
    # is bit 4*(3 - i//4) + (i%4) of that int.
    n_chars = -(-bits // 4)
    shifts = [4 * (n_chars - 1 - i // 4) + (i % 4) for i in range(bits)]
    contrib_terms = ", ".join(
        f"CASE WHEN (shiftright(v, {s}) & 1) = 1 THEN 1 ELSE -1 END" for s in shifts
    )
    sums = F.expr(
        f"""aggregate(
            transform(toks, t -> cast(conv(substring(md5(cast(t as binary)), 1, {n_chars}), 16, 10) as bigint)),
            array_repeat(cast(0 as bigint), {bits}),
            (acc, v) -> zip_with(acc, array({contrib_terms}), (a, c) -> a + cast(c as bigint))
        )"""
    )
    with_sums = toks.select(F.col(id_col), sums.alias("_sums"))
    sig = sum(
        (
            F.when(F.element_at("_sums", i + 1) > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for i in range(bits)
        ),
        start=F.lit(0).cast("long"),
    )
    return with_sums.select(F.col(id_col), sig.alias("simhash"))


def hamming_pairs(
    sig: DataFrame,
    id_col: str,
    fp_col: str,
    n_bands: int,
    width: int,
    max_hamming: int = 3,
    cap: int | None = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Pairs of ``sig`` rows whose integer fingerprints ``fp_col`` are
    within ``max_hamming`` bits: ``(<id>_a, <id>_b, hamming)`` named as
    in ``bucket_pairs``, with ``<id>_a < <id>_b``.

    The multi-index (pigeonhole) search: the fingerprint is cut into
    ``n_bands`` bands of ``width`` bits, and ``bucket_pairs`` joins on
    (band, band_bits). With ``n_bands > max_hamming`` any pair within
    the budget agrees exactly on at least one band, so recall is exact
    up to the bucket cap; the hamming filter and the pair-distinct run
    on candidates only, never on a cross join."""
    band_idx = F.explode(F.array([F.lit(i) for i in range(n_bands)])).alias("band")
    banded = sig.select(id_col, fp_col, band_idx).withColumn(
        "band_bits", F.expr(f"({fp_col} >> (band * {width})) & {(1 << width) - 1}")
    )
    a, b = _side(id_col, "a"), _side(id_col, "b")
    ham = F.expr(f"bit_count({_side(fp_col, 'a')} ^ {_side(fp_col, 'b')})")
    return (
        bucket_pairs(banded, id_col, ["band", "band_bits"], cap)
        .select(a, b, ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 16,
    max_bucket_size: int | None = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Pairs of documents whose SimHash signatures are within
    ``max_hamming`` bits: ``hamming_pairs`` over ``max_hamming + 1``
    bands, capped at ``max_bucket_size`` (``None`` disables)."""
    sh = simhash(docs, id_col, text_col, bits).withColumnRenamed(id_col, "doc_id")
    n_bands = max_hamming + 1
    width = -(-bits // n_bands)  # ceil: last band may be narrower
    return hamming_pairs(sh, "doc_id", "simhash", n_bands, width, max_hamming, max_bucket_size)


def incremental_lsh_pairs(
    old_bands: DataFrame,
    new_docs: DataFrame,
    all_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    num_hashes: int = NUM_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    max_bucket_size: int | None = MAX_BUCKET_SIZE,
    dedupe_redelivered: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup maintenance for continuous ingest: given the
    persisted band index of the corpus so far (``old_bands``, the
    output schema of ``lsh_band_keys``) and a batch of NEW documents,
    return ``(new_pairs, updated_bands)`` where ``new_pairs`` is every
    near-dup pair that involves at least one new document.

    ``dedupe_redelivered`` (default on) makes the operator safe under
    at-least-once delivery: a doc re-delivered in a later batch (CDC
    replay, source retry) is anti-joined away against the ids already
    in the band index BEFORE signature computation, so the index stays
    one-entry-per-(doc, band) and re-deliveries cost one anti-join
    probe instead of duplicate signatures, duplicate index rows, and
    re-emitted pairs. The probe reuses the index itself as the seen-id
    set (distinct over doc_id — one small aggregation on data already
    partitioned by the join key), so there is no second state table.

    This is the 100 TB shape for streaming dedup: per batch the work is
    |new| signature computations + a join of the new bands against the
    accumulated index — NOT a recompute over the corpus. The band index
    is the only state, it appends (no rewrite), and it lives in storage
    (partition by band for pruning), not executor memory. Candidate
    generation joins new-vs-all, so new-new and new-old pairs both
    surface; old-old pairs were already emitted by earlier batches —
    the pair stream over time equals the batch recompute (proven in
    tests/test_incremental_dedup.py).

    The hot-bucket cap applies to the UNION index, exactly as in the
    batch path: a boilerplate bucket fed by many batches is dropped
    once it exceeds the cap, bounding every future batch's join fan-out.
    """
    if dedupe_redelivered:
        seen_ids = old_bands.select(id_col).distinct()
        new_docs = new_docs.join(seen_ids, id_col, "left_anti")
    # Both the probe side and the updated index read the new signatures;
    # lazy, as an eager pin costs one job per replay batch.
    new_bands = pin(lsh_band_keys(new_docs, id_col, rows_per_band, text_col, num_hashes), eager=False)
    updated = old_bands.unionByName(new_bands)
    capped = cap_buckets(updated, ["band", "band_key"], max_bucket_size)
    nb = new_bands.select(F.col(id_col).alias("doc_new"), "band", "band_key")
    ab = capped.select(F.col(id_col).alias("doc_any"), "band", "band_key")
    cand = (
        nb.join(ab, ["band", "band_key"])
        .filter(F.col("doc_new") != F.col("doc_any"))
        .select(
            F.least("doc_new", "doc_any").alias("doc_a"),
            F.greatest("doc_new", "doc_any").alias("doc_b"),
        )
        .distinct()
    )
    # Both pair sides read the token sets; lazy, so only the scanned part
    # of the whole seen corpus is materialized.
    sets = pin(token_sets(all_docs, id_col, text_col), eager=False)
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("toks").alias("toks_a"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs, updated
