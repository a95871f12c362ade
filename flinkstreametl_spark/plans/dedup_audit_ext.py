"""[EXT] Dedup-quality audits: the measurements a pipeline owner runs
BEFORE trusting a dedup configuration at 100 TB.

Three first-class queries (audits + the remediation):

- ``lsh_precision_recall_audit`` — candidate precision and
  post-verification recall of the production MinHash+LSH parameters
  (8 hashes x 4 bands, bucket cap 256) against exact ground truth,
  computed inside an id-bounded universe where the all-pairs truth is
  affordable. The same audit-inside-a-window pattern as
  ``ivf_recall_curve``: the approximation's accuracy cost is measured
  in-query, not asserted in prose.
- ``dedup_method_agreement`` — pair-set agreement between the three
  dedup families (exact fingerprint, MinHash@0.6, SimHash@hamming<=3):
  per-method pair counts plus every pairwise and 3-way intersection,
  in one row. This is the method-selection evidence: if SimHash finds
  almost nothing outside MinHash's set, running both doubles cost for
  no recall.
- ``cluster_safe_split`` — the remediation for what the leakage audit
  measures: split assignment hashed on the near-dup CLUSTER id, so no
  emitted pair can cross train/val/test; the cross-split pair count is
  recomputed in-query (zero by construction, hash-verified).

The oracle SQL reproduces the production signature chains from the
SAME constants (operators/dedup.py NUM_HASHES / ROWS_PER_BAND /
MAX_BUCKET_SIZE), so a parameter change cannot silently desynchronize
the audit from the audited pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkstreametl_spark.operators import dedup as D
from flinkstreametl_spark.operators import text as X
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.sources.parquet import load_table

_TOKS = X.sql_tokens("text")

_AUD_BAND = 25  # id-distance bound of the ground-truth universe

# DuckDB replay of the production MinHash band chain (kept = band rows
# surviving the hot-bucket cap). Same expressions as plans/llm.py's
# minhash oracle, parameterized by the production constants.
_MH_CHAIN = f"""
tok AS (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
), mh AS (
    SELECT doc_id, j,
           MIN(md5(tok || ':' || CAST(j AS VARCHAR))) AS mh
    FROM tok, (SELECT unnest(range({D.NUM_HASHES})) AS j) seeds
    GROUP BY doc_id, j
), bands AS (
    SELECT doc_id, CAST(floor(j / {D.ROWS_PER_BAND}) AS INT) AS band,
           string_agg(mh, '|' ORDER BY j) AS band_key
    FROM mh GROUP BY doc_id, CAST(floor(j / {D.ROWS_PER_BAND}) AS INT)
), kept AS (
    SELECT doc_id, band, band_key,
           COUNT(*) OVER (PARTITION BY band, band_key) AS bn
    FROM bands
    QUALIFY bn <= {D.MAX_BUCKET_SIZE}
)"""

_PR_AUDIT_ORACLE = f"""
WITH sets AS MATERIALIZED (
    SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents
),
truth AS (
    SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
        FROM sets a JOIN sets b
          ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= {_AUD_BAND}
    ) v WHERE jaccard >= 0.6
),
{_MH_CHAIN},
cand AS (
    SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM kept b1
    JOIN kept b2 ON b1.band = b2.band AND b1.band_key = b2.band_key
               AND b1.doc_id < b2.doc_id AND b2.doc_id - b1.doc_id <= {_AUD_BAND}
),
lab AS (
    SELECT COALESCE(c.one, 0) AS in_cand, COALESCE(t.one, 0) AS in_truth
    FROM (SELECT doc_a, doc_b, 1 AS one FROM cand) c
    FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS one FROM truth) t USING (doc_a, doc_b)
)
SELECT n_truth, n_cand, n_hit,
       (10000 * n_hit) // greatest(n_cand, 1) AS precision_bp,
       (10000 * n_hit) // greatest(n_truth, 1) AS recall_bp
FROM (
    SELECT CAST(COALESCE(SUM(in_truth), 0) AS BIGINT) AS n_truth,
           CAST(COALESCE(SUM(in_cand), 0) AS BIGINT) AS n_cand,
           CAST(COALESCE(SUM(in_cand * in_truth), 0) AS BIGINT) AS n_hit
    FROM lab
) m
"""


@register(
    "lsh_precision_recall_audit",
    tags=("ext", "llm", "dedup", "audit"),
    oracle=_PR_AUDIT_ORACLE,
)
def lsh_precision_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate precision and recall of the production LSH parameters,
    measured against exact Jaccard ground truth inside the id-distance
    universe (|doc_b - doc_a| <= 25) where all-pairs truth is linear in
    corpus size (25 pairs per doc), not quadratic.

    n_cand counts LSH candidates BEFORE Jaccard verification —
    precision_bp is the fraction of candidate work that survives
    verification (wasted-verification cost of the band parameters);
    recall_bp is the fraction of true >= 0.6 pairs the banded+capped
    index reaches at all (the miss cost of banding + the hot-bucket
    cap). Both in integer basis points with a greatest(x, 1) guard so
    the empty-universe edge is defined identically on both engines.

    Plan: truth from the bucketed id-band self-join (the
    ngram_jaccard_pairs blocking — the distance bound is IN the join
    key); candidates from the production ``lsh_band_keys`` chain (same
    code the dedup query runs); ONE full-outer join aligns the two
    small pair sets and a single aggregate emits the row — each pair
    set is consumed exactly once, so nothing needs pinning."""
    docs = load_table(spark, sf_dir, "documents")
    # Both truth-join sides read the token sets.
    sets = pin(D.token_sets(docs))
    bucket = F.floor(F.col("doc_id") / _AUD_BAND)
    a = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.explode(F.array(bucket, bucket + 1)).alias("id_bucket"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"), bucket.alias("id_bucket")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter.cast("double") / (F.size("toks_a") + F.size("toks_b") - inter).cast("double")
    truth = (
        a.join(b, "id_bucket")
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("doc_b") - F.col("doc_a") <= _AUD_BAND))
        .filter(jac >= 0.6)
        .select("doc_a", "doc_b")
    )

    cand = (
        D.bucket_pairs(D.lsh_band_keys(docs), "doc_id", ["band", "band_key"])
        .filter(F.col("doc_b") - F.col("doc_a") <= _AUD_BAND)
        .select("doc_a", "doc_b")
        .distinct()
    )

    lab = cand.select("doc_a", "doc_b", F.lit(1).alias("in_cand")).join(
        truth.select("doc_a", "doc_b", F.lit(1).alias("in_truth")),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    return (
        lab.agg(
            F.coalesce(F.sum("in_truth"), F.lit(0)).cast("long").alias("n_truth"),
            F.coalesce(F.sum("in_cand"), F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce(F.sum(F.col("in_cand") * F.col("in_truth")), F.lit(0))
            .cast("long")
            .alias("n_hit"),
        )
        .select(
            "n_truth",
            "n_cand",
            "n_hit",
            F.expr("(10000 * n_hit) div greatest(n_cand, 1L)").alias("precision_bp"),
            F.expr("(10000 * n_hit) div greatest(n_truth, 1L)").alias("recall_bp"),
        )
    )


_AGREE_ORACLE = f"""
WITH sets AS MATERIALIZED (
    SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents
),
fp AS (
    SELECT doc_id, {X.sql_fingerprint("text")} AS fp FROM documents
),
exact_pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
{_MH_CHAIN},
mh_cand AS (
    SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM kept b1
    JOIN kept b2 ON b1.band = b2.band AND b1.band_key = b2.band_key AND b1.doc_id < b2.doc_id
),
mh_pairs AS (
    SELECT doc_a, doc_b FROM (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(s1.toks, s2.toks)) AS DOUBLE)
                 / (len(s1.toks) + len(s2.toks) - len(list_intersect(s1.toks, s2.toks))) AS jaccard
        FROM mh_cand c
        JOIN sets s1 ON c.doc_a = s1.doc_id
        JOIN sets s2 ON c.doc_b = s2.doc_id
    ) v WHERE jaccard >= 0.6
),
sh_bits AS (
    SELECT doc_id, i,
           SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), 1 + CAST(floor(i / 4) AS INT), 1)) - 1)
                          & (1 << CAST(i % 4 AS INT))) > 0 THEN 1 ELSE -1 END) AS s
    FROM tok, (SELECT unnest(range(16)) AS i) bb
    GROUP BY doc_id, i
),
sh AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
    FROM sh_bits GROUP BY doc_id
),
sh_banded AS (
    SELECT doc_id, simhash, band, (simhash >> (band * 4)) & 15 AS band_bits
    FROM sh, (SELECT unnest(range(4)) AS band) b
    QUALIFY COUNT(*) OVER (PARTITION BY band, band_bits) <= {D.MAX_BUCKET_SIZE}
),
sh_pairs AS (
    SELECT doc_a, doc_b FROM (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sh_banded a JOIN sh_banded b
          ON a.band = b.band AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
    ) c WHERE hamming <= 3
),
tagged AS (
    SELECT doc_a, doc_b, 'exact' AS m FROM exact_pairs
    UNION ALL SELECT doc_a, doc_b, 'minhash' FROM mh_pairs
    UNION ALL SELECT doc_a, doc_b, 'simhash' FROM sh_pairs
),
flags AS (
    SELECT doc_a, doc_b,
           MAX(CASE WHEN m = 'exact' THEN 1 ELSE 0 END) AS f_ex,
           MAX(CASE WHEN m = 'minhash' THEN 1 ELSE 0 END) AS f_mh,
           MAX(CASE WHEN m = 'simhash' THEN 1 ELSE 0 END) AS f_sh
    FROM tagged GROUP BY doc_a, doc_b
)
SELECT CAST(COALESCE(SUM(f_ex), 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(SUM(f_mh), 0) AS BIGINT) AS n_minhash,
       CAST(COALESCE(SUM(f_sh), 0) AS BIGINT) AS n_simhash,
       CAST(COALESCE(SUM(f_ex * f_mh), 0) AS BIGINT) AS n_exact_minhash,
       CAST(COALESCE(SUM(f_ex * f_sh), 0) AS BIGINT) AS n_exact_simhash,
       CAST(COALESCE(SUM(f_mh * f_sh), 0) AS BIGINT) AS n_minhash_simhash,
       CAST(COALESCE(SUM(f_ex * f_mh * f_sh), 0) AS BIGINT) AS n_all3
FROM flags
"""


@register(
    "dedup_method_agreement",
    tags=("ext", "llm", "dedup", "audit"),
    oracle=_AGREE_ORACLE,
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-set agreement between the three production dedup families —
    exact fingerprint pairs, MinHash+LSH verified pairs (Jaccard >=
    0.6), SimHash pairs (hamming <= 3) — as one row: each method's
    pair count, every pairwise intersection, and the 3-way core.

    Exact-dup pairs enumerate within fingerprint groups (quadratic in
    GROUP size only; at 100 TB the production exact path keeps first
    per group instead of materializing pairs — this audit wants the
    pair view precisely to compare against the near-dup methods, and
    containment ``n_exact == n_exact_minhash`` is the expected
    sanity: byte-identical docs have Jaccard 1.0, so exact pairs the
    LSH MISSES are hot-bucket-cap casualties, quantified here).

    Plan: the three pair streams come from the same production
    operators (operators/dedup.py), are tagged and unioned — one
    hash aggregate on (doc_a, doc_b) collapses the tags to method
    flags, one global aggregate emits the row. No pair set is consumed
    twice, no driver-side collect."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", X.fingerprint("text").alias("fp"))
    fa = fp.select(F.col("doc_id").alias("doc_a"), "fp")
    fb = fp.select(F.col("doc_id").alias("doc_b"), "fp")
    exact_pairs = fa.join(fb, "fp").filter(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b")
    mh_pairs = D.minhash_lsh_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    sh_pairs = D.simhash_near_pairs(docs, max_hamming=3).select("doc_a", "doc_b")

    tagged = (
        exact_pairs.select("doc_a", "doc_b", F.lit("exact").alias("m"))
        .unionAll(mh_pairs.select("doc_a", "doc_b", F.lit("minhash").alias("m")))
        .unionAll(sh_pairs.select("doc_a", "doc_b", F.lit("simhash").alias("m")))
    )
    flags = tagged.groupBy("doc_a", "doc_b").agg(
        F.max(F.when(F.col("m") == "exact", 1).otherwise(0)).alias("f_ex"),
        F.max(F.when(F.col("m") == "minhash", 1).otherwise(0)).alias("f_mh"),
        F.max(F.when(F.col("m") == "simhash", 1).otherwise(0)).alias("f_sh"),
    )
    z = F.lit(0)
    return flags.agg(
        F.coalesce(F.sum("f_ex"), z).cast("long").alias("n_exact"),
        F.coalesce(F.sum("f_mh"), z).cast("long").alias("n_minhash"),
        F.coalesce(F.sum("f_sh"), z).cast("long").alias("n_simhash"),
        F.coalesce(F.sum(F.col("f_ex") * F.col("f_mh")), z).cast("long").alias("n_exact_minhash"),
        F.coalesce(F.sum(F.col("f_ex") * F.col("f_sh")), z).cast("long").alias("n_exact_simhash"),
        F.coalesce(F.sum(F.col("f_mh") * F.col("f_sh")), z).cast("long").alias("n_minhash_simhash"),
        F.coalesce(F.sum(F.col("f_ex") * F.col("f_mh") * F.col("f_sh")), z)
        .cast("long")
        .alias("n_all3"),
    )


# Reuse the production pair-set oracle verbatim (plans/llm.py): the
# cluster-safe split must be defined over EXACTLY the pairs the dedup
# pipeline emits, or the zero-leak guarantee is vacuous.
from flinkstreametl_spark.plans.llm import _MINHASH_ORACLE  # noqa: E402

_CL_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100"
)

_SAFE_SPLIT_ORACLE = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
{_MINHASH_ORACLE}
), edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION ALL
    SELECT doc_b AS u, doc_a AS v FROM pairs
), reach AS (
    SELECT doc_id AS node, doc_id AS label FROM documents
    UNION
    SELECT e.v AS node, r.label AS label FROM edges e JOIN reach r ON e.u = r.node
    WHERE r.label < e.v
), m AS (
    SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
), sp AS (
    SELECT doc_id, cluster_id,
           CASE WHEN {_CL_BUCKET_SQL} < 80 THEN 'train'
                WHEN {_CL_BUCKET_SQL} < 90 THEN 'val' ELSE 'test' END AS split
    FROM m
), per AS (
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
    FROM sp GROUP BY split
), crossed AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cross_pairs
    FROM pairs p JOIN sp a ON p.doc_a = a.doc_id JOIN sp b ON p.doc_b = b.doc_id
    WHERE a.split <> b.split
)
SELECT split, n_docs, n_clusters, n_cross_pairs FROM per CROSS JOIN crossed
"""


@register(
    "cluster_safe_split",
    tags=("ext", "llm", "sampling", "dedup"),
    oracle=_SAFE_SPLIT_ORACLE,
)
def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remediation for what split_leakage_audit measures: assign
    train/val/test by hashing the NEAR-DUP CLUSTER id instead of the
    document id, so a whole duplicate component lands in one split and
    no emitted near-dup pair can cross the boundary. Output: per-split
    doc and cluster counts plus the cross-split pair count — computed,
    not asserted, and zero BY CONSTRUCTION (the oracle recomputes it
    independently; a nonzero value would hash-mismatch the claim).

    The doc-id hash split is perfectly reproducible but leak-blind;
    hashing the component representative keeps reproducibility (same
    md5-bucket law, one level up) while buying leak-freedom. The cost
    is granularity — splits deviate from 80/10/10 by cluster-size
    lumps, which n_docs exposes.

    Plan: production LSH pairs -> min-label components
    (operators/dedup.neardup_clusters, adjacency pinned inside) ->
    broadcast-join labels back onto documents. The pair set feeds BOTH
    the clustering and the cross-split check, so it is pinned once
    instead of re-running the banded join twice."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = pin(
        D.minhash_lsh_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    )
    labels = D.neardup_clusters(pairs)
    cluster = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    assign = docs.join(labels, "doc_id", "left").select(
        "doc_id", cluster.alias("cluster_id")
    )
    b = (
        F.conv(F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 4), 16, 10).cast("int")
        % 100
    )
    sp = assign.select(
        "doc_id",
        "cluster_id",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )
    per = sp.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("cluster_id").alias("n_clusters"),
    )
    sa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    crossed = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count(F.lit(1)).alias("n_cross_pairs"))
    )
    return per.crossJoin(F.broadcast(crossed)).select(
        "split", "n_docs", "n_clusters", "n_cross_pairs"
    )


# --- band-parameter sweep ----------------------------------------------------
# The tuning curve lsh_precision_recall_audit samples at ONE point:
# the same 8-hash MinHash signature banded every way the hash count
# allows (rows_per_band r in {1, 2, 4, 8} -> 8/4/2/1 bands), each
# config's candidate precision/recall measured against the same exact
# ground truth in the id-band universe. The S-curve this traces
# (P[candidate] = 1 - (1 - j^r)^b) is the published LSH design tool —
# this query turns it from a formula into a measurement on the actual
# corpus, which is how a pipeline owner PICKS (b, r) before committing
# a 100 TB dedup run. The signature is computed ONCE (pinned); each
# banding re-slices the same arrays in-row, so the sweep costs one
# signature pass + 4 output-sized candidate joins, not 4 pipelines.
_SWEEP_RS = (1, 2, 4, 8)


def _sweep_oracle() -> str:
    per = []
    for r in _SWEEP_RS:
        per.append(f"""bands_{r} AS (
    SELECT doc_id, CAST(floor(j / {r}) AS INT) AS band,
           string_agg(mh, '|' ORDER BY j) AS band_key
    FROM mh GROUP BY doc_id, CAST(floor(j / {r}) AS INT)
), kept_{r} AS (
    SELECT doc_id, band, band_key,
           COUNT(*) OVER (PARTITION BY band, band_key) AS bn
    FROM bands_{r}
    QUALIFY bn <= {D.MAX_BUCKET_SIZE}
), cand_{r} AS (
    SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM kept_{r} b1
    JOIN kept_{r} b2 ON b1.band = b2.band AND b1.band_key = b2.band_key
                    AND b1.doc_id < b2.doc_id AND b2.doc_id - b1.doc_id <= {_AUD_BAND}
), m_{r} AS (
    SELECT CAST({r} AS BIGINT) AS rows_per_band,
           CAST({-(-D.NUM_HASHES // r)} AS BIGINT) AS n_bands,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
           CAST(COUNT(*) AS BIGINT) AS n_cand,
           CAST(COALESCE(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
    FROM cand_{r} c LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)""")
    rows = "\nUNION ALL\n".join(
        f"SELECT rows_per_band, n_bands, n_truth, n_cand, n_hit,"
        f" (10000 * n_hit) // greatest(n_cand, 1) AS precision_bp,"
        f" (10000 * n_hit) // greatest(n_truth, 1) AS recall_bp FROM m_{r}"
        for r in _SWEEP_RS
    )
    return f"""
WITH sets AS MATERIALIZED (
    SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents
),
truth AS MATERIALIZED (
    SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
        FROM sets a JOIN sets b
          ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= {_AUD_BAND}
    ) v WHERE jaccard >= 0.6
),
tok AS (
    SELECT doc_id, unnest(toks) AS tok FROM sets
), mh AS MATERIALIZED (
    SELECT doc_id, j,
           MIN(md5(tok || ':' || CAST(j AS VARCHAR))) AS mh
    FROM tok, (SELECT unnest(range({D.NUM_HASHES})) AS j) seeds
    GROUP BY doc_id, j
),
{",".join(per)}
{rows}
ORDER BY rows_per_band
"""


@register(
    "lsh_band_sweep_audit",
    tags=("ext", "llm", "dedup", "audit"),
    oracle=_sweep_oracle(),
)
def lsh_band_sweep_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of EVERY banding of the 8-hash MinHash
    signature (rows_per_band 1/2/4/8) against one exact ground truth —
    the measured LSH tuning curve (block comment above): more rows per
    band = fewer, stricter bands = higher precision, lower recall; the
    production config (r=2) should sit on the knee, and this audit
    checks that ON THE CORPUS rather than trusting the closed form.

    Plan shape: token sets and the 8 min-hashes are computed once and
    pinned (the signature pass is the only corpus-sized tokenize);
    each banding re-slices the pinned signature per-row and runs the
    banded self-join inside the id-band universe (output-sized,
    hot-bucket-capped); truth is the one bucketed all-pairs join the
    single-config audit already bounds. Four configs = four bounded
    joins over one materialization."""
    docs = load_table(spark, sf_dir, "documents")
    sets = D.token_sets(docs).filter(F.size("toks") > 0)
    sig = pin(sets.select("doc_id", D._sig_array(D.NUM_HASHES).alias("sig")))

    bucket = F.floor(F.col("doc_id") / _AUD_BAND)
    a = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.explode(F.array(bucket, bucket + 1)).alias("id_bucket"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"), bucket.alias("id_bucket")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter.cast("double") / (F.size("toks_a") + F.size("toks_b") - inter).cast("double")
    # One truth set; probed by all four configs.
    truth = pin(
        a.join(b, "id_bucket")
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("doc_b") - F.col("doc_a") <= _AUD_BAND))
        .filter(jac >= 0.6)
        .select("doc_a", "doc_b")
    )
    n_truth = truth.count()

    out = None
    for r in _SWEEP_RS:
        n_bands = -(-D.NUM_HASHES // r)
        band_structs = F.array(
            [
                F.struct(
                    F.lit(bi).alias("band"),
                    F.array_join(F.slice("sig", bi * r + 1, r), "|").alias("band_key"),
                )
                for bi in range(n_bands)
            ]
        )
        bands = sig.select("doc_id", F.explode(band_structs).alias("bk")).select(
            "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
        )
        cand = (
            D.bucket_pairs(bands, "doc_id", ["band", "band_key"])
            .filter(F.col("doc_b") - F.col("doc_a") <= _AUD_BAND)
            .select("doc_a", "doc_b")
            .distinct()
        )
        m = (
            cand.join(
                truth.select("doc_a", "doc_b", F.lit(1).alias("in_truth")),
                ["doc_a", "doc_b"],
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("n_cand"),
                F.coalesce(F.sum("in_truth"), F.lit(0)).cast("long").alias("n_hit"),
            )
            .select(
                F.lit(r).cast("long").alias("rows_per_band"),
                F.lit(n_bands).cast("long").alias("n_bands"),
                F.lit(n_truth).cast("long").alias("n_truth"),
                "n_cand",
                "n_hit",
                F.expr("(10000 * n_hit) div greatest(n_cand, 1L)").alias("precision_bp"),
                F.expr(f"(10000 * n_hit) div greatest({n_truth}, 1)").cast("long").alias(
                    "recall_bp"
                ),
            )
        )
        out = m if out is None else out.unionByName(m)
    return out.orderBy("rows_per_band")


# Quality dispersion WITHIN near-dup clusters: reuse the production
# pair oracle and the shared classifier fragment so the audit measures
# exactly what the pipeline clusters and scores.
from flinkstreametl_spark.plans.llm import _QSCORE_SQL  # noqa: E402
from flinkstreametl_spark.session import pin

_SPREAD_ORACLE = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
{_MINHASH_ORACLE}
), edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION ALL
    SELECT doc_b AS u, doc_a AS v FROM pairs
), reach AS (
    SELECT doc_id AS node, doc_id AS label FROM documents
    UNION
    SELECT e.v AS node, r.label AS label FROM edges e JOIN reach r ON e.u = r.node
    WHERE r.label < e.v
), m AS (
    SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
), q AS ({_QSCORE_SQL}
), per AS (
    SELECT m.cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(q.score) - MIN(q.score) AS BIGINT) AS spread
    FROM m JOIN q ON q.doc_id = m.doc_id
    GROUP BY m.cluster_id
    HAVING COUNT(*) >= 2
)
SELECT spread,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(n_members) AS BIGINT) AS n_docs
FROM per GROUP BY spread
"""


@register(
    "dedup_cluster_quality_spread",
    tags=("ext", "llm", "dedup", "quality", "audit"),
    oracle=_SPREAD_ORACLE,
)
def dedup_cluster_quality_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of the quality-score spread (max − min, 0..9) inside
    each near-dup cluster of size ≥ 2 — the measurement behind
    keep-best canonical selection (``cluster_canonical_docs``): a mass
    at spread 0 says keep-first loses nothing; mass at spread ≥ 2 is
    exactly the quality the lowest-id keeper throws away.

    Plan: the production LSH pair set (banded, capped) -> min-label
    components -> one broadcast-joined map-side score projection
    (operators/text.quality_score_expr — the shared gate classifier) ->
    a cluster-keyed aggregate and a ≤ 10-row spread histogram. No
    corpus-sized shuffle beyond the pair machinery itself."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    labels = D.neardup_clusters(pairs)
    scored = docs.select("doc_id", X.quality_score_expr("text").alias("score"))
    per = (
        scored.join(labels, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (F.max("score") - F.min("score")).alias("spread"),
        )
        .filter(F.col("n_members") >= 2)
    )
    return per.groupBy("spread").agg(
        F.count(F.lit(1)).alias("n_clusters"), F.sum("n_members").alias("n_docs")
    )
