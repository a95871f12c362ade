"""[EXT] Mergeable-sketch operators with exact cross-engine audits:
HyperLogLog distinct counting and a Count-Min frequency sketch.

The reference pipeline upserts enriched rows and stops
(``Main.java:61-106``); any production deployment immediately needs
cardinality ("how many distinct users did we enrich today?") and
heavy-hitter ("which keys dominate the stream?") answers that do NOT
require a full shuffle of the key space. Sketches are the standard
100 TB answer: both structures here are *mergeable* — each partition
builds a fixed-size summary, partial aggregation combines them
map-side, and only KB-sized state crosses the exchange — which is also
exactly the shape Structured Streaming state wants.

Determinism (why these sketch queries CAN sit behind the exact-hash
driver gate, unlike engine HLL++/KLL built-ins, which live in
AUDIT_REGISTRY): every hash is the portable md5-prefix convention used
by the split/sample family (``plans/pipeline_ext.py:24``), register
ranks come from integer bit-length (``bin()`` string length — identical
in Spark and DuckDB, no float log2), the harmonic sum is an exact
dyadic integer (``1 << (51 - rho)``), and the single estimate division
is assembled in double in the same literal order on both sides. The
sketch contents are therefore bit-identical across engines AND across
partitionings — the audit compares them to the exact answers computed
alongside.

HLL math: p = 10 (m = 1024 registers, ~3.25% relative error), 60-bit
hash = first 15 hex chars of md5 (fits signed int64), bucket = top 10
bits, rho = leading-zero count of the remaining 50 bits + 1 in [1, 51].
alpha_1024 = 0.7213 / (1 + 1.079/1024), frozen in parts-per-billion.
The small-range linear-counting branch (raw <= 2.5m and empty buckets
exist -> m*ln(m/V)) needs ln(), which is not portably exact across
libm implementations — but it only ever evaluates at the 1024 possible
values of V, so the whole branch is a FROZEN compile-time integer
table (milli-units), indexed by V at runtime. Same trick as the
Benford constants (plans/eval_ext.py): transcendental at build time,
pure integer lookup at run time.

CMS math: depth d = 4 salted rows, width w = 1024 columns. Counters
are exact BIGINTs; the point estimate for a key is min over the 4 rows
of its cell — always >= the true count, so ``over_cnt`` is >= 0 by
construction (a law the tests pin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkstreametl_spark.operators.text import tokens
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.sources.parquet import load_table

#: HLL precision: 2^10 registers.
HLL_P = 10
HLL_M = 1 << HLL_P
#: Remaining hash bits after the bucket prefix (60-bit hash - p).
_HLL_REM_BITS = 60 - HLL_P  # 50
#: rho ranges over [1, rem_bits + 1].
_HLL_RHO_MAX = _HLL_REM_BITS + 1  # 51
#: alpha_1024 = 0.7213 / (1 + 1.079/1024), frozen ppb (compile-time —
#: no runtime transcendental).
HLL_ALPHA_PPB = 720_540_758

#: CMS geometry: 4 salted rows x 1024 columns = 4096 exact counters.
CMS_D = 4
CMS_W = 1024
#: How many exact heavy hitters the audit probes.
_CMS_TOPK = 20

# The raw-estimate numerator, computed ONCE in Python and embedded as
# the SAME double literal on both sides: alpha * m^2 * 2^51 (the 2^51
# cancels the harmonic sum's dyadic scaling). The division by the
# data-dependent harmonic sum is then a single double op in identical
# literal order in both engines.
_EST_NUM = float(HLL_ALPHA_PPB) * float(HLL_M) * float(HLL_M) * float(1 << _HLL_RHO_MAX) / 1e9

# Small-range (linear-counting) switch threshold: raw <= 2.5 m.
_LC_THRESHOLD = 2.5 * HLL_M

# Frozen LC table: _LC_X1000[V-1] = round(m * ln(m / V) * 1000) for
# V in [1, m] empty buckets. Built at import with Python's libm; no
# runtime transcendental touches either engine.
import math as _math  # noqa: E402

_LC_X1000 = [round(HLL_M * _math.log(HLL_M / v) * 1000) for v in range(1, HLL_M + 1)]
_LC_SQL_ARR = "[" + ",".join(str(x) for x in _LC_X1000) + "]"

_HLL_ORACLE = f"""
WITH h AS (
    SELECT event_type,
           CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h60
    FROM events
), reg AS (
    SELECT event_type,
           h60 // {1 << _HLL_REM_BITS} AS bucket,
           MAX(CASE WHEN h60 % {1 << _HLL_REM_BITS} = 0 THEN {_HLL_RHO_MAX}
                    ELSE {_HLL_RHO_MAX} - length(bin(h60 % {1 << _HLL_REM_BITS})) END) AS rho
    FROM h
    GROUP BY 1, 2
), s AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RHO_MAX} - rho)) AS BIGINT)
             + ({HLL_M} - CAST(COUNT(*) AS BIGINT)) * {1 << _HLL_RHO_MAX} AS s_scaled
    FROM reg
    GROUP BY 1
), ex AS (
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
    FROM events GROUP BY 1
), raw AS (
    SELECT s.event_type, s.n_buckets, s.s_scaled, ex.n_exact,
           round({_EST_NUM!r} / s.s_scaled, 3) AS raw_est,
           {HLL_M} - s.n_buckets AS v_empty
    FROM s JOIN ex USING (event_type)
), est AS (
    SELECT *,
           CASE WHEN raw_est <= {_LC_THRESHOLD!r} AND v_empty > 0
                THEN ({_LC_SQL_ARR}[CAST(v_empty AS INTEGER)]) / 1000.0
                ELSE raw_est END AS hll_est,
           CASE WHEN raw_est <= {_LC_THRESHOLD!r} AND v_empty > 0
                THEN 'lc' ELSE 'raw' END AS method
    FROM raw
)
SELECT event_type, n_buckets, s_scaled, n_exact, method, hll_est,
       round((hll_est - n_exact) / n_exact * 10000, 1) AS err_bp
FROM est
"""


def hll_registers(df: DataFrame, key: str = "user_id", group: str = "event_type") -> DataFrame:
    """Raw HLL register table (grp, bucket, rho) for any (group, key)
    frame. max(rho) is commutative AND idempotent, so registers merge
    by the same groupBy/max whether the inputs are partitions of one
    batch or a persisted state table plus a micro-batch — the property
    ``streaming/hll_ingest.py`` builds on (and redelivery is a no-op
    by construction)."""
    h60 = F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10).cast("long")
    rem = h60 % F.lit(1 << _HLL_REM_BITS)
    rho = F.when(rem == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_RHO_MAX) - F.length(F.bin(rem))
    )
    return (
        df.select(
            F.col(group).alias("grp"),
            F.shiftright(h60, _HLL_REM_BITS).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_summarize(registers: DataFrame) -> DataFrame:
    """(grp, n_buckets, s_scaled) from a register table — the exact
    dyadic harmonic sum, with empty buckets folded in arithmetically."""
    return registers.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_MAX} - rho)"))
            + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(1 << _HLL_RHO_MAX)
        )
        .cast("long")
        .alias("s_scaled"),
    )


def hll_estimate_cols(df: DataFrame) -> DataFrame:
    """Append (hll_est, method) to any frame carrying (n_buckets,
    s_scaled): the two-branch estimator with the frozen LC table."""
    raw = df.select(
        "*",
        F.round(F.lit(_EST_NUM) / F.col("s_scaled"), 3).alias("raw_est"),
        (F.lit(HLL_M) - F.col("n_buckets")).alias("v_empty"),
    )
    lc_arr = F.array(*[F.lit(x) for x in _LC_X1000])
    small = (F.col("raw_est") <= F.lit(_LC_THRESHOLD)) & (F.col("v_empty") > 0)
    return raw.select(
        "*",
        F.when(small, F.element_at(lc_arr, F.col("v_empty").cast("int")) / F.lit(1000.0))
        .otherwise(F.col("raw_est"))
        .alias("hll_est"),
        F.when(small, F.lit("lc")).otherwise(F.lit("raw")).alias("method"),
    ).drop("raw_est", "v_empty")


def hll_sketch(events: DataFrame, key: str = "user_id", group: str = "event_type") -> DataFrame:
    """Mergeable HLL state: (group, n_buckets, s_scaled). The batch
    query below and the streaming maintenance job build the SAME
    register table, so their sketches are bit-identical (pinned by
    ``tests/test_hll_ingest.py``)."""
    return hll_summarize(hll_registers(events, key, group))


@register("hll_distinct_audit", tags=("ext", "sketch", "events", "bench"), oracle=_HLL_ORACLE)
def hll_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event type, audited
    against the exact distinct count: register census, exact harmonic
    sum (dyadic integer), the full two-branch estimator (raw harmonic /
    frozen-table linear counting), which branch fired, and the signed
    error in basis points.

    Plan shape / 100 TB story: the register table is ONE hash aggregate
    at (event_type, bucket) grain — max(rho) is map-side combinable, so
    each of 1000 executors ships at most |types| x 1024 register rows
    into the exchange regardless of event count. The harmonic sum is a
    second aggregate over that (types x 1024)-row frame (driver-scale).
    The exact side pays the real countDistinct shuffle the sketch
    avoids — putting both in one query is the point of the audit: it
    measures the 3.25%-band accuracy you'd buy at 100 TB for ~0 shuffle
    bytes. No floats until the single estimate division on exact
    integer operands, identical literal order in both engines."""
    events = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    s = hll_sketch(events).withColumnRenamed("grp", "event_type")
    ex = events.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    est = hll_estimate_cols(s.join(ex, "event_type"))
    return est.select(
        "event_type",
        "n_buckets",
        "s_scaled",
        "n_exact",
        "method",
        "hll_est",
        F.round((F.col("hll_est") - F.col("n_exact")) / F.col("n_exact") * 10000, 1).alias(
            "err_bp"
        ),
    )


def _cms_col_sql(tok_expr: str, i: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat(CAST({i} AS VARCHAR), ':', {tok_expr})), 1, 15))"
        f" AS BIGINT) % {CMS_W}"
    )


_CMS_ORACLE = f"""
WITH tf AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents) t
    GROUP BY tok
), idx AS (
    SELECT unnest([0, 1, 2, 3]) AS i
), sketch AS (
    SELECT i, {_cms_col_sql('tok', 'i')} AS col_i, CAST(SUM(cnt) AS BIGINT) AS c
    FROM tf, idx
    GROUP BY 1, 2
), cand AS (
    SELECT tok, cnt AS exact_cnt FROM tf ORDER BY cnt DESC, tok LIMIT {_CMS_TOPK}
), probes AS (
    SELECT tok, exact_cnt, i, {_cms_col_sql('tok', 'i')} AS col_i FROM cand, idx
)
SELECT p.tok, p.exact_cnt,
       CAST(MIN(s.c) AS BIGINT) AS cms_est,
       CAST(MIN(s.c) - p.exact_cnt AS BIGINT) AS over_cnt
FROM probes p JOIN sketch s ON s.i = p.i AND s.col_i = p.col_i
GROUP BY p.tok, p.exact_cnt
"""


@register("cms_heavy_hitters_audit", tags=("ext", "sketch", "documents", "bench"), oracle=_CMS_ORACLE)
def cms_heavy_hitters_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over corpus token frequencies, audited on the
    exact top-20 heavy hitters: exact count, CMS point estimate
    (min over 4 salted rows), and the non-negative overcount.

    Plan shape / 100 TB story: token frequencies are aggregated FIRST
    (partial agg absorbs the token explosion before any hashing), then
    each distinct token adds its weight to d=4 cells — the sketch is a
    4096-row aggregate no matter the corpus size, and it is mergeable:
    at 100 TB each partition's 4096-counter block combines cell-wise
    map-side, so the exchange carries KB per task. The probe join
    broadcasts 80 candidate coordinates against the 4096-row sketch.
    The exact top-20 side is the full wordcount the sketch replaces —
    same audit rationale as ``hll_distinct_audit``. Counters are exact
    BIGINTs; min >= truth by construction, so over_cnt >= 0 is a law
    the tests pin."""
    docs = load_table(spark, sf_dir, "documents")
    # Pinned: tf feeds BOTH the sketch build and the top-20 candidate
    # pick; without the pin the physical plan scans + wordcounts the
    # corpus twice (ADVICE r9).
    tf = pin(
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    def col_i(i_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(i_col.cast("string"), F.lit(":"), F.col("tok"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % CMS_W
        )

    idx = F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("i")
    hashed = tf.select("tok", "cnt", idx).select(
        "tok", "cnt", "i", col_i(F.col("i")).alias("col_i")
    )
    sketch = hashed.groupBy("i", "col_i").agg(F.sum("cnt").cast("long").alias("c"))
    cand = (
        tf.orderBy(F.col("cnt").desc(), "tok")
        .limit(_CMS_TOPK)
        .withColumnRenamed("cnt", "exact_cnt")
    )
    probes = cand.select("tok", "exact_cnt", idx).select(
        "tok", "exact_cnt", "i", col_i(F.col("i")).alias("col_i")
    )
    return (
        probes.join(F.broadcast(sketch), ["i", "col_i"])
        .groupBy("tok", "exact_cnt")
        .agg(
            F.min("c").cast("long").alias("cms_est"),
            (F.min("c") - F.col("exact_cnt")).cast("long").alias("over_cnt"),
        )
    )


# --- mergeable grid-quantile sketch -------------------------------------------
# Completes the sketch triad: HLL (distinct), CMS (frequency), and now
# quantiles. Engine KLL/t-digest built-ins are approximation-
# nondeterministic across engines (AUDIT_REGISTRY tier); this is the
# deterministic mergeable alternative: a 256-bin equal-width histogram
# over the fixed-point value domain. Each partition contributes a
# <=256-row (bin, cnt) summary, partial aggregation combines them
# map-side, and quantile q is answered from the cumulative bin counts
# as the LOWER EDGE of the first bin whose cumulative count reaches
# rank ceil(q*n/100) — so the estimate's error is bounded by one bin
# width BY CONSTRUCTION, and the audit computes estimate, exact
# rank-selected truth, and |error| side by side (err_fp <= bound_fp is
# the law the tests pin). All arithmetic is int64 on the
# floor(value * 2^20) domain: bin assignment, rank, and edges are
# integer-exact in both engines, so the sketch AND the audit sit
# behind the exact-hash gate.
_QSK_BINS = 256
_QSK_FP = 1 << 20
_QSK_QS = (50, 90, 99)

_QSK_ORACLE = f"""
WITH v AS (SELECT CAST(floor(value * {_QSK_FP}) AS BIGINT) AS vf FROM events),
st AS (SELECT MIN(vf) AS mn, MAX(vf) AS mx, COUNT(*) AS n FROM v),
b AS (
    SELECT (vf - mn) * {_QSK_BINS} // (mx - mn + 1) AS bin, COUNT(*) AS cnt
    FROM v, st GROUP BY 1
),
c AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM b),
qs AS (SELECT UNNEST([{", ".join(str(q) for q in _QSK_QS)}]) AS q),
rk AS (SELECT q, (q * n + 99) // 100 AS r, mn, mx, n FROM qs, st),
est AS (
    SELECT rk.q, rk.n, rk.mn + MIN(c.bin) * (rk.mx - rk.mn + 1) // {_QSK_BINS} AS est_fp,
           rk.r, rk.mn, rk.mx
    FROM rk JOIN c ON c.cum >= rk.r
    GROUP BY rk.q, rk.n, rk.r, rk.mn, rk.mx
),
tr AS (
    SELECT rk.q, t.vf AS true_fp
    FROM (SELECT vf, ROW_NUMBER() OVER (ORDER BY vf) AS rn FROM v) t
    JOIN rk ON t.rn = rk.r
)
SELECT CAST(est.q AS BIGINT) AS q,
       CAST(est.n AS BIGINT) AS n,
       CAST(est.est_fp AS BIGINT) AS est_fp,
       CAST(tr.true_fp AS BIGINT) AS true_fp,
       CAST(abs(est.est_fp - tr.true_fp) AS BIGINT) AS err_fp,
       CAST((est.mx - est.mn + 1) // {_QSK_BINS} + 1 AS BIGINT) AS bound_fp
FROM est JOIN tr USING (q)
"""


@register("quantile_sketch_audit", tags=("ext", "sketch", "audit"), oracle=_QSK_ORACLE)
def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 from the 256-bin mergeable grid sketch next to the
    exact rank-selected truth, with the one-bin-width error bound
    (construction + determinism in the block comment above). Plan
    shape: one scan builds the fixed-point values; min/max/count is a
    1-row broadcast; the bin histogram is a 256-row partial-aggregated
    group-by — the ONLY corpus-sized exchange, and it carries 256 rows
    out; quantile selection runs on the 256-row cumulative table. The
    exact-truth side (global rank selection) is the audit anchor, not
    the production path — at 100 TB you ship the sketch and this query
    is how you certify its error before you do."""
    v = pin(load_table(spark, sf_dir, "events").select(
        F.expr(f"CAST(floor(value * {_QSK_FP}) AS BIGINT)").alias("vf")
    ))
    st = v.agg(
        F.min("vf").alias("mn"), F.max("vf").alias("mx"), F.count(F.lit(1)).alias("n")
    )
    binned = (
        v.crossJoin(F.broadcast(st))
        .select(F.expr(f"(vf - mn) * {_QSK_BINS} div (mx - mn + 1)").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Cumulative counts over the <=256-row bin table. A global-sort
    # Window would be harmless here (parameter-sized, never
    # corpus-sized) but noisy — and Catalyst folds away a literal
    # partition key — so the prefix sum is the shared triangle-join
    # idiom: same result, no single-partition WindowExec anywhere in
    # the audit plan.
    from flinkstreametl_spark.operators.ranks import prefix_sum_small

    cum = prefix_sum_small(binned, "bin", "cnt", "cum")
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in _QSK_QS])).alias("q")
    )
    rk = qs.crossJoin(F.broadcast(st)).select(
        "q", F.expr("(q * n + 99) div 100").alias("r"), "mn", "mx", "n"
    )
    est = (
        rk.join(cum, cum["cum"] >= rk["r"])
        .groupBy("q", "n", "r", "mn", "mx")
        .agg(F.min("bin").alias("bin_lo"))
        .select(
            "q",
            "n",
            "r",
            "mn",
            "mx",
            F.expr(f"mn + bin_lo * (mx - mn + 1) div {_QSK_BINS}").alias("est_fp"),
        )
    )
    # Exact-truth rank selection without the single-partition global
    # sort (ADVICE r10): two-phase exact rank via operators/ranks.py —
    # range-repartition by vf, partition-local row_number, prefix-sum
    # offset lift. Ties in vf are rank-permutation-arbitrary either
    # way, but value-at-rank is tie-invariant, so true_fp is exact.
    from flinkstreametl_spark.operators.ranks import with_global_rank

    ranked = with_global_rank(v, ["vf"], "rn")
    tr = ranked.join(
        rk.select("q", "r"), ranked["rn"] == F.col("r")
    ).select("q", F.col("vf").alias("true_fp"))
    return (
        est.join(tr, "q")
        .select(
            F.col("q").cast("long").alias("q"),
            F.col("n").cast("long").alias("n"),
            F.col("est_fp").cast("long").alias("est_fp"),
            F.col("true_fp").cast("long").alias("true_fp"),
            F.expr("CAST(abs(est_fp - true_fp) AS BIGINT)").alias("err_fp"),
            F.expr(f"CAST((mx - mn + 1) div {_QSK_BINS} + 1 AS BIGINT)").alias("bound_fp"),
        )
    )
