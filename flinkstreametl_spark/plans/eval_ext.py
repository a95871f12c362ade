"""[EXT] Product-analytics evaluation operators: weekly cohort
retention, ordered funnel conversion, Benford first-digit audit, and a
Mann-Whitney rank test per source.

These are the measurement queries a production deployment of the
reference's enriched event stream feeds into dashboards (the reference
stops at enrich-and-upsert, ``Main.java:61-106``; SURVEY.md §2.9
schedules the analytics surface):

- Cohort retention: users grouped by first-activity week, then the
  share of each cohort still active k weeks later. The canonical
  growth-accounting matrix; week indexing is integer epoch-week so both
  engines agree without calendar semantics.
- Funnel: strictly ORDERED step conversion (view -> click AT OR AFTER
  the first view -> purchase at or after that click) — an unordered
  count-per-type overstates conversion whenever steps arrive out of
  order. Each stage is a per-user min over the previous stage's
  timestamp, so the whole funnel is three user-keyed aggregates that
  reuse one hash partitioning.
- Benford: first-significant-digit distribution of line-item prices vs
  the Benford expectation — the standard fabricated-data / ingestion-
  corruption screen. Expected shares are compile-time integer
  constants (ppm), so the comparison is log-free at runtime.
- Mann-Whitney U: nonparametric are-these-samples-from-the-same-
  distribution test of each source's token-count distribution against
  the rest of the corpus. Doubled midranks keep tie handling in exact
  integers (a float average rank would hash-differ across engines).

All outputs are integers (counts, basis points, ppm, doubled ranks) —
bit-identical across engines and partitionings by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.operators import text as X
from flinkstreametl_spark.operators.windows import epoch_micros
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.sources.parquet import load_table

#: Integer epoch-week: microseconds since epoch div one week. Epoch day
#: zero is a Thursday — the bucket BOUNDARY is arbitrary but identical
#: in both engines, which is all a cohort index needs.
_WEEK_US = 7 * 86_400_000_000

_COHORT_ORACLE = f"""
WITH uw AS (
    SELECT DISTINCT user_id, epoch_us(ts) // {_WEEK_US} AS week
    FROM events
), c AS (
    SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
), cs AS (
    SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort
    FROM c GROUP BY cohort_week
), a AS (
    SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM uw JOIN c USING (user_id)
    GROUP BY 1, 2
)
SELECT a.cohort_week, a.week_offset, a.n_active, cs.n_cohort,
       a.n_active * 10000 // cs.n_cohort AS retention_bp
FROM a JOIN cs USING (cohort_week)
"""


@register("cohort_retention_matrix", tags=("ext", "analytics", "events"), oracle=_COHORT_ORACLE)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: for each first-activity week
    (cohort) and week offset k, the count and basis-point share of the
    cohort active in week cohort+k. Offset 0 is 10000 bp by definition
    — a cheap self-check the tests pin.

    Plan shape: one (user, week) distinct, then every later step is
    keyed on user_id or on the (|weeks|²)-sized matrix — the user-keyed
    aggregates reuse one hash partitioning, and the cohort-size join at
    the end is a broadcast of |weeks| rows. No corpus-sized window, no
    driver loop; at 100 TB the matrix stays ~weeks² rows regardless of
    event volume."""
    events = load_table(spark, sf_dir, "events")
    # Three consumers (cohort, sizes via cohort, active).
    uw = pin(
        events.select("user_id", epoch_micros(events, "ts").alias("us"))
        .select("user_id", F.expr(f"us div {_WEEK_US}").alias("week"))
        .distinct()
    )
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n_cohort"))
    active = (
        uw.join(cohort, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return active.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        F.expr("n_active * 10000 div n_cohort").alias("retention_bp"),
    )


_FUNNEL_ORACLE = """
WITH s1 AS (
    SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t1
    WHERE e.event_type = 'click'
    GROUP BY e.user_id
), s3 AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t2
    WHERE e.event_type = 'purchase'
    GROUP BY e.user_id
)
SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS n_users,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_view,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_click,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_purchase,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) * 10000
           // (SELECT COUNT(*) FROM s1) AS click_bp,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) * 10000
           // (SELECT COUNT(*) FROM s2) AS purchase_bp,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) * 10000
           // (SELECT COUNT(*) FROM s1) AS funnel_bp
"""


@register("funnel_conversion_steps", tags=("ext", "analytics", "events"), oracle=_FUNNEL_ORACLE)
def funnel_conversion_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: a user converts a step
    only with an event AT OR AFTER their previous step's first
    timestamp. Returns one row of stage counts and step/end-to-end
    conversion in basis points.

    Plan shape: three per-user min-aggregates, each probing the events
    scan filtered to ONE event type and joined to the (shrinking)
    previous stage on user_id — all three shuffles share the user_id
    key, and each stage's frame is no larger than the user count. The
    final row assembles six 1-row aggregates via broadcast joins."""
    events = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # Each stage feeds both the next stage's join and its own count.
    s1 = pin(
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = pin(
        events.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = pin(
        events.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n_users = events.agg(F.count_distinct("user_id").alias("n_users"))
    c1 = s1.agg(F.count(F.lit(1)).alias("n_view"))
    c2 = s2.agg(F.count(F.lit(1)).alias("n_click"))
    c3 = s3.agg(F.count(F.lit(1)).alias("n_purchase"))
    return (
        n_users.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(c3))
        .select(
            "n_users",
            "n_view",
            "n_click",
            "n_purchase",
            F.expr("n_click * 10000 div n_view").alias("click_bp"),
            F.expr("n_purchase * 10000 div n_click").alias("purchase_bp"),
            F.expr("n_purchase * 10000 div n_view").alias("funnel_bp"),
        )
    )


#: floor(log10(1 + 1/d) * 1e6) for d = 1..9 — Benford's law expected
#: first-digit shares in ppm, frozen as integer constants so the
#: runtime comparison is log-free (repo exactness convention).
_BENFORD_PPM = {1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181, 6: 66946, 7: 57991, 8: 51152, 9: 45757}

_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
) + " END"

_BENFORD_ORACLE = f"""
WITH d AS (
    SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
    FROM lineitem
), h AS (
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
), t AS (
    SELECT CAST(SUM(n) AS BIGINT) AS total FROM h
)
SELECT digit, n,
       n * 1000000 // total AS share_ppm,
       CAST({_BENFORD_CASE_SQL} AS BIGINT) AS benford_ppm,
       abs(n * 1000000 // total - ({_BENFORD_CASE_SQL})) AS dev_ppm
FROM h, t
"""


@register("benford_first_digit_audit", tags=("ext", "audit", "dq"), oracle=_BENFORD_ORACLE)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit histogram of l_extendedprice vs Benford's
    law — the classic fabricated-data / corrupted-feed screen for a
    financial fact table. Digit extraction goes through
    floor -> BIGINT -> string (exact in both engines for the >= 1
    prices here; no float log10, whose boundary rounding differs).

    Plan shape: one map-side digit projection, one 9-bucket aggregate,
    and a broadcast of the 1-row total — the scan reads a single
    column, and the output is 9 rows at any data scale."""
    li = load_table(spark, sf_dir, "lineitem")
    digit = F.substring(F.floor("l_extendedprice").cast("long").cast("string"), 1, 1).cast("long")
    h = li.select(digit.alias("digit")).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = h.agg(F.sum("n").alias("total"))
    benford = F.coalesce(
        *[F.when(F.col("digit") == d, F.lit(p)) for d, p in _BENFORD_PPM.items()]
    ).cast("long")
    return (
        h.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.expr("n * 1000000 div total").alias("share_ppm"),
            benford.alias("benford_ppm"),
            F.abs(F.expr("n * 1000000 div total") - benford).alias("dev_ppm"),
        )
    )


_MWU_ORACLE = f"""
WITH v AS (
    SELECT source, CAST(len({X.sql_tokens("text")}) AS BIGINT) AS val FROM documents
), hv AS (
    SELECT val, CAST(COUNT(*) AS BIGINT) AS cnt_all FROM v GROUP BY val
), r AS (
    SELECT val, cnt_all,
           CAST(COALESCE(SUM(cnt_all) OVER (ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cnt_less
    FROM hv
), tot AS (
    SELECT CAST(SUM(cnt_all) AS BIGINT) AS n_total,
           CAST(SUM(cnt_all * cnt_all * cnt_all - cnt_all) AS BIGINT) AS tie_correction
    FROM hv
), sv AS (
    SELECT source, val, CAST(COUNT(*) AS BIGINT) AS cnt_s FROM v GROUP BY source, val
)
SELECT sv.source,
       CAST(SUM(sv.cnt_s) AS BIGINT) AS n_s,
       CAST(tot.n_total - SUM(sv.cnt_s) AS BIGINT) AS n_rest,
       CAST(SUM(sv.cnt_s * (2 * r.cnt_less + r.cnt_all + 1)) AS BIGINT) AS r_s_x2,
       CAST(SUM(sv.cnt_s * (2 * r.cnt_less + r.cnt_all + 1))
            - SUM(sv.cnt_s) * (SUM(sv.cnt_s) + 1) AS BIGINT) AS u_s_x2,
       CAST(2 * SUM(sv.cnt_s) * (tot.n_total - SUM(sv.cnt_s))
            - (SUM(sv.cnt_s * (2 * r.cnt_less + r.cnt_all + 1))
               - SUM(sv.cnt_s) * (SUM(sv.cnt_s) + 1)) AS BIGINT) AS u_rest_x2,
       tot.tie_correction
FROM sv JOIN r ON sv.val = r.val CROSS JOIN tot
GROUP BY sv.source, tot.n_total, tot.tie_correction
"""


@register("mannwhitney_source_lengths", tags=("ext", "audit", "llm", "stats"), oracle=_MWU_ORACLE)
def mannwhitney_source_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U of each source's token-count distribution vs the
    rest of the corpus — the nonparametric does-this-feed-look-different
    audit (robust where the mean/variance screens aren't). Rank sums
    use DOUBLED midranks (2·cnt_less + cnt_eq + 1 per tie group), so
    every statistic is an exact integer; the tie-correction term
    Σ(t³−t) ships alongside so a consumer can form the z-score.
    U_s + U_rest = 2·n_s·n_rest is an output-level invariant the tests
    pin.

    Plan shape: token counting is map-side; the corpus collapses to a
    |distinct lengths|-row histogram whose prefix sum runs as a window
    on THAT bounded frame (never a corpus-wide sort — the repo's
    global-Window rule); the per-(source, length) aggregate joins the
    broadcast histogram and reduces to |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    v = pin(docs.select(
        "source", X.token_count("text").cast("long").alias("val")
    ))  # two consumers: the global and per-source histograms
    hv = v.groupBy("val").agg(F.count(F.lit(1)).alias("cnt_all"))
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, -1)
    r = hv.select(
        "val",
        "cnt_all",
        F.coalesce(F.sum("cnt_all").over(w), F.lit(0)).alias("cnt_less"),
    )
    tot = hv.agg(
        F.sum("cnt_all").alias("n_total"),
        F.sum(F.col("cnt_all") * F.col("cnt_all") * F.col("cnt_all") - F.col("cnt_all")).alias(
            "tie_correction"
        ),
    )
    sv = v.groupBy("source", "val").agg(F.count(F.lit(1)).alias("cnt_s"))
    per = (
        sv.join(F.broadcast(r), "val")
        .groupBy("source")
        .agg(
            F.sum("cnt_s").alias("n_s"),
            F.sum(F.col("cnt_s") * (2 * F.col("cnt_less") + F.col("cnt_all") + 1)).alias("r_s_x2"),
        )
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_s",
        (F.col("n_total") - F.col("n_s")).alias("n_rest"),
        "r_s_x2",
        (F.col("r_s_x2") - F.col("n_s") * (F.col("n_s") + 1)).alias("u_s_x2"),
        (
            2 * F.col("n_s") * (F.col("n_total") - F.col("n_s"))
            - (F.col("r_s_x2") - F.col("n_s") * (F.col("n_s") + 1))
        ).alias("u_rest_x2"),
        "tie_correction",
    )


# --- Activity-lifetime survival curve ----------------------------------------

_SURVIVAL_ORACLE = f"""
WITH lt AS (
    SELECT user_id,
           (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // {86_400_000_000} AS lifetime_days
    FROM events GROUP BY user_id
), h AS (
    SELECT lifetime_days, CAST(COUNT(*) AS BIGINT) AS n_users FROM lt GROUP BY lifetime_days
), tot AS (
    SELECT CAST(SUM(n_users) AS BIGINT) AS n_total FROM h
)
SELECT h.lifetime_days, h.n_users,
       CAST(SUM(h2.n_users) AS BIGINT) AS n_surviving,
       CAST(SUM(h2.n_users) AS BIGINT) * 10000 // tot.n_total AS survival_bp
FROM h JOIN h h2 ON h2.lifetime_days >= h.lifetime_days CROSS JOIN tot
GROUP BY h.lifetime_days, h.n_users, tot.n_total
"""


@register("churn_cohort_survival", tags=("ext", "analytics", "events"), oracle=_SURVIVAL_ORACLE)
def churn_cohort_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-lifetime survival curve: per observed lifetime t (whole
    days between a user's first and last event), how many users and
    what basis-point share of the base remained active AT LEAST t days
    — the Kaplan-Meier-style churn readout (no censoring model: the
    fixture window closes every lifetime, which the docstring of a
    production deployment would relax by treating last-window users as
    censored).

    Plan shape: one user-keyed min/max aggregate over events, a
    lifetime histogram (calendar-bounded ≤ |days| rows), and a
    descending cumulative sum as a window on THAT bounded frame (the
    repo's global-Window rule). The suffix-sum self-join in the oracle
    is the same bounded-frame computation spelled join-wise."""
    events = load_table(spark, sf_dir, "events")
    us = epoch_micros(events, "ts")
    lt = (
        events.select("user_id", us.alias("us"))
        .groupBy("user_id")
        .agg(F.expr("(max(us) - min(us)) div 86400000000").alias("lifetime_days"))
    )
    h = lt.groupBy("lifetime_days").agg(F.count(F.lit(1)).alias("n_users"))
    tot = h.agg(F.sum("n_users").alias("n_total"))
    w = Window.orderBy(F.col("lifetime_days").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        h.select(
            "lifetime_days",
            "n_users",
            F.sum("n_users").over(w).alias("n_surviving"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "lifetime_days",
            "n_users",
            "n_surviving",
            F.expr("n_surviving * 10000 div n_total").alias("survival_bp"),
        )
    )


_CRAMERS_ORACLE = """
WITH cells AS (
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
    FROM documents GROUP BY 1, 2
), rm AS (
    SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1
), cm AS (
    SELECT source, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1
), tot AS (
    SELECT CAST(SUM(o) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM cells
), terms AS (
    SELECT CAST(floor(
               CAST(cells.o * tot.n - rm.r * cm.c AS DOUBLE)
               * CAST(cells.o * tot.n - rm.r * cm.c AS DOUBLE)
               / CAST(rm.r * cm.c AS DOUBLE) / CAST(tot.n AS DOUBLE) * 1000000
           ) AS BIGINT) AS chi2_term_ppm
    FROM cells JOIN rm USING (lang) JOIN cm USING (source) CROSS JOIN tot
)
SELECT tot.n AS n_docs, tot.n_langs, tot.n_sources,
       (SELECT CAST(SUM(chi2_term_ppm) AS BIGINT) FROM terms) AS chi2_ppm,
       (tot.n_langs - 1) * (tot.n_sources - 1) AS dof,
       round(sqrt(
           CAST((SELECT SUM(chi2_term_ppm) FROM terms) AS DOUBLE) / 1000000.0
           / CAST(tot.n * least(tot.n_langs - 1, tot.n_sources - 1) AS DOUBLE)
       ), 6) AS cramers_v
FROM tot
"""


@register("cramers_v_lang_source", tags=("ext", "analytics", "documents", "stats"), oracle=_CRAMERS_ORACLE)
def cramers_v_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of the corpus's language x source
    contingency, summarized as Cramér's V in [0, 1] — the one-number
    answer to "does where a document came from predict its language?",
    which decides whether per-source language quotas
    (``quota_sample_per_lang``) are load-bearing or redundant.

    Exactness: each cell's (O*n - r*c) is an exact BIGINT (bounded by
    n^2 ~ 10^12 at sf1, far inside int64); the per-cell chi-square term
    is evaluated in double in the SAME literal order in both engines
    and floored to ppm — so the cross-cell SUM is an integer sum,
    immune to float accumulation order (the trap a naive SUM(double)
    would hit under partitioned execution). One sqrt at the end.

    Plan: one hash aggregate at the (lang, source) cell grain —
    margins and totals are re-aggregations of the CELL table (KB-sized
    at any corpus size), never a second scan of documents."""
    docs = load_table(spark, sf_dir, "documents")
    cells = pin(docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o")))
    rm = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("r"))
    cm = cells.groupBy("source").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    d = F.col("o") * F.col("n") - F.col("r") * F.col("c")
    term = F.floor(
        d.cast("double")
        * d.cast("double")
        / (F.col("r") * F.col("c")).cast("double")
        / F.col("n").cast("double")
        * 1_000_000
    ).cast("long")
    chi2 = (
        cells.join(F.broadcast(rm), "lang")
        .join(F.broadcast(cm), "source")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("chi2_term_ppm"))
        .agg(F.sum("chi2_term_ppm").cast("long").alias("chi2_ppm"))
    )
    return tot.crossJoin(F.broadcast(chi2)).select(
        F.col("n").alias("n_docs"),
        "n_langs",
        "n_sources",
        "chi2_ppm",
        ((F.col("n_langs") - 1) * (F.col("n_sources") - 1)).alias("dof"),
        F.round(
            F.sqrt(
                F.col("chi2_ppm").cast("double")
                / F.lit(1_000_000.0)
                / (
                    F.col("n") * F.least(F.col("n_langs") - 1, F.col("n_sources") - 1)
                ).cast("double")
            ),
            6,
        ).alias("cramers_v"),
    )


_KANON_K = 5  # re-identification risk threshold the audit reports against
_KANON_BAND = 1000  # acctbal band width: the QI's generalization step

_KANON_ORACLE = f"""
WITH g AS (
    SELECT c_nationkey,
           CAST(floor(c_acctbal / {_KANON_BAND}) AS BIGINT) AS bal_band,
           CAST(COUNT(*) AS BIGINT) AS grp_n,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_div
    FROM customer
    GROUP BY 1, 2
)
SELECT CAST(SUM(grp_n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(grp_n) AS BIGINT) AS k_min,
       CAST(SUM(CASE WHEN grp_n < {_KANON_K} THEN grp_n ELSE 0 END) AS BIGINT) AS n_rows_below_k,
       CAST(SUM(CASE WHEN grp_n < {_KANON_K} THEN grp_n ELSE 0 END) * 10000 // SUM(grp_n) AS BIGINT) AS below_k_bp,
       CAST(MIN(l_div) AS BIGINT) AS l_min,
       CAST(SUM(CASE WHEN l_div = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_l1
FROM g
"""


@register("k_anonymity_audit", tags=("ext", "governance", "customer"), oracle=_KANON_ORACLE)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-governance audit of the customer table under the
    quasi-identifier (nation, account-balance band): k-anonymity
    (minimum group size; rows in groups smaller than k=5 are
    re-identification candidates) and l-diversity of the market
    segment within each QI group (groups with a single segment leak
    the sensitive attribute even when k holds). The release-gate
    numbers a training-data pipeline needs BEFORE customer-derived
    features leave the warehouse — the reference pipeline upserts raw
    entity rows with no such gate (``SinkToMySQL.java:31-65``).

    Exactness: pure integer counting — group sizes, distinct counts,
    and a basis-point floor ratio. Plan: ONE hash aggregate at the QI
    grain, then a second aggregate over the QI-group frame (bounded by
    |nations| x |bands|, KB-sized at any row count); the sensitive-
    attribute diversity rides the same first aggregate as a
    count-distinct. No window, no self-join, nothing row-scaled after
    the first map-side-combined reduction."""
    cust = load_table(spark, sf_dir, "customer")
    g = (
        cust.select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / _KANON_BAND).cast("long").alias("bal_band"),
            "c_mktsegment",
        )
        .groupBy("c_nationkey", "bal_band")
        .agg(
            F.count(F.lit(1)).alias("grp_n"),
            F.countDistinct("c_mktsegment").alias("l_div"),
        )
    )
    below = F.sum(F.when(F.col("grp_n") < _KANON_K, F.col("grp_n")).otherwise(0))
    agg = g.agg(
        F.sum("grp_n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("grp_n").cast("long").alias("k_min"),
        below.cast("long").alias("n_rows_below_k"),
        F.min("l_div").cast("long").alias("l_min"),
        F.sum(F.when(F.col("l_div") == 1, 1).otherwise(0)).cast("long").alias("n_groups_l1"),
    )
    # Integer `div`, not double `/`: a ratio one ulp under an integer
    # would round up in double but floor in DuckDB's `//`.
    return agg.select(
        "n_rows",
        "n_groups",
        "k_min",
        "n_rows_below_k",
        F.expr("n_rows_below_k * 10000 div n_rows").alias("below_k_bp"),
        "l_min",
        "n_groups_l1",
    )


_LAT_ORACLE = """
WITH s1 AS (
    SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
    SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
    FROM events e JOIN s1 ON e.user_id = s1.user_id AND epoch_us(e.ts) >= s1.t1
    WHERE e.event_type = 'click'
    GROUP BY e.user_id
), s3 AS (
    SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
    FROM events e JOIN s2 ON e.user_id = s2.user_id AND epoch_us(e.ts) >= s2.t2
    WHERE e.event_type = 'purchase'
    GROUP BY e.user_id
), conv AS (
    SELECT s1.user_id, t1, t2, t3 FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
), m AS (
    SELECT 'total' AS measure, (t3 - t1) // 1000000 AS lat_s FROM conv
    UNION ALL SELECT 'view_to_click', (t2 - t1) // 1000000 FROM conv
    UNION ALL SELECT 'click_to_purchase', (t3 - t2) // 1000000 FROM conv
), r AS (
    SELECT measure, lat_s,
           row_number() OVER (PARTITION BY measure ORDER BY lat_s) AS rn,
           COUNT(*) OVER (PARTITION BY measure) AS n
    FROM m
)
SELECT measure,
       CAST(MAX(n) AS BIGINT) AS n_converters,
       CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN lat_s END) AS BIGINT) AS p50_s,
       CAST(MIN(CASE WHEN rn = (9 * n + 9) // 10 THEN lat_s END) AS BIGINT) AS p90_s
FROM r GROUP BY measure
"""


@register("funnel_latency_percentiles", tags=("ext", "analytics", "events"), oracle=_LAT_ORACLE)
def funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the ordered view -> click ->
    purchase funnel (the HOW-FAST companion to
    ``funnel_conversion_steps``' how-many): exact p50/p90 latency in
    whole seconds for each step and end-to-end, over the users who
    completed the whole funnel. The step split tells you WHERE the
    funnel is slow, which the conversion rates cannot.

    Exactness: stage timestamps are epoch-microsecond minima (exact
    int64), latencies integer-divided to seconds, percentiles by the
    repo's rank-selection formula (``value_percentile_bands``) — no
    interpolating builtin, no floats.

    Plan: the funnel chain is ``funnel_conversion_steps``' shape
    (per-user min-aggregates sharing one hash partitioning, each stage
    frame <= user count); the percentile windows run on the CONVERTER
    set unpivoted to 3 rows per user — population-bounded, and
    partitioned by measure so no single-partition global sort."""
    ev = load_table(spark, sf_dir, "events")
    events = ev.select("user_id", "event_type", epoch_micros(ev, "ts").alias("eus"))
    s1 = pin(
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("eus").alias("t1"))
    )
    s2 = pin(
        events.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("eus") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("eus").alias("t2"))
    )
    s3 = (
        events.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("eus") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("eus").alias("t3"))
    )
    conv = pin(s1.join(s2, "user_id").join(s3, "user_id"))
    m = (
        conv.select(F.lit("total").alias("measure"), F.expr("(t3 - t1) div 1000000").alias("lat_s"))
        .unionAll(
            conv.select(F.lit("view_to_click").alias("measure"), F.expr("(t2 - t1) div 1000000").alias("lat_s"))
        )
        .unionAll(
            conv.select(
                F.lit("click_to_purchase").alias("measure"), F.expr("(t3 - t2) div 1000000").alias("lat_s")
            )
        )
    )
    w = Window.partitionBy("measure").orderBy("lat_s")
    wn = Window.partitionBy("measure")
    r = m.select(
        "measure",
        "lat_s",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.groupBy("measure").agg(
        F.max("n").cast("long").alias("n_converters"),
        F.min(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("lat_s")))
        .cast("long")
        .alias("p50_s"),
        F.min(F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("lat_s")))
        .cast("long")
        .alias("p90_s"),
    )


_BOOT_B = 100  # bootstrap replicates
#: Poisson(1) CDF in ppm for k = 0..6 (math.exp at build time — the
#: frozen-constant trick again; P(X > 6) ~ 8e-5 folds into w = 7).
_POIS_CDF_PPM = [367879, 735759, 919699, 981012, 996340, 999406, 999917]


def _pois_w_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF_PPM)
    )
    return f"CASE {branches} ELSE 7 END"


_BOOT_ORACLE = f"""
WITH d AS (
    SELECT source, doc_id, n_chars FROM documents
), rep AS (
    SELECT d.source, d.n_chars,
           CAST(concat('0x', substr(md5(concat(CAST(d.doc_id AS VARCHAR), ':', CAST(b.b AS VARCHAR))), 1, 15)) AS BIGINT)
             % 1000000 AS u,
           b.b
    FROM d CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
), w AS (
    SELECT source, b, {_pois_w_sql('u')} AS w, n_chars FROM rep
), stat AS (
    SELECT source, b,
           CAST(SUM(w * n_chars) * 1000 // SUM(w) AS BIGINT) AS mean_fp
    FROM w GROUP BY 1, 2 HAVING SUM(w) > 0
), r AS (
    SELECT source, mean_fp,
           row_number() OVER (PARTITION BY source ORDER BY mean_fp) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS nb
    FROM stat
), pt AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) * 1000 // COUNT(*) AS BIGINT) AS mean_chars_fp
    FROM d GROUP BY 1
)
SELECT pt.source, pt.n_docs, pt.mean_chars_fp,
       CAST(MAX(r.nb) AS BIGINT) AS n_boot,
       CAST(MIN(CASE WHEN r.rn = (5 * r.nb + 95) // 100 THEN r.mean_fp END) AS BIGINT) AS ci_lo_fp,
       CAST(MIN(CASE WHEN r.rn = (95 * r.nb + 95) // 100 THEN r.mean_fp END) AS BIGINT) AS ci_hi_fp
FROM pt JOIN r USING (source)
GROUP BY pt.source, pt.n_docs, pt.mean_chars_fp
"""


@register("bootstrap_mean_doclen_ci", tags=("ext", "eval", "documents", "stats"), oracle=_BOOT_ORACLE)
def bootstrap_mean_doclen_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 90% confidence interval for each source's
    mean document length: 100 deterministic replicates, each weighting
    every document by an independent Poisson(1) draw, replicate means
    rank-selected at p5/p95. The Poisson bootstrap IS the distributed
    bootstrap (Chamandy et al.): classic resampling needs a global
    index to draw n-of-n with replacement — a non-starter across
    partitions — while Poisson(1) weights are PER-ROW independent, so
    the whole procedure is one explode and one aggregate at any scale.

    Determinism: the "randomness" is md5(doc_id:replicate) reduced to
    ppm, inverted through the FROZEN Poisson(1) CDF table (exp() at
    build time only); replicate means are fixed-point integer
    divisions; CI bounds come from the repo's rank-selection formula.
    Bit-identical across engines and partitionings.

    Plan: documents explode x100 (column-pruned to (source, doc_id,
    n_chars) BEFORE the explode), map-side partial aggregation to the
    (source, replicate) grain, then windows over a 5x100-row frame.
    At 100 TB the exploded stream never materializes — it flows
    straight into the partial aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    b = F.explode(F.array(*[F.lit(i) for i in range(_BOOT_B)])).alias("b")
    rep = docs.select("source", "doc_id", "n_chars", b)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("b").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )
    w_col = F.lit(7)
    for k in range(len(_POIS_CDF_PPM) - 1, -1, -1):
        w_col = F.when(F.col("u") < _POIS_CDF_PPM[k], F.lit(k)).otherwise(w_col)
    stat = (
        rep.withColumn("u", u)
        .withColumn("w", w_col)
        .groupBy("source", "b")
        .agg(
            F.sum(F.col("w") * F.col("n_chars")).alias("_sw"),
            F.sum("w").alias("_w"),
        )
        .filter(F.col("_w") > 0)
        .select("source", "b", F.expr("_sw * 1000 div _w").alias("mean_fp"))
    )
    wr = Window.partitionBy("source").orderBy("mean_fp")
    wn = Window.partitionBy("source")
    r = stat.select(
        "source",
        "mean_fp",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("nb"),
    )
    ci = r.groupBy("source").agg(
        F.max("nb").cast("long").alias("n_boot"),
        F.min(F.when(F.col("rn") == F.expr("(5 * nb + 95) div 100"), F.col("mean_fp")))
        .cast("long")
        .alias("ci_lo_fp"),
        F.min(F.when(F.col("rn") == F.expr("(95 * nb + 95) div 100"), F.col("mean_fp")))
        .cast("long")
        .alias("ci_hi_fp"),
    )
    pt = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("SUM(n_chars) * 1000 div COUNT(*)").cast("long").alias("mean_chars_fp"),
    )
    return pt.join(F.broadcast(ci), "source").select(
        "source", "n_docs", "mean_chars_fp", "n_boot", "ci_lo_fp", "ci_hi_fp"
    )
