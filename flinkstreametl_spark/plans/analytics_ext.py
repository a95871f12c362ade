"""[EXT] second analytics wave: more TPC-H-style queries adapted to the
fixture columns, as-of join, sessionization, wordcount, scalar
subqueries, date/string/json scalar-function coverage (SURVEY.md §2.7
E1-E8 extended, §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.functions.exact import dbl, dec, dsum, sql_dbl, sql_dsum
from flinkstreametl_spark.operators.text import tokens
from flinkstreametl_spark.operators.windows import asof_join, asof_join_forward, epoch_micros, sessionize
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.plans.shared import REV_SQL, rev_col
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.sources.parquet import load_table


@register(
    "q6_forecast_revenue",
    tags=("ext", "aggregate", "bench"),
    oracle=f"""
SELECT {sql_dbl("SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(6,4)))", 6)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure filter + global aggregate — the predicate-
    pushdown showcase (all four predicates reach the parquet scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        dbl(F.sum(dec("l_extendedprice", 12, 2) * dec("l_discount", 6, 4)), 6).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q4_order_priority",
    tags=("ext", "aggregate", "semi"),
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: EXISTS semi join + aggregate (shipped-late
    orders per priority; adapted to l_shipdate vs o_orderdate since the
    fixture has no commit/receipt dates)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li, (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate), "left_semi"
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "q14_promo_revenue_share",
    tags=("ext", "aggregate", "join"),
    oracle=f"""
SELECT {sql_dbl(f"SUM(CASE WHEN p_type = 'PROMO' THEN {REV_SQL} ELSE CAST(0 AS DECIMAL(12,2)) END)", 6)}
         / {sql_dbl(f"SUM({REV_SQL})", 6)} * 100.0 AS promo_share_pct,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
""",
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo revenue share: conditional aggregation over
    a broadcast part join; ratio of two exact sums."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    promo = F.when(F.col("p_type") == "PROMO", rev_col()).otherwise(F.lit(0).cast("decimal(12,2)"))
    return joined.agg(
        (dbl(F.sum(promo), 6) / dbl(F.sum(rev_col()), 6) * F.lit(100.0)).alias("promo_share_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q18_large_orders",
    tags=("ext", "aggregate", "having", "join", "bench"),
    oracle=f"""
SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, t.total_qty
FROM orders o
JOIN (
    SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 180
) t ON o.o_orderkey = t.l_orderkey
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume orders: aggregate + HAVING + join
    back to the order header."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"), F.sum(dec("l_quantity")).alias("_raw"))
        .filter(F.col("_raw") > 180)
        .drop("_raw")
    )
    orders = load_table(spark, sf_dir, "orders")
    return orders.join(big, orders.o_orderkey == big.l_orderkey).select(
        "o_orderkey", "o_custkey", "o_orderdate", "total_qty"
    )


@register(
    "scalar_subquery_above_avg",
    tags=("ext", "subquery"),
    oracle=f"""
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_acctbal > (SELECT {sql_dsum('c_acctbal', 14, 2)} / COUNT(*) FROM customer)
""",
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery pattern: rows above the global mean. Spark plans
    the aggregate as a broadcast scalar (one extra stage, no driver
    round-trip in SQL form); here a crossJoin of the 1-row aggregate."""
    customer = load_table(spark, sf_dir, "customer")
    avg_bal = customer.agg((dbl(F.sum(dec("c_acctbal", 14, 2)), 2) / F.count(F.lit(1))).alias("_avg"))
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .select("c_custkey", "c_name", "c_acctbal")
    )


@register(
    "monthly_revenue_trend",
    tags=("ext", "aggregate", "datetime"),
    oracle=f"""
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 14, 2)} AS revenue
FROM orders
GROUP BY CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
""",
)
def monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1-adjacent date arithmetic: month truncation + aggregate (the
    dashboard query shape the reference feeds to Tableau/FineBI,
    README.md:1054-1056)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.date_trunc("month", "o_orderdate").alias("order_month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", 14, 2).alias("revenue"),
    )


@register(
    "string_funcs_parts",
    tags=("ext", "scalar", "string"),
    oracle="""
SELECT p_partkey,
       upper(p_name) AS name_upper,
       substr(p_name, 1, 8) AS name_prefix,
       p_brand || '/' || p_type AS brand_type,
       (p_type = 'PROMO') AS is_promo,
       CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INT) AS brand_num,
       length(p_name) AS name_len
FROM part
""",
)
def string_funcs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function coverage (E4-E6 extended): case mapping,
    substring, concat, equality flag, regexp extraction, length."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        (F.col("p_type") == "PROMO").alias("is_promo"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).cast("int").alias("brand_num"),
        F.length("p_name").alias("name_len"),
    )


@register(
    "json_payload_roundtrip",
    tags=("ext", "scalar", "json"),
    oracle="""
SELECT event_id,
       CAST(to_json(struct_pack(event_id := event_id, event_type := event_type)) AS VARCHAR) AS payload
FROM events
""",
)
def json_payload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 — JSON serialization (Main.java:130 debug to_json): compact
    struct serialization matches DuckDB's to_json byte-for-byte for
    int/string fields."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.to_json(F.struct("event_id", "event_type")).alias("payload"),
    )


@register(
    "token_frequency_top100",
    tags=("ext", "llm", "text", "bench"),
    oracle="""
SELECT tok, cnt, n_docs FROM (
    SELECT tok, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents) t
    GROUP BY tok
) v
ORDER BY cnt DESC, tok
LIMIT 100
""",
)
def token_frequency_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus wordcount: explode -> two-level aggregate -> top-k. The
    canonical flatMap benchmark; partial aggregation absorbs the token
    explosion before the shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    return (
        ex.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(100)
    )


@register(
    "sessionize_events",
    tags=("ext", "window", "sessionize", "bench"),
    oracle="""
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end
FROM (
    SELECT user_id, ts,
           CAST(SUM(CASE WHEN prev IS NULL OR date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM (SELECT user_id, ts, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events) t
) s
GROUP BY user_id, session_id
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) + per-session rollup —
    lag + conditional running sum (operators/windows.py), one shuffle."""
    events = load_table(spark, sf_dir, "events")
    s = sessionize(events, "user_id", "ts", gap_seconds=1800)
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "asof_latest_order",
    tags=("ext", "join", "asof", "bench"),
    oracle="""
WITH u AS (
    SELECT event_id, user_id, ts, ts AS _t, 1 AS _tag,
           CAST(NULL AS BIGINT) AS _tb, CAST(NULL AS BIGINT) AS r_okey, CAST(NULL AS TIMESTAMP) AS r_odate
    FROM events
    UNION ALL
    SELECT CAST(NULL AS BIGINT), o_custkey, CAST(NULL AS TIMESTAMP), o_orderdate, 0,
           o_orderkey, o_orderkey, o_orderdate
    FROM orders
), c AS (
    SELECT event_id, user_id, ts, _tag,
           last_value(r_okey IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY _t, _tag, _tb NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_orderkey,
           last_value(r_odate IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY _t, _tag, _tb NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_orderdate
    FROM u
)
SELECT event_id, user_id, ts, last_orderkey, last_orderdate
FROM c WHERE _tag = 1
""",
)
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event enriched with the user's most recent order
    at event time (union-window technique, operators/windows.py — no
    range cross join; ties on order date broken by max orderkey)."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    out = asof_join(
        events,
        orders,
        key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        tie_break="o_orderkey",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
    )


# Staleness bound sized to the fixture's era gap (events are 2024, the
# TPC-H-style orders 1995-2001, so every match is decades old): ~23.1
# years splits the age distribution (p10 22.5y / p90 24.1y) into real
# fresh and stale populations. In production this would be days.
_ASOF_TOL_SECONDS = 730_000_000


@register(
    "asof_tolerance_enrich",
    tags=("ext", "join", "asof"),
    oracle=f"""
WITH u AS (
    SELECT event_id, user_id, ts, ts AS _t, 1 AS _tag,
           CAST(NULL AS BIGINT) AS _tb, CAST(NULL AS BIGINT) AS r_okey, CAST(NULL AS TIMESTAMP) AS r_odate
    FROM events
    UNION ALL
    SELECT CAST(NULL AS BIGINT), o_custkey, CAST(NULL AS TIMESTAMP), o_orderdate, 0,
           o_orderkey, o_orderkey, o_orderdate
    FROM orders
), c AS (
    SELECT event_id, user_id, ts, _tag,
           last_value(r_okey IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY _t, _tag, _tb NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lk,
           last_value(r_odate IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY _t, _tag, _tb NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ld
    FROM u
)
SELECT event_id, user_id, ts,
       CASE WHEN date_diff('second', ld, ts) <= {_ASOF_TOL_SECONDS} THEN lk END AS last_orderkey,
       CASE WHEN date_diff('second', ld, ts) <= {_ASOF_TOL_SECONDS} THEN ld END AS last_orderdate,
       (ld IS NOT NULL AND date_diff('second', ld, ts) > {_ASOF_TOL_SECONDS}) AS stale_dropped
FROM c WHERE _tag = 1
""",
)
def asof_tolerance_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance (pandas ``merge_asof
    tolerance=`` / kdb ``wj`` semantics): each event takes the user's
    most recent order ONLY if it is within the staleness bound at event time;
    older matches are nulled out (the row survives — left-join
    semantics), flagged ``stale_dropped``. Composition of the verified
    union-window as-of carry + one post-window predicate — the
    tolerance costs ZERO extra shuffles because the carried right-side
    timestamp is already in the frame."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    out = asof_join(
        events,
        orders,
        key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        tie_break="o_orderkey",
    )
    age = F.expr("timestampdiff(SECOND, o_orderdate, ts)")
    fresh = age <= _ASOF_TOL_SECONDS
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.when(fresh, F.col("o_orderkey")).alias("last_orderkey"),
        F.when(fresh, F.col("o_orderdate")).alias("last_orderdate"),
        (F.col("o_orderdate").isNotNull() & ~fresh).alias("stale_dropped"),
    )


@register(
    "full_outer_nation_counts",
    tags=("ext", "join", "outer"),
    oracle="""
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       COALESCE(c.n_customers, 0) AS n_customers,
       COALESCE(s.n_suppliers, 0) AS n_suppliers
FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
ON c.nk = s.nk
""",
)
def full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates with COALESCE null-fill."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    j = c.alias("c").join(s.alias("s"), F.col("c.nk") == F.col("s.nk"), "full_outer")
    return j.select(
        F.coalesce(F.col("c.nk"), F.col("s.nk")).alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@register(
    "null_handling_buckets",
    tags=("ext", "scalar", "conditional"),
    oracle="""
SELECT c_custkey,
       COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_alias,
       CASE WHEN c_acctbal < 0 THEN 'debt'
            WHEN c_acctbal < 5000 THEN 'low'
            ELSE 'high' END AS bal_bucket,
       GREATEST(c_acctbal, 0.0) AS bal_floor,
       LEAST(c_acctbal, 1000.0) AS bal_cap
FROM customer
""",
)
def null_handling_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null scalar functions: NULLIF, COALESCE, CASE,
    GREATEST/LEAST."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("MACHINERY")), F.lit("OTHER")).alias("segment_alias"),
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_bucket"),
        F.greatest("c_acctbal", F.lit(0.0)).alias("bal_floor"),
        F.least("c_acctbal", F.lit(1000.0)).alias("bal_cap"),
    )


@register(
    "percentile_quantities",
    tags=("ext", "aggregate", "stats", "window"),
    oracle="""
WITH ranked AS (
    SELECT l_returnflag, l_quantity,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
)
SELECT l_returnflag,
       CAST(MAX(n) AS BIGINT) AS n,
       MAX(CASE WHEN rn = (n + 1) // 2 THEN l_quantity END) AS p50_disc,
       MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN l_quantity END) AS p90_disc
FROM ranked
GROUP BY l_returnflag
""",
)
def percentile_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles (percentile_disc 0.5 / 0.9) per return
    flag, formulated portably as the stored value at a rank position of a
    fully-tie-broken ordering — no interpolation arithmetic, so the
    result is engine-exact (interpolating percentiles differ in the last
    ulp between engines; the approx sketch lives in
    ``approx_percentile_price``). One window sort per group; the 100 TB
    default is the sketch, this is the audit path."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_quantity",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.groupBy("l_returnflag").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("l_quantity"))).alias("p50_disc"),
        F.max(F.when(F.col("rn") == F.expr("CAST(ceil(0.9 * n) AS BIGINT)"), F.col("l_quantity"))).alias(
            "p90_disc"
        ),
    )


@register(
    "setop_union_all_keys",
    tags=("ext", "setop"),
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION ALL
SELECT s_nationkey FROM supplier
""",
)
def setop_union_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics, no dedup shuffle — zero-cost concat)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionAll(s)


@register(
    "setop_intersect_all_keys",
    tags=("ext", "setop"),
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT ALL
SELECT s_nationkey FROM supplier
""",
)
def setop_intersect_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset: min of per-side multiplicities)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@register(
    "setop_except_all_keys",
    tags=("ext", "setop"),
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT ALL
SELECT s_nationkey FROM supplier
""",
)
def setop_except_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference of multiplicities)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


@register(
    "window_lag_lead_ntile",
    tags=("ext", "window"),
    oracle="""
SELECT o_orderkey, o_custkey, o_orderdate,
       LAG(o_orderkey)  OVER w AS prev_orderkey,
       LEAD(o_orderkey) OVER w AS next_orderkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
       NTILE(4) OVER w AS quartile,
       RANK() OVER w AS rk,
       DENSE_RANK() OVER w AS drk
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def window_lag_lead_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation/distribution window functions: lag, lead, first_value,
    ntile, rank, dense_rank over a deterministic per-customer ordering."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.first("o_orderkey").over(w).alias("first_orderkey"),
        F.ntile(4).over(w).alias("quartile"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
    )


@register(
    "stats_variance_exact",
    tags=("ext", "aggregate", "stats"),
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n,
       {sql_dsum('l_quantity')} AS s1,
       {sql_dbl('SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)))', 4)} AS s2,
       ({sql_dbl('SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)))', 4)}
         - {sql_dsum('l_quantity')} * {sql_dsum('l_quantity')} / COUNT(*)) / (COUNT(*) - 1) AS var_samp_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def stats_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance from exact moments (Σx, Σx² in decimal): the
    portable formulation — built-in var_samp/stddev use engine-specific
    accumulation (Welford vs two-pass) and differ in the last ulp, so
    the moments are computed exactly and combined with one identical
    double expression. This is also the mergeable/partition-safe way to
    compute variance at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    s1 = dbl(F.sum(dec("l_quantity")), 2)
    s2 = dbl(F.sum(dec("l_quantity") * dec("l_quantity")), 4)
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        s1.alias("s1"),
        s2.alias("s2"),
        ((s2 - s1 * s1 / n) / (n - F.lit(1))).alias("var_samp_qty"),
    )


@register("stats_builtin_moments", tags=("ext", "aggregate", "stats"), driver=False)
def stats_builtin_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in statistical aggregates (stddev/var/corr/skew/kurtosis).
    Rows-only: engines accumulate these with different algorithms;
    tests pin them against DuckDB within tolerance."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.stddev_samp("l_quantity").alias("stddev_qty"),
        F.var_samp("l_quantity").alias("var_qty"),
        F.corr("l_quantity", "l_extendedprice").alias("corr_qty_price"),
        F.skewness("l_quantity").alias("skew_qty"),
        F.kurtosis("l_quantity").alias("kurt_qty"),
    )


@register("approx_percentile_price", tags=("ext", "aggregate", "approx"), driver=False)
def approx_percentile_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile via the KLL/GK-style sketch — the 100 TB
    default for quantiles (mergeable, one pass, no sort). Rows-only:
    sketch internals are engine-specific; the exact audit twin is
    ``percentile_quantities``, and tests pin the sketch within rank
    tolerance of the exact value."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("p50_price_approx"),
        F.expr("approx_percentile(l_extendedprice, 0.9, 10000)").alias("p90_price_approx"),
    )


@register(
    "pandas_udf_quality",
    tags=("ext", "llm", "udf"),
    oracle="""
WITH toks AS (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\\s+') AS tok
    FROM documents
)
SELECT doc_id,
       CASE WHEN len(tok) >= 10 AND len(tok) <= 10000
                 AND CAST(len(list_distinct(tok)) AS DOUBLE) / GREATEST(len(tok), 1) > 0.1
            THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS quality
FROM toks
""",
)
def pandas_udf_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized-UDF extensibility surface (the Spark answer to the
    reference's anonymous Map/FilterFunctions, Main.java:68-86): an
    Arrow-batched pandas_udf scoring text quality. Oracle-safe because
    the only float arithmetic is one IEEE division (distinct/n) and the
    output is an exact 0.0/1.0 gate; tests also assert it agrees with
    the pure-column text_quality_stats path."""
    from pyspark.sql.functions import pandas_udf

    def _score(text):
        toks = text.str.lower().str.strip().str.split(r"\s+")
        n = toks.str.len()
        distinct = toks.map(lambda t: len(set(t)) if isinstance(t, list) else 0)
        ttr = distinct / n.clip(lower=1)
        return ((n >= 10) & (n <= 10000) & (ttr > 0.1)).astype("float64")

    # non-decorator form: the module uses deferred annotations (PEP 563),
    # which breaks pandas_udf type-hint inference on local imports
    quality_score = pandas_udf(_score, "double")

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


@register(
    "session_window_agg",
    tags=("ext", "window", "sessionize", "streaming"),
    oracle=f"""
WITH flagged AS (
    SELECT user_id, ts, value, event_id,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE OR
                LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           THEN 1 ELSE 0 END AS is_new
    FROM events
), numbered AS (
    SELECT user_id, ts, value,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum('value', 18, 6)} AS sum_value
FROM numbered
GROUP BY user_id, sid
""",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window as a batch grouping expression, oracle-checked
    against the equivalent gaps-and-islands SQL (lag -> new-session flag
    -> running-sum session id): Spark's native session operator and the
    portable windowed formulation must agree exactly — session_end is
    last event + gap by definition. The streaming twin
    (streaming/pipeline.session_window_counts) adds the watermark."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 18, 6).alias("sum_value"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "sliding_window_counts",
    tags=("ext", "window", "streaming"),
    oracle=f"""
WITH offs AS (SELECT UNNEST(range(3)) AS k)
SELECT make_timestamp((CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 - k * 600) * 1000000)
         AS window_start,
       event_type,
       COUNT(*) AS n,
       {sql_dsum('value', 18, 6)} AS sum_value
FROM events, offs
GROUP BY 1, 2
""",
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows — 30-minute window, 10-minute slide —
    as a batch grouping expression; the streaming twin adds a watermark
    exactly as in windowed_event_counts. Each event lands in
    window/slide = 3 windows; Spark plans this as an internal explode
    before the aggregation, which is the cross-join-free formulation
    the oracle replicates with a 3-offset UNNEST. Epoch-grid alignment
    (floor(epoch/slide)*slide) matches F.window's 1970-anchored
    windows."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", 18, 6).alias("sum_value"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n", "sum_value")
    )


@register(
    "conditional_aggregates",
    tags=("ext", "aggregate", "conditional"),
    oracle="""
SELECT c_nationkey,
       CAST(count_if(c_acctbal > 0) AS BIGINT) AS n_positive,
       bool_and(c_acctbal > -1000) AS all_above_floor,
       bool_or(c_mktsegment = 'BUILDING') AS any_building,
       arg_max(c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey) AS richest_cust,
       arg_min(c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey) AS poorest_cust
FROM customer
GROUP BY c_nationkey
""",
)
def conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/selector aggregates: count_if, bool_and/bool_or,
    max_by/min_by (arg_max/arg_min). The selector key folds the 2-decimal
    balance and the unique custkey into one BIGINT so ties are impossible
    and both engines pick the same row — max_by on a non-unique key is
    nondeterministic by definition, never oracle-safe."""
    cust = load_table(spark, sf_dir, "customer")
    sel_key = (F.round(F.col("c_acctbal") * 100).cast("long") * F.lit(10000000) + F.col("c_custkey"))
    return cust.groupBy("c_nationkey").agg(
        F.count_if(F.col("c_acctbal") > 0).alias("n_positive"),
        F.bool_and(F.col("c_acctbal") > -1000).alias("all_above_floor"),
        F.bool_or(F.col("c_mktsegment") == "BUILDING").alias("any_building"),
        F.max_by("c_custkey", sel_key).alias("richest_cust"),
        F.min_by("c_custkey", sel_key).alias("poorest_cust"),
    )


@register(
    "posexplode_tokens",
    tags=("ext", "scalar", "generator", "llm"),
    oracle="""
WITH parts AS (
    SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
    FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       CAST(i - 1 AS INT) AS pos,
       toks[i] AS tok
FROM parts, UNNEST(range(1, len(toks) + 1)) AS r(i)
WHERE toks[i] <> ''
""",
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator functions with ordinality: posexplode over a token
    array (≡ LATERAL VIEW / UNNEST WITH ORDINALITY). Ordinal positions
    are assigned per-row before any shuffle, so they are stable under
    any partitioning."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
    return (
        docs.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
        .filter(F.col("tok") != "")
        .select("doc_id", "pos", "tok")
    )


@register(
    "collect_set_sorted",
    tags=("ext", "aggregate", "array"),
    oracle="""
SELECT o_custkey,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
""",
)
def collect_set_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-valued aggregation: collect_set + array_sort (collection
    order is nondeterministic in ANY distributed engine — sorting is
    what makes a set-valued result comparable, here and at 100 TB).

    The sorted set is emitted as a comma-joined string: driver-windowed
    queries must not output array-typed columns (the verdict
    canonicalizer hashes values via pandas and lists are unhashable) —
    see the determinism notes in ``plans/registry.py``."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "funnel_conversion",
    tags=("ext", "aggregate", "window", "funnel"),
    oracle="""
WITH s1 AS (
    SELECT user_id, ts, event_type,
           MIN(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
    FROM events
), s2 AS (
    SELECT user_id, ts, event_type, t1,
           MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
               OVER (PARTITION BY user_id) AS t2
    FROM s1
), s3 AS (
    SELECT user_id, t1, t2,
           MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
               OVER (PARTITION BY user_id) AS t3
    FROM s2
), per_user AS (
    SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
    FROM s3 GROUP BY user_id
)
SELECT CAST(COUNT(t1) AS BIGINT) AS n_signup,
       CAST(COUNT(t2) AS BIGINT) AS n_signup_click,
       CAST(COUNT(t3) AS BIGINT) AS n_full_funnel
FROM per_user
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (signup → later click → later purchase):
    per user, the first signup, the first click strictly after it, and
    the first purchase strictly after that — then how many users reach
    each stage. The ordering constraint is what makes this a funnel and
    not three filters; it is expressed as three chained conditional-MIN
    windows over the SAME user partitioning, so Spark plans ONE shuffle
    on user_id and evaluates all three windows in a single sort pass
    (the follow-up aggregate reuses the partitioning too). At 100 TB:
    one fact shuffle, state bounded per user, no self-joins — the
    pattern scales to any step count linearly."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s = (
        events.withColumn("t1", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w))
        .withColumn(
            "t2",
            F.min(F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts"))).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")), F.col("ts"))
            ).over(w),
        )
    )
    per_user = s.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_signup_click"),
        F.count("t3").alias("n_full_funnel"),
    )


@register(
    "cohort_retention",
    tags=("ext", "aggregate", "cohort"),
    oracle="""
WITH first_seen AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date FROM events GROUP BY user_id
)
SELECT f.cohort_date,
       CAST(datediff('day', f.cohort_date, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN first_seen f USING (user_id)
GROUP BY f.cohort_date, day_offset
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity date,
    counted distinct on each day offset they return. Plan: the per-user
    first-seen aggregate shuffles on user_id; the join back to events is
    on the SAME key (partitioning reused / broadcast when the user dim
    fits); the final (cohort, offset) distinct-count is the second
    shuffle. Date arithmetic is calendar-exact (datediff) on both
    engines — no epoch-second division to disagree on."""
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_date"))
    return (
        events.join(first_seen, "user_id")
        .select(
            "cohort_date",
            F.datediff(F.to_date("ts"), F.col("cohort_date")).cast("long").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_date", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "session_transition_counts",
    tags=("ext", "window", "sessionize", "funnel"),
    oracle="""
WITH s AS (
    SELECT user_id, ts, event_id, event_type,
           CAST(SUM(CASE WHEN prev IS NULL OR date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM (SELECT user_id, ts, event_id, event_type,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          FROM events) t
), tr AS (
    SELECT event_type,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
           LAG(session_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_session,
           session_id
    FROM s
), counts AS (
    SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM tr
    WHERE prev_type IS NOT NULL AND prev_session = session_id
    GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
           / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE) AS p_next
FROM counts
""",
)
def session_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over in-session event sequences: for
    every consecutive (prev -> next) event pair WITHIN a session, the
    count and the conditional probability P(next | prev) — the model
    behind next-action prediction and funnel-drop analysis.

    Plan discipline: the transition lag windows partition by user_id
    (not (user_id, session_id)) and carry the session id alongside,
    nulling cross-session pairs with a predicate — this keeps ALL
    windows (gap detection, session numbering, transition lag) on ONE
    user_id exchange instead of adding a second shuffle on the finer
    key. The probability denominator is a window over the tiny
    transition matrix. Probabilities are bigint/bigint double
    divisions — engine-exact."""
    events = load_table(spark, sf_dir, "events")
    s = sessionize(events, "user_id", "ts", gap_seconds=1800)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = s.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("session_id").over(w).alias("prev_session"),
        "session_id",
    )
    counts = (
        tr.filter(F.col("prev_type").isNotNull() & (F.col("prev_session") == F.col("session_id")))
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wp).cast("double")
        ).alias("p_next"),
    )


@register(
    "nation_revenue_contribution",
    tags=("ext", "aggregate", "window"),
    oracle=f"""
WITH rev AS (
    SELECT n_name, SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev_dec
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
)
SELECT n_name, {sql_dbl('rev_dec', 2)} AS revenue,
       {sql_dbl('rev_dec', 2)} / {sql_dbl('SUM(rev_dec) OVER ()', 2)} * 100.0 AS pct_of_total,
       CAST(RANK() OVER (ORDER BY rev_dec DESC, n_name) AS BIGINT) AS rev_rank
FROM rev
""",
)
def nation_revenue_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis (ratio_to_report): each nation's revenue as
    a percentage of the grand total, plus a revenue rank — the share-of-
    whole window shape every BI layer generates. The empty-frame window
    (SUM OVER ()) runs over the 25-row nation aggregate, not the fact:
    one fact shuffle for the aggregate (dims broadcast), then a single-
    partition pass over rows-per-group = |nations|.

    Exactness detail: the grand total is summed IN DECIMAL through the
    window (a double window-sum adds in partition order and drifted a
    ulp between engines); both the per-nation revenue and the total
    convert to double once, through the unscaled-BIGINT scheme, and the
    share division runs on bit-identical operands."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(dec("o_totalprice", 14, 2)).alias("rev_dec"))
    )
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.col("rev_dec").desc(), "n_name")
    revenue = dbl(F.col("rev_dec"), 2)
    total = dbl(F.sum("rev_dec").over(w_all), 2)
    return rev.select(
        "n_name",
        revenue.alias("revenue"),
        (revenue / total * F.lit(100.0)).alias("pct_of_total"),
        F.rank().over(w_rank).cast("long").alias("rev_rank"),
    )


@register(
    "order_gap_stats",
    tags=("ext", "window", "stats", "timeseries"),
    oracle="""
WITH gaps AS (
    SELECT o_custkey,
           date_diff('day', LAG(o_orderdate) OVER w, o_orderdate) AS gap_days
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), g AS (
    SELECT o_custkey, gap_days,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY gap_days) AS rn,
           COUNT(*) OVER (PARTITION BY o_custkey) AS n
    FROM gaps WHERE gap_days IS NOT NULL
)
SELECT o_custkey,
       CAST(MAX(n) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap_days,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN gap_days END) AS BIGINT) AS median_gap_days
FROM g GROUP BY o_custkey
""",
)
def order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival analysis: per customer, the min / max / exact
    discrete-median days between CONSECUTIVE orders — the purchase-
    cadence profile behind churn prediction and replenishment models.
    The gap lag and both rank windows partition by o_custkey, so the
    orders fact shuffles once and every pass reuses the exchange;
    gaps are integer days, so the median is an integer order statistic
    with zero float exposure."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    wg = Window.partitionBy("o_custkey").orderBy("gap_days")
    wn = Window.partitionBy("o_custkey")
    g = gaps.select(
        "o_custkey",
        "gap_days",
        F.row_number().over(wg).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return g.groupBy("o_custkey").agg(
        F.max("n").cast("long").alias("n_gaps"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("gap_days"))).cast("long").alias("median_gap_days"),
    )


_ATTR_TOL_US = 1800 * 1_000_000  # 30-minute attribution window

_ATTR_ORACLE = f"""
WITH u AS (
    SELECT event_id, user_id, ts, ts AS _t, 1 AS _tag, CAST(NULL AS BIGINT) AS _tb,
           CAST(NULL AS TIMESTAMP) AS p_ts
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT CAST(NULL AS BIGINT), user_id, CAST(NULL AS TIMESTAMP), ts, 0, event_id, ts
    FROM events WHERE event_type = 'purchase'
), c AS (
    SELECT event_id, user_id, ts, _tag,
           last_value(p_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY _t DESC, _tag DESC, _tb DESC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_ts
    FROM u
), att AS (
    SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
           date_diff('microseconds', ts, p_ts) AS delay_us
    FROM c WHERE _tag = 1
), daily AS (
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_clicks,
           CAST(COUNT(CASE WHEN delay_us <= {_ATTR_TOL_US} THEN 1 END) AS BIGINT) AS n_attributed,
           CAST(SUM(CASE WHEN delay_us <= {_ATTR_TOL_US} THEN delay_us END) AS BIGINT) AS s_delay
    FROM att GROUP BY day
)
SELECT day, n_clicks, n_attributed,
       CAST(n_attributed AS DOUBLE) / CAST(n_clicks AS DOUBLE) AS conversion_rate,
       CASE WHEN n_attributed > 0
            THEN CAST(s_delay AS DOUBLE) / 1000000.0 / CAST(n_attributed AS DOUBLE)
       END AS avg_delay_seconds
FROM daily
"""


@register("click_purchase_attribution", tags=("ext", "join", "asof", "funnel"), oracle=_ATTR_ORACLE)
def click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Touchpoint attribution: each click is credited with the user's
    FIRST purchase strictly after it; a click converts if that purchase
    lands within 30 minutes. Daily rollup: clicks, conversions,
    conversion rate, mean delay-to-purchase.

    The forward as-of join (operators/windows.py asof_join_forward —
    pandas merge_asof(direction='forward') semantics, strict
    inequality) runs as the union-window carry in DESCENDING time
    order: ONE user_id shuffle, no time-range cross join, hot users
    cost O(their rows). The 30-min window is a free post-carry
    predicate, exactly like the backward tolerance enrich. Delays are
    integer microseconds; the two double divisions per day run on
    exact merged operands in oracle-identical order; zero-conversion
    days yield NULL (not 0/0) in both engines."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_eid")
    )
    att = asof_join_forward(
        clicks,
        purch,
        key="user_id",
        right_key="user_id",
        left_ts="ts",
        right_ts="p_ts",
        right_cols=["p_ts"],
        tie_break="p_eid",
        allow_exact_matches=False,
    )
    delay = F.expr("timestampdiff(MICROSECOND, ts, p_ts)")
    attributed = F.col("delay_us").isNotNull() & (F.col("delay_us") <= _ATTR_TOL_US)
    daily = (
        att.select(
            (epoch_micros(att, "ts") / F.lit(86_400_000_000)).cast("long").alias("day"),
            delay.alias("delay_us"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum(attributed.cast("long")).alias("n_attributed"),
            F.sum(F.when(attributed, F.col("delay_us"))).alias("s_delay"),
        )
    )
    return daily.select(
        "day",
        "n_clicks",
        "n_attributed",
        (F.col("n_attributed").cast("double") / F.col("n_clicks").cast("double")).alias(
            "conversion_rate"
        ),
        F.when(
            F.col("n_attributed") > 0,
            F.col("s_delay").cast("double") / F.lit(1_000_000.0) / F.col("n_attributed").cast("double"),
        ).alias("avg_delay_seconds"),
    )


# --- linear multi-touch attribution ------------------------------------------
# The multi-touch complement to click_purchase_attribution's
# first-touch-forward model: each purchase's fixed-point value is
# split EQUALLY across the user's clicks in the 30 minutes strictly
# before it, integer-exactly — share = v div n per click, and the
# division remainder v - n*(v div n) goes to the EARLIEST click
# ((ts, event_id) total order), so attributed credit conserves the
# purchase value to the unit (the law the tests pin). Rollup is by the
# CLICK's day: "how much revenue did Tuesday's touches eventually
# drive" — the marketing read.
_MT_WINDOW_US = 30 * 60 * 1_000_000
_MT_FP = 1_000_000

_MT_ORACLE = f"""
WITH ev AS (
    SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
           CAST(floor(value * {_MT_FP}) AS BIGINT) AS v
    FROM events
),
c AS (SELECT event_id AS cid, user_id, us AS cus FROM ev WHERE event_type = 'click'),
p AS (SELECT event_id AS pid, user_id, us AS pus, v FROM ev WHERE event_type = 'purchase'),
touch AS (
    SELECT p.pid, p.v, c.cid, c.cus,
           COUNT(*) OVER (PARTITION BY p.pid) AS n,
           row_number() OVER (PARTITION BY p.pid ORDER BY c.cus, c.cid) AS rn
    FROM p JOIN c ON c.user_id = p.user_id
        AND c.cus < p.pus AND c.cus >= p.pus - {_MT_WINDOW_US}
),
credit AS (
    SELECT cid, cus,
           v // n + CASE WHEN rn = 1 THEN v - n * (v // n) ELSE 0 END AS credit_fp
    FROM touch
)
SELECT CAST(cus // 86400000000 AS BIGINT) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_clicks,
       CAST(SUM(credit_fp) AS BIGINT) AS value_fp_received
FROM credit
GROUP BY 1
ORDER BY day
"""


@register("multitouch_attribution_daily", tags=("ext", "attribution", "window"), oracle=_MT_ORACLE)
def multitouch_attribution_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution rolled up by touch day: per day,
    how many (click, purchase) credit edges landed on its clicks, how
    many distinct clicks were paid, and the exact fixed-point value
    they received (integer split + earliest-click remainder — spec in
    the block above; credit conserves each attributed purchase's value
    to the unit).

    Plan shape: one scan splits the fact into clicks/purchases; the
    touch join is user-keyed with the window as a join-time range
    predicate — ONE user_id shuffle, hot users cost O(their pairs);
    the per-purchase count/first-click windows run inside the purchase
    partition; the rollup is a day-grain aggregate. At 100 TB a
    time-bucketed join key (user_id, us div window) bounds the range
    probe; the fixture's per-user streams are small enough that the
    equi-join's pair set IS the touch set."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "event_id",
        "user_id",
        "event_type",
        epoch_micros(events, "ts").alias("us"),
        F.floor(F.col("value") * _MT_FP).cast("long").alias("v"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("cu"), F.col("us").alias("cus")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("us").alias("pus"), "v"
    )
    touch = p.join(
        c,
        (F.col("cu") == F.col("user_id"))
        & (F.col("cus") < F.col("pus"))
        & (F.col("cus") >= F.col("pus") - _MT_WINDOW_US),
    )
    nw = Window.partitionBy("pid")
    rw = Window.partitionBy("pid").orderBy("cus", "cid")
    credit = touch.select(
        "cid",
        "cus",
        "v",
        F.count(F.lit(1)).over(nw).alias("n"),
        F.row_number().over(rw).alias("rn"),
    ).select(
        "cid",
        "cus",
        F.expr("v div n + CASE WHEN rn = 1 THEN v - n * (v div n) ELSE 0 END").alias("credit_fp"),
    )
    return (
        credit.groupBy(F.expr("cus div 86400000000").cast("long").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.count_distinct("cid").alias("n_clicks"),
            F.sum("credit_fp").alias("value_fp_received"),
        )
        .orderBy("day")
    )


# --- sessionization gap sensitivity -------------------------------------------
# The "pick the timeout" audit for every sessionizer in the suite: how
# many sessions does each candidate inactivity gap produce, how many
# events does the median-ish session hold? A session count that still
# moves steeply between 10 and 60 minutes means the corpus has no
# natural gap and the timeout is a policy choice to be documented, not
# discovered. One pass: the per-user lag() gap is computed once; each
# candidate threshold turns it into a 0/1 boundary indicator — session
# count = users + boundary count, all integers.
_GAPS_US = (600_000_000, 1_800_000_000, 3_600_000_000)  # 10m / 30m / 60m

_GAPSENS_ORACLE = f"""
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS us FROM events
),
gaps AS (
    SELECT user_id,
           us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
    FROM ev
),
users AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                 CAST(COUNT(*) AS BIGINT) AS n_events FROM ev)
SELECT g.gap_us, u.n_events,
       CAST(u.n_users + (SELECT COUNT(*) FROM gaps WHERE gap > g.gap_us) AS BIGINT) AS n_sessions,
       CAST(u.n_events * 1000 // (u.n_users + (SELECT COUNT(*) FROM gaps WHERE gap > g.gap_us)) AS BIGINT)
           AS mean_events_per_session_milli
FROM (SELECT unnest(ARRAY{list(_GAPS_US)}) AS gap_us) g, users u
ORDER BY g.gap_us
"""


@register("session_gap_sensitivity", tags=("ext", "timeseries", "sessionize", "audit"), oracle=_GAPSENS_ORACLE)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session counts under three candidate inactivity gaps (10/30/60
    minutes) from ONE pass over the per-user event-time lags — session
    count = users + over-gap boundaries; mean session length in exact
    milli-events (block comment above). Plan shape: one user-keyed
    window for the lags, one 1-row totals aggregate, and per-threshold
    boundary counts over the pinned lag column — thresholds multiply
    the bounded reread, never the exchange."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select("user_id", epoch_micros(events, "ts").alias("us"))
    w = Window.partitionBy("user_id").orderBy("us")
    gaps = pin(ev.select(
        "user_id", (F.col("us") - F.lag("us").over(w)).alias("gap")
    ))  # one lag pass; all three thresholds reuse it
    users = ev.agg(
        F.count_distinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events")
    )
    out = None
    for g in _GAPS_US:
        b = gaps.agg(F.sum((F.col("gap") > g).cast("long")).alias("n_bounds"))
        m = (
            b.crossJoin(F.broadcast(users))
            .select(
                F.lit(g).cast("long").alias("gap_us"),
                "n_events",
                (F.col("n_users") + F.col("n_bounds")).alias("n_sessions"),
                F.expr("n_events * 1000 div (n_users + n_bounds)").alias(
                    "mean_events_per_session_milli"
                ),
            )
        )
        out = m if out is None else out.unionByName(m)
    return out.orderBy("gap_us")


# --- Time-decay multi-touch attribution ----------------------------------------

# Decay weights are powers of two over 10-minute age buckets inside the
# 30-minute window: age 0-10 min -> 4, 10-20 -> 2, 20-30 -> 1. Integer
# weights keep the credit split exact; the remainder of v*w div sumw
# goes to the earliest touch, so value conserves to the unit (the
# multitouch_attribution_daily law, weighted).
_TD_BUCKET_US = 10 * 60 * 1_000_000

_TD_ORACLE = f"""
WITH ev AS (
    SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
           CAST(floor(value * {_MT_FP}) AS BIGINT) AS v
    FROM events
),
c AS (SELECT event_id AS cid, user_id, us AS cus FROM ev WHERE event_type = 'click'),
p AS (SELECT event_id AS pid, user_id, us AS pus, v FROM ev WHERE event_type = 'purchase'),
touch AS (
    SELECT p.pid, p.v, c.cid, c.cus,
           CASE (p.pus - c.cus) // {_TD_BUCKET_US} WHEN 0 THEN 4 WHEN 1 THEN 2 ELSE 1 END AS w,
           row_number() OVER (PARTITION BY p.pid ORDER BY c.cus, c.cid) AS rn
    FROM p JOIN c ON c.user_id = p.user_id
        AND c.cus < p.pus AND c.cus >= p.pus - {_MT_WINDOW_US}
),
based AS (
    SELECT pid, cid, cus, v, rn,
           v * w // (SUM(w) OVER (PARTITION BY pid)) AS base
    FROM touch
),
credit AS (
    SELECT cid, cus,
           base + CASE WHEN rn = 1
                       THEN v - SUM(base) OVER (PARTITION BY pid)
                       ELSE 0 END AS credit_fp
    FROM based
)
SELECT CAST(cus // 86400000000 AS BIGINT) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(credit_fp) AS BIGINT) AS value_fp_received
FROM credit
GROUP BY 1
"""


@register(
    "time_decay_attribution_daily",
    tags=("ext", "attribution", "window"),
    oracle=_TD_ORACLE,
)
def time_decay_attribution_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: clicks closer to the
    purchase earn more credit — weight 4/2/1 by 10-minute age bucket
    inside the 30-minute window (the recency model marketing teams run
    next to the linear split of ``multitouch_attribution_daily``; the
    weights are powers of two so everything stays integer).

    Per purchase: credit_i = v·w_i div Σw, the rounding residue
    v − Σ(v·w_i div Σw) topping up the EARLIEST touch — value conserves
    to the unit exactly (tested law). Same user-keyed touch join and
    day-grain rollup as the linear model: one user_id shuffle, windows
    inside the purchase partition."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "event_id",
        "user_id",
        "event_type",
        epoch_micros(events, "ts").alias("us"),
        F.floor(F.col("value") * _MT_FP).cast("long").alias("v"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("cu"), F.col("us").alias("cus")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("us").alias("pus"), "v"
    )
    touch = p.join(
        c,
        (F.col("cu") == F.col("user_id"))
        & (F.col("cus") < F.col("pus"))
        & (F.col("cus") >= F.col("pus") - _MT_WINDOW_US),
    ).select(
        "pid",
        "cid",
        "cus",
        "v",
        F.expr(
            f"CASE (pus - cus) div {_TD_BUCKET_US} WHEN 0 THEN 4 WHEN 1 THEN 2 ELSE 1 END"
        ).cast("long").alias("w"),
    )
    rw = Window.partitionBy("pid").orderBy("cus", "cid")
    sw = Window.partitionBy("pid")
    credit = (
        touch.select(
            "pid",
            "cid",
            "cus",
            "v",
            "w",
            F.row_number().over(rw).alias("rn"),
            F.sum("w").over(sw).alias("sw"),
        )
        .withColumn("base", F.expr("v * w div sw"))
        .withColumn("paid", F.sum("base").over(sw))
        .select(
            "cid",
            "cus",
            F.expr("base + CASE WHEN rn = 1 THEN v - paid ELSE 0 END").alias("credit_fp"),
        )
    )
    return credit.groupBy(F.expr("cus div 86400000000").cast("long").alias("day")).agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("credit_fp").alias("value_fp_received"),
    )


_MARKOV_ITERS = 10


def _markov_oracle(iters: int = _MARKOV_ITERS) -> str:
    ctes = [
        """seq AS (
    SELECT event_type AS cur,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
    FROM events
)""",
        "tc AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2)",
        "rowsum AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS rn FROM tc GROUP BY 1)",
        "pm AS (SELECT cur, nxt, n * 1000000 // rn AS p_ppm FROM tc JOIN rowsum USING (cur))",
        "types AS (SELECT DISTINCT event_type AS t FROM events)",
        "nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types)",
        "p0 AS (SELECT t, 1000000 // nt.k AS pi FROM types CROSS JOIN nt)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"p{i} AS (SELECT pm.nxt AS t,"
            f" CAST(SUM(p{i - 1}.pi * pm.p_ppm) // 1000000 AS BIGINT) AS pi"
            f" FROM p{i - 1} JOIN pm ON pm.cur = p{i - 1}.t GROUP BY pm.nxt)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
emp AS (
    SELECT event_type AS t, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1
), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS s FROM emp)
SELECT p.t AS event_type,
       CAST(p.pi AS BIGINT) AS stationary_ppm,
       CAST(emp.c * 1000000 // tot.s AS BIGINT) AS empirical_ppm
FROM p{iters} p JOIN emp ON emp.t = p.t CROSS JOIN tot"""
    )


@register("markov_stationary_event_mix", tags=("ext", "analytics", "events", "iterative"), oracle=_markov_oracle())
def markov_stationary_event_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain
    (10 fixed-point power iterations from uniform), next to the
    empirical event mix — "where does user behavior settle if today's
    transition structure persists?". Divergence between the two
    columns flags non-stationary behavior (e.g. a mix propped up by
    one-off entry events rather than the steady-state dynamics) — the
    chain-level companion to ``session_transition_counts``' edge-level
    view.

    Exactness: the transition matrix is integer ppm (count * 1e6 div
    row sum); each iteration is sum(pi_i * P_ij) div 1e6 — one integer
    division per COMPONENT per step after an exact int64 sum (terms
    <= 1e12), so the 10-step trajectory is bit-identical across
    engines and partitionings. The small floor leak per step is shared
    by both engines by construction.

    Plan: one LEAD window per user stream, one hash aggregate to the
    |types|^2 matrix — everything after runs on <= 25-row frames (the
    matrix is pinned once; each iteration is a broadcast join), so the
    iteration cost is independent of event volume."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    tc = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    rowsum = tc.groupBy("cur").agg(F.sum("n").alias("rn"))
    pm = pin(
        tc.join(rowsum, "cur")
        .select("cur", "nxt", F.expr("n * 1000000 div rn").alias("p_ppm"))
    )
    types = events.select(F.col("event_type").alias("t")).distinct()
    nt = types.agg(F.count(F.lit(1)).alias("k"))
    pi = pin(types.crossJoin(F.broadcast(nt)).select("t", F.expr("1000000 div k").alias("pi")))
    for _ in range(_MARKOV_ITERS):
        pi = pin(
            pi.join(pm, pi["t"] == pm["cur"])
            .groupBy(F.col("nxt").alias("t2"))
            .agg(F.expr("CAST(SUM(pi * p_ppm) div 1000000 AS BIGINT)").alias("pi"))
            .withColumnRenamed("t2", "t")
        )
    emp = events.groupBy(F.col("event_type").alias("t")).agg(F.count(F.lit(1)).alias("c"))
    tot = emp.agg(F.sum("c").alias("s"))
    return (
        pi.join(emp, "t")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("t").alias("event_type"),
            F.col("pi").cast("long").alias("stationary_ppm"),
            F.expr("c * 1000000 div s").cast("long").alias("empirical_ppm"),
        )
    )


_HHI_ORACLE = """
WITH rev AS (
    SELECT c.c_nationkey, o.o_custkey,
           CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS DECIMAL(38,0)) AS r
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
), agg AS (
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(r) AS DECIMAL(38,0)) AS tot,
           CAST(SUM(r * r) AS DECIMAL(38,0)) AS sum_sq
    FROM rev GROUP BY 1
)
SELECT c_nationkey, n_customers,
       CAST(tot AS BIGINT) AS total_cents,
       CAST(floor(CAST(sum_sq AS DOUBLE) / CAST(tot AS DOUBLE) / CAST(tot AS DOUBLE) * 1000000) AS BIGINT) AS hhi_ppm
FROM agg
"""


@register("hhi_revenue_by_nation", tags=("ext", "analytics", "stats"), oracle=_HHI_ORACLE)
def hhi_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of order revenue across the
    customers of each nation: HHI = sum of squared revenue shares, in
    ppm — 1e6/n for perfectly even books, 1e6 for a single-customer
    nation. The antitrust-style concentration number that complements
    ``revenue_topk_concentration`` (top-k share) and the skew report:
    HHI moves with the WHOLE distribution, not just the head, and its
    reciprocal is the "effective number of customers" capacity
    planners use.

    Exactness: revenue in fixed-point cents (floor(price*100) — the
    explicit floor sidesteps the DuckDB-rounds/Spark-truncates
    double->BIGINT cast divergence); per-customer squares and their
    sums accumulate in DECIMAL(38,0) (cents^2 sums pass int64 near
    sf1); the share ratio crosses to double through scale-0
    conversions and is floored to ppm in identical literal order.

    Plan: one orders aggregate keyed (nation, customer) — the
    customer dimension BROADCASTS onto the orders scan for the nation
    key — then a nation-grain re-aggregate of that customer-sized
    frame. Nothing order-scaled survives the first exchange."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("decimal(38,0)")
            .alias("r")
        )
    )
    agg = rev.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("r").cast("decimal(38,0)").alias("tot"),
        F.sum(F.col("r") * F.col("r")).cast("decimal(38,0)").alias("sum_sq"),
    )
    return agg.select(
        "c_nationkey",
        "n_customers",
        F.col("tot").cast("long").alias("total_cents"),
        F.floor(
            F.col("sum_sq").cast("double")
            / F.col("tot").cast("double")
            / F.col("tot").cast("double")
            * 1_000_000
        )
        .cast("long")
        .alias("hhi_ppm"),
    )
