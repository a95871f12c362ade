"""[EXT] TPC-H-shaped query patterns the reference lacks entirely
(SURVEY.md §2.4-2.6 list aggregation/sort/set-op gaps; §2.9 schedules
them). These exercise the optimizer paths a 100 TB deployment leans on:

- multi-way fact/dim joins with broadcast dims (q7/q8/q9): only the
  lineitem-orders join shuffles; nation/supplier/customer broadcast;
- correlated-subquery decorrelation (q17): expressed as an explicit
  aggregate-then-join so the plan is one scan of lineitem per role
  instead of a per-row subquery;
- EXISTS / NOT EXISTS → semi/anti joins (q21/q22): no row explosion,
  map-side broadcastable;
- NOT IN with a non-nullable key → anti join (q16);
- count-over-outer-join distribution (q13);
- disjunctive predicate pushdown (q19): the OR of conjunct groups is
  still pushed to the parquet scan by Catalyst.

All money/quantity arithmetic uses exact decimal sums surfaced as
doubles via the portable unscaled-BIGINT conversion (functions/exact.py)
so results are partition-order independent and bit-identical to the
DuckDB oracle. Threshold comparisons against an average are rewritten
multiplicatively (5*n*x < sum) so both engines compare exact decimals
instead of last-ulp-divergent doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.functions.exact import dbl, dec, dsum, sql_dbl, sql_dsum
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.plans.shared import REV_SQL, rev_col
from flinkstreametl_spark.sources.parquet import load_table


@register(
    "q7_nation_trade_volume",
    tags=("ext", "join", "aggregate", "bench"),
    oracle=f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
       {sql_dbl(f'SUM({REV_SQL})', 6)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_nationkey <> n2.n_nationkey
GROUP BY n1.n_name, n2.n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)
""",
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style cross-nation trade volume: the canonical 6-way
    star join. At scale only lineitem⋈orders shuffles (both huge, hashed
    on orderkey); supplier/customer/nation are broadcast so the nation
    lookups and the inequality filter run map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    cust = F.broadcast(load_table(spark, sf_dir, "customer"))
    nation = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("s_nk") != F.col("c_nk"))
        .groupBy("supp_nation", "cust_nation", F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(dbl(F.sum(rev_col()), 6).alias("revenue"))
    )


@register(
    "q8_market_share",
    tags=("ext", "join", "aggregate", "bench"),
    oracle=f"""
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
       {sql_dbl(f"SUM(CASE WHEN n2.n_name = 'NATION_1' THEN {REV_SQL} ELSE CAST(0 AS DECIMAL(12,2)) END)", 6)}
         / {sql_dbl(f'SUM({REV_SQL})', 6)} AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA'
GROUP BY CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style market share: conditional aggregation over a star
    join — share of REGION_0 customers' revenue supplied by NATION_1,
    per year. Both the numerator and denominator are exact decimal sums
    converted identically to double, so the final division is a single
    identical double op in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = F.broadcast(load_table(spark, sf_dir, "customer"))
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nation = load_table(spark, sf_dir, "nation")
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    n1 = F.broadcast(nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")))
    n2 = F.broadcast(nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    num = F.when(F.col("supp_nation") == "NATION_1", rev_col()).otherwise(F.lit(0).cast("decimal(12,2)"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("c_nk"))
        .join(region, F.col("c_rk") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n2, F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg((dbl(F.sum(num), 6) / dbl(F.sum(rev_col()), 6)).alias("mkt_share"))
    )


@register(
    "q9_profit_by_nation_year",
    tags=("ext", "join", "aggregate", "bench"),
    oracle=f"""
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
       {sql_dbl(f'SUM({REV_SQL} - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)))', 6)}
         AS profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey  = p_partkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%e%'
GROUP BY n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)
""",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style product-type profit (retail price standing in for
    the absent partsupp supplycost): revenue minus cost per supplier
    nation and year. part/supplier/nation broadcast; profit is an exact
    decimal expression (products stay far below the 38-digit cap)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = F.broadcast(load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%e%")))
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    profit = rev_col() - dec("p_retailprice", 12, 2) * dec("l_quantity", 12, 2)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(dbl(F.sum(profit), 6).alias("profit"))
    )


@register(
    "q10_returned_items",
    tags=("ext", "join", "aggregate", "topk"),
    oracle=f"""
SELECT c_custkey, c_name,
       {sql_dbl(f'SUM({REV_SQL})', 6)} AS revenue,
       c_acctbal, n_name, c_mktsegment
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item ranking: who returned the most
    revenue in a year. Filters reach the parquet scans (returnflag,
    orderdate range); top-20 runs as TakeOrderedAndProject with the
    exact decimal revenue as a deterministic sort key."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    cust = F.broadcast(load_table(spark, sf_dir, "customer"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(dbl(F.sum(rev_col()), 6).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name", "c_mktsegment")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q13_order_count_distribution",
    tags=("ext", "join", "aggregate", "outer", "bench"),
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'P'
    GROUP BY c_custkey
) c_orders
GROUP BY c_count
""",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style customer order-count distribution: left outer
    join with an extra join-side predicate (not a post-filter — the
    distinction matters: customers with only 'P' orders must count 0,
    not disappear), COUNT(col) null-skipping semantics, then a second
    aggregation over the counts. Two shuffles, both on compact keys."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "q15_top_supplier",
    tags=("ext", "join", "subquery"),
    oracle=f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM({REV_SQL}) AS total_rev
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, {sql_dbl('total_rev', 6)} AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
ORDER BY s_suppkey
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style top supplier: aggregate, then keep the row(s)
    equal to the aggregate's max — a scalar subquery over a derived
    table. The max comparison happens on the exact decimal, never the
    double, so ties and the winner are engine-independent. Spark plan:
    one pass builds per-supplier revenue, an empty-frame window max
    (broadcast-size: one row per supplier) selects the top."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(F.sum(rev_col()).alias("total_rev"))
    # Global-max via an unpartitioned window: the aggregate result is
    # tiny (|suppliers| rows), so the single-partition exchange is cheap
    # and avoids a second scan of lineitem for the scalar subquery.
    rev = rev.withColumn("max_rev", F.max("total_rev").over(Window.partitionBy()))
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    return (
        rev.filter(F.col("total_rev") == F.col("max_rev"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", dbl(F.col("total_rev"), 6).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@register(
    "q16_supplier_part_counts",
    tags=("ext", "join", "aggregate", "anti", "distinct"),
    oracle="""
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier/part distribution (lineitem standing in
    for the absent partsupp): distinct-supplier counts per part
    attribute bucket, excluding suppliers on a complaint list (negative
    balance) — the NOT IN becomes a broadcast anti join over the
    non-nullable key, which is the only safe rewrite at scale (NOT IN
    over a nullable column is a different, three-valued-logic plan)."""
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#45")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_qty_revenue",
    tags=("ext", "join", "subquery", "aggregate"),
    oracle=f"""
WITH per_part AS (
    SELECT l_partkey,
           SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_partkey
)
SELECT {sql_dbl('SUM(CAST(l_extendedprice AS DECIMAL(12,2)))', 2)} / 7.0 AS avg_yearly
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN per_part ON lineitem.l_partkey = per_part.l_partkey
WHERE p_brand = 'Brand#23'
  AND 5 * n * CAST(l_quantity AS DECIMAL(12,2)) < sum_qty
""",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style small-quantity-order revenue: the classic
    correlated subquery (l_quantity < 0.2 * per-part average),
    decorrelated into aggregate-then-join so lineitem is scanned twice
    independently instead of once per row. The threshold test is
    rewritten multiplicatively (5·n·qty < Σqty) so both engines compare
    exact decimals — a 0.2*avg double compare can flip rows on the last
    ulp between engines (and between partitionings)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pp_partkey")).agg(
        F.sum(dec("l_quantity")).alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )
    part = F.broadcast(load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23"))
    joined = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("pp_partkey"))
        .filter(F.lit(5) * F.col("n") * dec("l_quantity") < F.col("sum_qty"))
    )
    return joined.agg((dbl(F.sum(dec("l_extendedprice")), 2) / F.lit(7.0)).alias("avg_yearly"))


@register(
    "q19_disjunctive_predicate",
    tags=("ext", "join", "aggregate"),
    oracle=f"""
SELECT {sql_dbl(f'SUM({REV_SQL})', 6)} AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
""",
)
def q19_disjunctive_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunctive join predicate: an OR of conjunct
    groups spanning both sides. Catalyst splits the disjunction into
    per-side implied filters (p_brand IN (...), p_size <= 15,
    l_quantity <= 30) and pushes them into both parquet scans before
    the broadcast join evaluates the full residual — verify with
    .explain(): PushedFilters on both scans."""
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(load_table(spark, sf_dir, "part"))
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(dbl(F.sum(rev_col()), 6).alias("revenue"))
    )


@register(
    "q21_sole_supplier_orders",
    tags=("ext", "join", "anti", "exists"),
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) l1
  ON l1.l_suppkey = s_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE n_name = 'NATION_0'
  AND o_orderstatus = 'F'
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
""",
)
def q21_sole_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped correlated NOT EXISTS (sole-supplier variant:
    orders where a NATION_0 supplier was the only supplier, the
    receipt-date clauses dropped with the absent columns): the
    correlated NOT EXISTS over lineitem becomes a self anti join on
    (same order, different supplier) — no row explosion, and at scale
    both sides shuffle once on l_orderkey."""
    li_pairs = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    other = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    sole = li_pairs.join(
        other,
        (F.col("l_orderkey") == F.col("o2_orderkey")) & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_anti",
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_0")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    return (
        sole.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@register(
    "q22_idle_customers",
    tags=("ext", "anti", "subquery", "aggregate"),
    oracle=f"""
WITH thresh AS (
    SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS s, COUNT(*) AS n
    FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey,
       COUNT(*) AS numcust,
       {sql_dsum('c_acctbal')} AS totacctbal
FROM customer, thresh
WHERE n * CAST(c_acctbal AS DECIMAL(12,2)) > s
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY c_nationkey
""",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: customers with above-average balance and no
    recent orders (none since 2000-01-01), per nation. The
    global-average threshold is a one-row broadcast cross join
    (computed once, not per row), compared multiplicatively in exact
    decimals; NOT EXISTS on recent orders is an anti join — at 100 TB
    the orders side is filtered and projected to just o_custkey before
    the shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    thresh = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(dec("c_acctbal")).alias("s"), F.count(F.lit(1)).alias("n")
    )
    okeys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("n") * dec("c_acctbal") > F.col("s"))
        .join(okeys, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal").alias("totacctbal"))
    )
