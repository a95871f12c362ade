"""[EXT] analytics operator set (SURVEY.md §2.9): hash aggregation,
distinct, grouping sets/rollup/cube, sorts/limits/top-k, set ops,
ranking & analytic windows, semi/anti joins, pivot, and the
occupancy-rate query the reference intended to ship (Main.java:102-106 +
README.md:10) but never implemented.

Scale notes are per-query; the common rules:
- aggregates use exact decimal sums surfaced as doubles via the
  portable unscaled-BIGINT conversion (functions/exact.py) so results
  are partition-order independent AND bit-identical across engines;
- top-k is ORDER BY + LIMIT with a unique tie-break key: Spark executes
  it as TakeOrderedAndProject (per-partition heap + driver merge of k
  rows), never a global sort;
- set ops / semi / anti are expressed as the dedicated operators so
  Catalyst can pick broadcast variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.functions.exact import dbl, dec, dsum, sql_dbl, sql_dsum
from flinkstreametl_spark.operators.joins import anti_join, dim_3way, semi_join
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.plans.shared import REV_SQL, rev_col
from flinkstreametl_spark.sources.parquet import load_table, register_views


@register(
    "q1_pricing_summary",
    tags=("ext", "aggregate", "bench"),
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dbl(f'SUM({REV_SQL})', 6)} AS sum_disc_price,
       {sql_dbl(f'SUM({REV_SQL} * (1 + CAST(l_tax AS DECIMAL(6,4))))', 6)} AS sum_charge,
       {sql_dsum('l_quantity')} / COUNT(*) AS avg_qty,
       {sql_dsum('l_extendedprice')} / COUNT(*) AS avg_price,
       {sql_dsum('l_discount', 6, 4)} / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the canonical hash-aggregate
    benchmark. Map-side partial aggregation + single shuffle on the
    2-value group keys; all arithmetic inside whole-stage codegen.
    sum_charge is surfaced at 6-decimal resolution (exact)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dbl(F.sum(rev_col()), 6).alias("sum_disc_price"),
        dbl(F.sum(rev_col() * (F.lit(1) + dec("l_tax", 6, 4))), 6).alias("sum_charge"),
        (dbl(F.sum(dec("l_quantity")), 2) / n).alias("avg_qty"),
        (dbl(F.sum(dec("l_extendedprice")), 2) / n).alias("avg_price"),
        (dbl(F.sum(dec("l_discount", 6, 4)), 4) / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@register(
    "q3_shipping_priority",
    tags=("ext", "aggregate", "join", "topk", "bench"),
    oracle=f"""
SELECT o_orderkey,
       {sql_dbl(f'SUM({REV_SQL})', 6)} AS revenue,
       o_orderdate,
       o_orderpriority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: filtered fact-fact join -> aggregate -> top-k.
    Revenue is an exact decimal sum, so the DESC ordering (tie-broken by
    key) is deterministic across engines and partitionings."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dbl(F.sum(rev_col()), 6).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "q5_region_revenue",
    tags=("ext", "aggregate", "join", "bench"),
    oracle=f"""
SELECT r.r_name AS region_name,
       n.n_name AS nation_name,
       {sql_dbl(f'SUM({REV_SQL})', 6)} AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY r.r_name, n.n_name
""",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local-supplier revenue: the multi-join stress
    query. Dimension sides (customer/supplier/nation/region) broadcast;
    only the lineitem⨝orders join shuffles — and AQE can convert it when
    the filtered orders side is small."""
    li = load_table(spark, sf_dir, "lineitem").alias("l")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .alias("o")
    )
    customer = load_table(spark, sf_dir, "customer").alias("c")
    supplier = load_table(spark, sf_dir, "supplier").alias("s")
    nation = load_table(spark, sf_dir, "nation").alias("n")
    region = load_table(spark, sf_dir, "region").alias("r")
    return (
        li.join(orders, F.col("l.l_orderkey") == F.col("o.o_orderkey"))
        .join(F.broadcast(customer), F.col("o.o_custkey") == F.col("c.c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l.l_suppkey") == F.col("s.s_suppkey"))
            & (F.col("s.s_nationkey") == F.col("c.c_nationkey")),
        )
        .join(F.broadcast(nation), F.col("c.c_nationkey") == F.col("n.n_nationkey"))
        .join(F.broadcast(region), F.col("n.n_regionkey") == F.col("r.r_regionkey"))
        .groupBy(F.col("r.r_name").alias("region_name"), F.col("n.n_name").alias("nation_name"))
        .agg(dbl(F.sum(rev_col()), 6).alias("revenue"))
    )


@register(
    "group_distinct_agg",
    tags=("ext", "aggregate", "distinct"),
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY event_type
""",
)
def group_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate with COUNT(DISTINCT): Spark expands to a two-phase
    partial-distinct aggregate — no driver-side distinct."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dsum("value").alias("sum_value"),
    )


@register("approx_distinct_users", tags=("ext", "aggregate", "approx"), driver=False)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the scale path for
    distinct-count at 100 TB — mergeable sketches, no distinct shuffle.
    No oracle: HLL estimates are engine-specific (driver does the
    rows-only check); tests assert relative error vs exact instead."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
    )


@register(
    "rollup_agg",
    tags=("ext", "aggregate", "grouping"),
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       COUNT(*) AS n,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals — Catalyst Expand + single aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@register(
    "cube_agg",
    tags=("ext", "aggregate", "grouping"),
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       COUNT(*) AS n,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over both group keys."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@register(
    "grouping_sets_agg",
    tags=("ext", "aggregate", "grouping"),
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       COUNT(*) AS n,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL over a registered view (the
    aggregate expression text is shared with the oracle — both engines
    accept the same unscaled-BIGINT conversion)."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               {sql_dsum('l_quantity')} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "pivot_status_qty",
    tags=("ext", "aggregate", "pivot"),
    oracle=f"""
SELECT l_returnflag,
       {sql_dbl("SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END)", 2)} AS O,
       {sql_dbl("SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END)", 2)} AS F
FROM lineitem
GROUP BY l_returnflag
""",
)
def pivot_status_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot = conditional aggregation; explicit value list so the plan
    needs no extra distinct pass over the pivot column."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dbl(F.sum(dec("l_quantity")), 2))
    )


@register(
    "topk_orders",
    tags=("ext", "sort", "topk"),
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT: Spark plans TakeOrderedAndProject — per-partition
    top-k heaps merged on the driver, no global sort. Unique tie-break
    key makes the result set deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    ).limit(10)


@register(
    "sort_events_top50",
    tags=("ext", "sort"),
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events
ORDER BY value DESC, event_id
LIMIT 50
""",
)
def sort_events_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort + limit on the events stream table."""
    events = load_table(spark, sf_dir, "events")
    return events.select("event_id", "user_id", "event_type", "value").orderBy(
        F.col("value").desc(), "event_id"
    ).limit(50)


@register(
    "window_rank_top3",
    tags=("ext", "window"),
    oracle="""
SELECT c_custkey, c_nationkey, c_acctbal, rk
FROM (
    SELECT c_custkey, c_nationkey, c_acctbal,
           ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
    FROM customer
) t
WHERE rk <= 3
""",
)
def window_rank_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group via ranking window — the standard 'top customers
    per nation'. One shuffle on the partition key; Spark's
    WindowGroupLimit pushes the rk<=3 limit into the sort at scale."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return (
        customer.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_custkey", "c_nationkey", "c_acctbal", "rk")
    )


@register(
    "window_running_total",
    tags=("ext", "window"),
    oracle=f"""
SELECT o_orderkey, o_custkey, o_orderdate,
       {sql_dbl('''SUM(CAST(o_totalprice AS DECIMAL(12,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''', 2)} AS running_total
FROM orders
""",
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window: per-customer running revenue. Exact decimal
    accumulation keeps the running values engine-identical."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        dbl(F.sum(dec("o_totalprice")).over(w), 2).alias("running_total"),
    )


@register(
    "semi_join_with_orders",
    tags=("ext", "join", "semi"),
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def semi_join_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS): no right-side columns, no row multiplication."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return semi_join(customer, orders, "c_custkey").select("c_custkey", "c_name")


@register(
    "anti_join_no_orders",
    tags=("ext", "join", "anti"),
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS): customers with no orders."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return anti_join(customer, orders, "c_custkey").select("c_custkey", "c_name")


@register(
    "setop_union_nations",
    tags=("ext", "setop"),
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey FROM supplier
""",
)
def setop_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "setop_intersect_nations",
    tags=("ext", "setop"),
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
""",
)
def setop_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of customer and supplier nation keys."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "setop_except_nations",
    tags=("ext", "setop"),
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey FROM supplier
""",
)
def setop_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics, = DataFrame.subtract): customer-only nations."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@register(
    "occupancy_rate_by_region",
    tags=("ext", "aggregate", "reference-goal", "bench"),
    oracle="""
SELECT r.r_name AS region_name,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN e.ts >= TIMESTAMP '2024-01-10 00:00:00'
                      AND e.ts <  TIMESTAMP '2024-01-20 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
       CAST(CAST(SUM(CASE WHEN e.ts >= TIMESTAMP '2024-01-10 00:00:00'
                           AND e.ts <  TIMESTAMP '2024-01-20 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
           / COUNT(*) AS active_rate
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def occupancy_rate_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The query the reference SET OUT to build but left as a comment
    (占置率/预定率 per region, README.md:10 + Main.java:102-106): per-region
    ratio of events active in a time window. 'Now' parameterized as
    literals (SURVEY.md §7 hard part (5)). Broadcast-enriched, one
    aggregate shuffle on region."""
    events = load_table(spark, sf_dir, "events")
    dim = dim_3way(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )
    active = (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp")) & (
        F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp")
    )
    enriched = events.join(F.broadcast(dim), events.user_id == dim.dim_key, "left")
    return (
        enriched.groupBy("region_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(active, 1).otherwise(0)).alias("n_active"),
        )
        .select(
            "region_name",
            "n_events",
            "n_active",
            (F.col("n_active").cast("double") / F.col("n_events")).alias("active_rate"),
        )
    )
