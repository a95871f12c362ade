"""[EXT] Warehouse-pattern operators: SCD2 history build, coherent
(referential-integrity-preserving) sampling, exact per-group trend fit.

These are the table-maintenance / pipeline-hygiene patterns a
production deployment of the reference's ETL would grow into (the
reference stops at enrich-and-upsert; SURVEY.md §2.9 schedules the
extensions):

- SCD2: the upsert sink (streaming/sinks.py REPLACE semantics) keeps
  only latest state; slowly-changing-dimension type 2 keeps the full
  validity-interval history instead. One window shuffle per key.
- Coherent sampling: sampling a FACT table breaks its foreign keys;
  sampling by a hash of the JOIN KEY keeps every related row across
  tables with ZERO joins — each table filters independently on the
  same deterministic predicate. At 100 TB this is the only shape that
  works: no shuffle, no coordination, pushdown-friendly.
- Trend fit: closed-form OLS from per-group sums. Sums run in exact
  fixed-point (functions/exact.py rationale) so the result is
  bit-reproducible under any partitioning / AQE re-plan; the float
  division happens once, on exact inputs, at the very end. The
  engine-native fast path is regr_slope/regr_intercept (built-ins in
  both Spark and DuckDB) — order-dependent double sums make them
  hash-unstable across engines, hence the fixed-point twin here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.functions.exact import dbl, dec, dsum, sql_dbl
from flinkstreametl_spark.operators.windows import epoch_micros
from flinkstreametl_spark.plans.shared import REV_SQL
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.sources.parquet import load_table

_SCD2_ORACLE = """
SELECT o_custkey,
       o_orderstatus,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER w AS valid_to,
       (lead(o_orderdate) OVER w IS NULL) AS is_current,
       CAST(row_number() OVER w AS BIGINT) AS version
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("scd2_order_status_history", tags=("ext", "warehouse", "window"), oracle=_SCD2_ORACLE)
def scd2_order_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build: each order sets its customer's status from
    its order date until the next order (validity chained with lead());
    the open-ended row is the current one. Deterministic under date ties
    via the unique o_orderkey tie-break. One shuffle on o_custkey; at
    100 TB this is the standard dimension-history merge shape (and the
    window partitioning is reusable by any downstream per-customer op).
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
        F.row_number().over(w).cast("long").alias("version"),
    )


# Keep 1/16 of the keyspace: top hex digit of md5(key) == '0'. The
# predicate is a pure function of the join key, so orders and lineitem
# agree on membership WITHOUT any join or broadcast.
_SAMPLE_PRED = "substr(md5(CAST({key} AS VARCHAR)), 1, 1) = '0'"

# Revenue sums in exact decimal (functions/exact.py): float SUM is
# partition-order dependent and diverged from DuckDB at sf0.01.
_COHERENT_ORACLE = f"""
WITH so AS (
    SELECT * FROM orders WHERE {_SAMPLE_PRED.format(key="o_orderkey")}
), sl AS (
    SELECT * FROM lineitem WHERE {_SAMPLE_PRED.format(key="l_orderkey")}
)
SELECT so.o_orderkey,
       so.o_custkey,
       CAST(COUNT(sl.l_orderkey) AS BIGINT) AS n_items,
       {sql_dbl(f"COALESCE(SUM({REV_SQL}), 0)", 6)} AS sampled_revenue
FROM so LEFT JOIN sl ON so.o_orderkey = sl.l_orderkey
GROUP BY so.o_orderkey, so.o_custkey
"""


@register("coherent_sample_orders", tags=("ext", "pipeline", "sampling"), oracle=_COHERENT_ORACLE)
def coherent_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coherent cross-table sample: orders and lineitem each keep rows
    whose ORDER KEY md5 starts with '0' (a deterministic 1/16 sample of
    the keyspace), so every sampled order arrives with ALL its line
    items — referential integrity preserved with zero coordination.
    Both filters evaluate independently at scan time on each table; the
    verification join that follows runs on 1/16-sized inputs. This is
    how a 100 TB pipeline cuts a faithful dev slice: same predicate on
    every table that shares the key, no join against a sampled-key
    list, no broadcast."""
    def pred(key: str) -> F.Column:
        # Same digest as the oracle's md5(CAST(key AS VARCHAR)): both
        # engines hash the decimal string form of the key.
        return F.substring(F.md5(F.col(key).cast("string").cast("binary")), 1, 1) == "0"

    pred_o = pred("o_orderkey")
    pred_l = pred("l_orderkey")
    so = load_table(spark, sf_dir, "orders").filter(pred_o)
    sl = load_table(spark, sf_dir, "lineitem").filter(pred_l)
    rev = F.sum(dec("l_extendedprice", 12, 2) * (F.lit(1) - dec("l_discount", 6, 4)))
    return (
        so.join(sl, so.o_orderkey == sl.l_orderkey, "left")
        .groupBy("o_orderkey", "o_custkey")
        .agg(
            F.count("l_orderkey").cast("long").alias("n_items"),
            dbl(F.coalesce(rev, F.lit(0).cast("decimal(18,6)")), 6).alias("sampled_revenue"),
        )
    )


# OLS in exact fixed-point: x = MICROSECONDS since 2024-01-01 (the
# fixture events carry sub-second timestamps; epoch-seconds would make
# the engines disagree on rounding — DuckDB's CAST(epoch(ts) AS
# DECIMAL) rounds, Spark's timestampdiff(SECOND) truncates), y = value
# at 10^6 resolution. All five sums are decimal-exact => slope and mean
# are ONE double division over bit-identical operands at the very end —
# reproducible under any partitioning, identical in DuckDB.
# DECIMAL(38,0) accumulators keep sxx (~1e27/term) overflow-free.
# Unit bookkeeping: slope in y-fp per µs × 1e6 µs/s ÷ 1e6 fp/value = 1,
# so the raw division IS the slope per second.
_X0_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00 UTC, epoch µs

_TREND_ORACLE = f"""
WITH pts AS (
    SELECT event_type,
           CAST(epoch_us(ts) - {_X0_US} AS DECIMAL(38,0)) AS x,
           CAST(CAST(floor(value * 1000000) AS BIGINT) AS DECIMAL(38,0)) AS y
    FROM events
), s AS (
    SELECT event_type,
           CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx
    FROM pts GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_points,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 12) AS slope_per_sec,
       ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS mean_value
FROM s
"""


@register("trend_fit_by_event_type", tags=("ext", "ml", "agg"), oracle=_TREND_ORACLE)
def trend_fit_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend (value vs time) via closed-form sums in
    exact DECIMAL arithmetic — the partition-invariant twin of the
    regr_slope/regr_intercept built-ins (whose double sums are
    order-dependent and so not bit-stable under AQE). One partial+final
    aggregate, no shuffle beyond the groupBy; the five sums are the
    whole state, so this scales like any hash aggregate."""
    events = load_table(spark, sf_dir, "events")
    pts = events.select(
        "event_type",
        (epoch_micros(events, "ts") - F.lit(_X0_US)).cast("decimal(38,0)").alias("x"),
        F.floor(F.col("value") * 1_000_000).cast("long").cast("decimal(38,0)").alias("y"),
    )
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    return s.select(
        "event_type",
        n.cast("long").alias("n_points"),
        F.round(
            (n * sxy - sx * sy).cast("double") / (n * sxx - sx * sx).cast("double"), 12
        ).alias("slope_per_sec"),
        F.round(sy.cast("double") / n.cast("double") / 1_000_000.0, 6).alias("mean_value"),
    )


from flinkstreametl_spark.operators.zorder import interleave_bits_sql, zorder_key  # noqa: E402
from flinkstreametl_spark.session import pin

# The interleave SQL is engine-portable (pure shifts/masks); day index
# from epoch-µs integer division — NTZ-safe and identical in DuckDB.
_Z_ORACLE = f"""
WITH k AS (
    SELECT o_orderkey,
           o_custkey % 1024 AS ckey,
           (epoch_us(o_orderdate) // 86400000000) % 1024 AS dday
    FROM orders
)
SELECT o_orderkey, ckey, dday,
       CAST({interleave_bits_sql("ckey", "dday")} AS BIGINT) AS z
FROM k
"""


@register("zorder_key_orders", tags=("ext", "layout", "zorder"), oracle=_Z_ORACLE)
def zorder_key_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (z-order) clustering key per order from (customer bucket,
    day bucket) — the multi-dimensional data-skipping layout key
    (operators/zorder.py; clustering property proven quantitatively in
    tests/test_zorder.py). Pure per-row integer arithmetic: computed at
    write time with zero extra passes, then `repartitionByRange(z)`
    gives every file a compact rectangle of the 2-D key space so
    min/max pruning works on EITHER filter column."""
    orders = load_table(spark, sf_dir, "orders")
    k = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 1024).alias("ckey"),
        (F.floor(epoch_micros(orders, "o_orderdate") / F.lit(86_400_000_000)) % 1024).cast("long").alias("dday"),
    )
    return k.select("o_orderkey", "ckey", "dday", zorder_key("ckey", "dday").alias("z"))


_DQ_ORACLE = """
SELECT
  CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT) AS neg_price_orders,
  CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS orphan_lineitems,
  CAST((SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1) AS BIGINT) AS bad_discounts,
  CAST((SELECT COUNT(*) FROM events WHERE event_type NOT IN
        ('click','view','purchase','signup','error')) AS BIGINT) AS unknown_event_types,
  CAST((SELECT COUNT(*) FROM documents WHERE text IS NULL OR length(trim(text)) = 0) AS BIGINT) AS empty_documents,
  CAST((SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT) AS orphan_customers
"""


@register("dq_violation_counts", tags=("ext", "warehouse", "quality"), oracle=_DQ_ORACLE)
def dq_violation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (dbt-test style) in ONE pass per
    table: null/range checks are map-side predicates; referential
    checks are anti-joins (broadcast when the parent's key set fits,
    shuffled otherwise — never an EXISTS-per-row probe). The output is
    a single violations row a pipeline gate can assert on; at 100 TB
    each count is a scan + conditional aggregate, and the FK checks
    ride the same join machinery as the queries they protect."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    documents = load_table(spark, sf_dir, "documents")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def one(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias(name))

    checks = [
        one(orders.filter(F.col("o_totalprice") <= 0), "neg_price_orders"),
        one(lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"), "orphan_lineitems"),
        one(lineitem.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 1)), "bad_discounts"),
        one(events.filter(~F.col("event_type").isin("click", "view", "purchase", "signup", "error")), "unknown_event_types"),
        one(documents.filter(F.col("text").isNull() | (F.length(F.trim(F.col("text"))) == 0)), "empty_documents"),
        one(customer.join(nation, customer.c_nationkey == nation.n_nationkey, "left_anti"), "orphan_customers"),
    ]
    # single lazy plan: six 1-row aggregates cross-joined (each side is
    # one row, so every join is a trivial broadcast) — no driver-side
    # actions, composable like any other query
    out = checks[0]
    for c in checks[1:]:
        out = out.crossJoin(c)
    return out


# Median-absolute-deviation: both medians are EXACT order statistics
# (percentile_disc semantics — rank ceil(n/2) under a deterministic
# tie-break), so both engines select the identical data value; the
# deviation |x - med| is one IEEE subtract of two doubles, identical
# everywhere. Two rank windows + two small aggregates, all partitioned
# by the group key — the fact shuffles once and every later operator
# reuses the exchange.
_MAD_ORACLE = """
WITH ranked AS (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
           COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM orders
), med AS (
    SELECT o_orderpriority, MAX(n) AS n,
           MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN o_totalprice END) AS median_price
    FROM ranked GROUP BY o_orderpriority
), dev AS (
    SELECT r.o_orderpriority, m.n, m.median_price,
           abs(r.o_totalprice - m.median_price) AS d,
           row_number() OVER (PARTITION BY r.o_orderpriority
                              ORDER BY abs(r.o_totalprice - m.median_price), r.o_orderkey) AS drn
    FROM ranked r JOIN med m ON r.o_orderpriority = m.o_orderpriority
)
SELECT o_orderpriority,
       CAST(MAX(n) AS BIGINT) AS n_orders,
       MAX(median_price) AS median_price,
       MAX(CASE WHEN drn = CAST(ceil(0.5 * n) AS BIGINT) THEN d END) AS mad_price
FROM dev GROUP BY o_orderpriority
"""


@register("mad_robust_price", tags=("ext", "aggregate", "robust"), oracle=_MAD_ORACLE)
def mad_robust_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per order priority — the robust
    dispersion statistic (stddev is dragged by outliers; MAD is what a
    data-quality monitor should alarm on). Median = exact rank-selected
    order statistic (no interpolation, so Spark and DuckDB pick the
    same value bit-for-bit); the second median runs over |x - median|.

    Plan: everything is STACKED WINDOWS over the same o_orderpriority
    partitioning — rank window, unbounded median-pick window, deviation
    rank window, final aggregate. One exchange of the fact, three
    in-partition sorts, zero joins (an earlier draft aggregated the
    median into a dimension and broadcast it back; that formulation
    re-shuffled the fact once per branch because the window subtree was
    referenced twice — at 100 TB the fact must move once). Per-group
    state is a row counter, so a skewed priority degrades to a bigger
    sort, never to OOM."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wc = Window.partitionBy("o_orderpriority")
    ranked = orders.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    pick = F.expr("CAST(ceil(0.5 * n) AS BIGINT)")
    med = ranked.withColumn(
        "median_price", F.max(F.when(F.col("rn") == pick, F.col("o_totalprice"))).over(wc)
    )
    d = F.abs(F.col("o_totalprice") - F.col("median_price"))
    wd = Window.partitionBy("o_orderpriority").orderBy(d, "o_orderkey")
    devr = med.select(
        "o_orderpriority",
        "n",
        "median_price",
        d.alias("d"),
        F.row_number().over(wd).alias("drn"),
    )
    return devr.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.max("median_price").alias("median_price"),
        F.max(F.when(F.col("drn") == pick, F.col("d"))).alias("mad_price"),
    )


# z-score tail flagging with the comparison carried out ENTIRELY in
# fixed-point integers: |x - mean| > 1.5·sigma is squared and cleared
# of divisions into 4·(n-1)·(n·y - s1)² > 9·n·(n·s2 - s1²), where
# y = floor(value·10⁶). Every operand is an exact integer (DECIMAL(38)
# on Spark, HUGEINT in DuckDB), so the boolean is bit-identical — no
# float mean, no float stddev, no borderline-row flips. Magnitudes:
# y ≤ 5·10⁸, n ≤ 10⁶ ⇒ LHS ≤ ~10³⁵ < 10³⁸.
_ZTAIL_ORACLE = """
WITH y AS (
    SELECT event_id, event_type, value,
           CAST(floor(value * 1000000) AS HUGEINT) AS yf
    FROM events
), s AS (
    SELECT event_type,
           CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(yf) AS s1,
           SUM(yf * yf) AS s2
    FROM y GROUP BY event_type
)
SELECT event_id, y.event_type, value
FROM y JOIN s ON y.event_type = s.event_type
WHERE 4 * (n - 1) * (n * yf - s1) * (n * yf - s1) > 9 * n * (n * s2 - s1 * s1)
"""


@register("zscore_tail_events", tags=("ext", "aggregate", "robust"), oracle=_ZTAIL_ORACLE)
def zscore_tail_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value sits beyond 1.5 standard deviations of their
    event_type mean — the anomaly-gate shape (per-group moments, then
    a per-row comparison). The mean/stddev comparison is algebraically
    rearranged into pure integer arithmetic on fixed-point values, so
    group moments stay exact and mergeable (partition-order-free) and
    the flag cannot flip on a borderline row; the threshold 1.5 enters
    as the exact rational 9/4. Plan: one hash aggregate for the 5
    moment rows, broadcast back over the fact — one shuffle, no
    window."""
    events = load_table(spark, sf_dir, "events")
    y = events.select(
        "event_id",
        "event_type",
        "value",
        F.floor(F.col("value") * 1_000_000).cast("decimal(38,0)").alias("yf"),
    )
    s = y.groupBy(F.col("event_type").alias("s_type")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("yf").alias("s1"),
        F.sum(F.col("yf") * F.col("yf")).alias("s2"),
    )
    j = y.join(F.broadcast(s), y.event_type == s.s_type)
    n, s1, s2, yf = (F.col(c) for c in ("n", "s1", "s2", "yf"))
    dev = n * yf - s1
    cond = (F.lit(4).cast("decimal(38,0)") * (n - 1) * dev * dev) > (
        F.lit(9).cast("decimal(38,0)") * n * (n * s2 - s1 * s1)
    )
    return j.filter(cond).select("event_id", "event_type", "value")


# RFM anchor: one day after the fixture's last order date, so recency
# is a positive day count for every customer.
_RFM_ANCHOR = "2001-08-02 00:00:00"

_RFM_ORACLE = f"""
WITH per_cust AS (
    SELECT o_custkey,
           date_diff('day', MAX(o_orderdate), TIMESTAMP '{_RFM_ANCHOR}') AS recency_days,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           {sql_dbl("SUM(CAST(o_totalprice AS DECIMAL(14,2)))", 2)} AS monetary
    FROM orders
    GROUP BY o_custkey
)
SELECT o_custkey, recency_days, frequency, monetary,
       CAST(NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS BIGINT) AS r_quartile,
       CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_quartile,
       CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT) AS m_quartile,
       CAST(NTILE(4) OVER (ORDER BY recency_days, o_custkey) * 100
          + NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) * 10
          + NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT) AS rfm_segment
FROM per_cust
"""


@register("rfm_customer_segments", tags=("ext", "aggregate", "window", "warehouse"), oracle=_RFM_ORACLE)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    canonical warehouse scoring query: per customer, days since last
    order at a fixed anchor, order count, exact total spend, then
    quartile codes via NTILE(4) composed into the 3-digit RFM segment.
    NTILE is deterministic only under a TOTAL order, so every quartile
    tie-breaks on the customer key (the engines would otherwise
    disagree on bucket boundaries for tied values). Plan: one hash
    aggregate (map-side partial) on o_custkey, then three quartile
    passes over the CUSTOMER-level frame via operators/ranks.with_ntile
    — each is a range exchange + partition-local rank, never a
    single-partition sort (r11: this was the last corpus-growing frame
    in the package funneled through an unpartitioned NTILE window; at
    100 TB the customer frame is hundreds of millions of rows)."""
    from flinkstreametl_spark.operators.ranks import with_ntile

    orders = load_table(spark, sf_dir, "orders")
    anchor = F.lit(_RFM_ANCHOR).cast(orders.schema["o_orderdate"].dataType)
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(anchor, F.max("o_orderdate")).cast("long").alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        dsum("o_totalprice", 14, 2).alias("monetary"),
    )
    seg = with_ntile(per_cust, 4, ["recency_days", "o_custkey"], "_r")
    seg = with_ntile(seg, 4, [F.col("frequency").desc(), F.col("o_custkey")], "_f")
    seg = with_ntile(seg, 4, [F.col("monetary").desc(), F.col("o_custkey")], "_m")
    r, f_, m = (F.col(c).cast("long") for c in ("_r", "_f", "_m"))
    return seg.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        r.alias("r_quartile"),
        f_.alias("f_quartile"),
        m.alias("m_quartile"),
        (r * 100 + f_ * 10 + m).alias("rfm_segment"),
    )


# Day index and value sums are exact integers; the RANGE frame runs
# over the integer day, so "7 days" means calendar days, not 7 rows —
# gaps in the series are handled by the frame, not by densification.
_MAVG_ORACLE = """
WITH daily AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS s_fp
    FROM events
    GROUP BY event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT)
)
SELECT event_type, day, n_events,
       CAST(SUM(s_fp) OVER w AS DOUBLE) / 1000000.0
           / CAST(SUM(n_events) OVER w AS DOUBLE) AS avg_value_7d
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@register("daily_moving_avg_7d", tags=("ext", "window", "timeseries"), oracle=_MAVG_ORACLE)
def daily_moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of event value per event type — the
    time-series dashboard staple, built gap-correct: the window is a
    RANGE frame over the INTEGER day index, so missing days shrink the
    divisor instead of silently stretching the window (the ROWS-frame
    bug). Two-level exactness: daily sums are fixed-point integers
    (partial-aggregated map-side), the moving sum adds integers, and
    ONE double division happens per output row in the same operand
    order as the oracle. Plan: one shuffle to (event_type, day)
    granularity, then the window over the tiny daily frame reuses the
    event_type partitioning."""
    events = load_table(spark, sf_dir, "events")
    day = (epoch_micros(events, "ts") / F.lit(86_400_000_000)).cast("long")
    daily = (
        events.select(
            "event_type",
            day.alias("day"),
            F.floor(F.col("value") * 1_000_000).cast("long").alias("v_fp"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_fp").alias("s_fp"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-6, 0)
    return daily.select(
        "event_type",
        "day",
        "n_events",
        (
            F.sum("s_fp").over(w).cast("double")
            / F.lit(1_000_000.0)
            / F.sum("n_events").over(w).cast("double")
        ).alias("avg_value_7d"),
    )


# ---------------------------------------------------------------------------
# Round 5: SCD2 point-in-time lookup

# The tie on equal o_orderdate (highest o_orderkey wins, matching the
# Spark side's tie_break) is resolved by PRE-DEDUPING the dimension to
# one row per (custkey, date) BEFORE DuckDB's native ASOF JOIN — whose
# own equal-t choice is unspecified and must never be relied on. The
# first formulation (LEFT-join-all-versions + QUALIFY per lookup
# grain) was quadratic-ish at sf1: its 6M-grain inequality join ground
# for 30+ minutes in the scale sweep; ASOF is the O(n log n) spelling
# of the same pick.
_PIT_ORACLE = """
WITH f AS (
    SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, l.l_shipdate
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
dim AS (
    SELECT o_custkey, o_orderdate, o_orderstatus FROM (
        SELECT o_custkey, o_orderdate, o_orderstatus,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rk
        FROM orders) v
    WHERE rk = 1
)
SELECT f.l_orderkey, f.l_linenumber, f.o_custkey, f.l_shipdate,
       d.o_orderstatus AS status_at_ship, d.o_orderdate AS status_since
FROM f ASOF LEFT JOIN dim d
  ON f.o_custkey = d.o_custkey AND f.l_shipdate >= d.o_orderdate
"""


@register("scd2_point_in_time_status", tags=("ext", "warehouse", "asof"), oracle=_PIT_ORACLE)
def scd2_point_in_time_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup — the query every SCD2 history
    exists to serve: each shipped line item is stamped with the status
    its CUSTOMER had when the item shipped (the newest order status
    with o_orderdate <= l_shipdate; ties on the date broken by highest
    o_orderkey, matching ``scd2_order_status_history``'s version
    order).

    Implementation is the reusable backward as-of core
    (operators/windows.py asof_join — union the fact and dimension
    streams, one window over the shared (custkey, date) order), so the
    lookup costs ONE co-partitioned exchange of fact+dim, not a range
    join; the oracle instead brute-forces LEFT-join-all-versions +
    QUALIFY rank 1 — independent formulations. The lookup is
    deliberately LEFT: this synthetic fixture ships ~half its items
    BEFORE the order date (dates are independent draws), and a real
    PIT lookup must surface such no-version-yet rows as NULLs, not
    drop them.

    At 100 TB: as-of via union-window scales with fact+dim on one key
    exchange and never materializes fact x versions; the per-key window
    depth is the customer's history, bounded by business reality."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders")
    fact = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select("l_orderkey", "l_linenumber", "o_custkey", "l_shipdate")
    dim = orders.select(
        F.col("o_custkey").alias("d_custkey"),
        F.col("o_orderdate").alias("status_since"),
        F.col("o_orderstatus").alias("status_at_ship"),
        F.col("o_orderkey").alias("d_orderkey"),
    )
    from flinkstreametl_spark.operators.windows import asof_join

    return asof_join(
        fact,
        dim,
        key="o_custkey",
        right_key="d_custkey",
        left_ts="l_shipdate",
        right_ts="status_since",
        right_cols=["status_at_ship", "status_since"],
        tie_break="d_orderkey",
    ).select(
        "l_orderkey", "l_linenumber", "o_custkey", "l_shipdate",
        "status_at_ship", "status_since",
    )


# --- profile_documents ---------------------------------------------------
# One-pass column profiling (ANALYZE TABLE / dbt-docs shape): every
# statistic for every column computed in a single aggregate over a
# single scan, then unpivoted to one row per column. The stats are
# chosen exact (no approx sketches) so the driver hash gate holds:
# null counts, exact distinct counts, lexicographic min/max of the
# string form, and total string length (avg derivable, kept integer).
_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]

_PROFILE_ORACLE = (
    "WITH t AS (SELECT "
    + ", ".join(
        f"CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS nn_{c},"
        f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c},"
        f" MIN(CAST({c} AS VARCHAR)) AS mn_{c},"
        f" MAX(CAST({c} AS VARCHAR)) AS mx_{c},"
        f" CAST(SUM(length(CAST({c} AS VARCHAR))) AS BIGINT) AS tl_{c}"
        for c in _PROFILE_COLS
    )
    + ", CAST(COUNT(*) AS BIGINT) AS n FROM documents)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, n AS n_rows, nn_{c} AS n_nulls,"
        f" nd_{c} AS n_distinct, mn_{c} AS min_str, mx_{c} AS max_str,"
        f" tl_{c} AS total_len FROM t"
        for c in _PROFILE_COLS
    )
    + "\nORDER BY col_name"
)


@register(
    "profile_documents",
    tags=("ext", "warehouse", "profiling"),
    oracle=_PROFILE_ORACLE,
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact one-pass table profile of the documents corpus: per
    column, row count, null count, exact distinct count, lexicographic
    min/max of the string form, and total string length — the ANALYZE
    statistics a warehouse keeps per table (and the first thing a data
    engineer runs against an unfamiliar 100 TB corpus).

    Shape: ONE scan, ONE aggregate row carrying all 5 columns x 5
    stats (count-distinct per column expands to the standard Spark
    expand-aggregate — still a single pass of the scan), then a
    5-row unpivot of that single row. Nothing shuffles on an unbounded
    key; the exchange carries exactly one row per distinct-count
    grouping. Exact distincts (not approx_count_distinct) keep the
    result hash-stable across engines — the approx tier lives in
    AUDIT_REGISTRY by design."""
    docs = load_table(spark, sf_dir, "documents")
    aggs = []
    for c in _PROFILE_COLS:
        sc = F.col(c).cast("string")
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(sc).alias(f"mn_{c}"),
            F.max(sc).alias(f"mx_{c}"),
            F.sum(F.length(sc)).alias(f"tl_{c}"),
        ]
    aggs.append(F.count(F.lit(1)).alias("n"))
    t = docs.agg(*aggs)
    stacked = t.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col("n").alias("n_rows"),
                        F.col(f"nn_{c}").alias("n_nulls"),
                        F.col(f"nd_{c}").alias("n_distinct"),
                        F.col(f"mn_{c}").alias("min_str"),
                        F.col(f"mx_{c}").alias("max_str"),
                        F.col(f"tl_{c}").alias("total_len"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.*")
    return stacked.orderBy("col_name")


# --- bloom-filter pruning audit --------------------------------------------
# The measured twin of Spark's runtime bloom-filter join (AQE injects
# one automatically — tests/test_runtime_filter.py pins that plan):
# build an EXPLICIT m-bit / k=2 bloom filter over the selective dim
# keys, probe the fact side through it, and report exactly how much
# the filter would prune and how much slips through (the false-positive
# rate that decides whether pushing the filter into the scan pays).
# Everything is integer/md5 arithmetic, so the filter the oracle
# builds is bit-identical: h_i(key) = md5(salt_i || key) first 8 hex
# chars mod m, bit set = distinct hash values over the build keys.
# At 100 TB the BUILD side stays dim-sized (the bit set is at most m
# rows ~ the filter itself) and broadcasts; the probe side is one scan
# with two broadcast lookups — the exact-membership comparison column
# is the audit's point, not a production cost (production trusts the
# bloom and re-checks on join).
_BLOOM_M = 8192
_BLOOM_SEG = "BUILDING"
_BLOOM_FP = 1_000_000

_BLOOM_H_SQL = {
    1: f"CAST(concat('0x', substr(md5('a' || CAST({{k}} AS VARCHAR)), 1, 8)) AS BIGINT) % {_BLOOM_M}",
    2: f"CAST(concat('0x', substr(md5('b' || CAST({{k}} AS VARCHAR)), 1, 8)) AS BIGINT) % {_BLOOM_M}",
}

_BLOOM_ORACLE = f"""
WITH build AS (SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = '{_BLOOM_SEG}'),
bits AS MATERIALIZED (
    SELECT DISTINCT b FROM (
        SELECT {_BLOOM_H_SQL[1].format(k='c_custkey')} AS b FROM build
        UNION ALL
        SELECT {_BLOOM_H_SQL[2].format(k='c_custkey')} AS b FROM build
    )
),
probe AS (
    SELECT o.o_custkey,
           {_BLOOM_H_SQL[1].format(k='o.o_custkey')} AS h1,
           {_BLOOM_H_SQL[2].format(k='o.o_custkey')} AS h2,
           (m.c_custkey IS NOT NULL) AS is_member
    FROM orders o LEFT JOIN build m ON m.c_custkey = o.o_custkey
),
flags AS (
    SELECT p.is_member,
           (b1.b IS NOT NULL AND b2.b IS NOT NULL) AS bloom_pass
    FROM probe p
    LEFT JOIN bits b1 ON b1.b = p.h1
    LEFT JOIN bits b2 ON b2.b = p.h2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_member,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END) * {_BLOOM_FP}
            // SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS fpr_fp,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set
FROM flags
"""


@register("bloom_prune_fpr_audit", tags=("ext", "warehouse", "join", "audit"), oracle=_BLOOM_ORACLE)
def bloom_prune_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit bloom-filter semi-join pruning with a measured
    false-positive rate: an m=8192-bit, k=2 filter over the BUILDING-
    segment customer keys probes every order — n_bloom_pass is what a
    filter-pushed-to-the-scan would let through, n_false_pos / fpr_fp
    is the price of the bits, n_member the truth. The md5-derived hash
    positions make the filter itself oracle-verifiable, not just its
    counts (see the block comment).

    Plan shape: the build side is dim-sized; its bit set is AT MOST m
    rows (bounded by the filter width, not the data) and broadcasts
    twice onto the single fact scan; the exact-membership flag joins
    the (broadcastable, dim-sized) key set the same way. One pass over
    orders, no shuffle except the final 1-row aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = pin(
        cust.filter(F.col("c_mktsegment") == _BLOOM_SEG).select("c_custkey").distinct()
    )  # feeds both hash projections AND the membership join

    def _h(salt: str, key) -> F.Column:
        return (
            F.conv(F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8), 16, 10)
            .cast("long")
            % _BLOOM_M
        )

    bits = (
        build.select(_h("a", F.col("c_custkey")).alias("b"))
        .unionByName(build.select(_h("b", F.col("c_custkey")).alias("b")))
        .distinct()
    )
    probe = orders.select(
        "o_custkey",
        _h("a", F.col("o_custkey")).alias("h1"),
        _h("b", F.col("o_custkey")).alias("h2"),
    )
    flags = (
        probe.join(
            F.broadcast(build.withColumnRenamed("c_custkey", "mk")),
            F.col("mk") == F.col("o_custkey"),
            "left",
        )
        .join(F.broadcast(bits.withColumnRenamed("b", "b1")), F.col("b1") == F.col("h1"), "left")
        .join(F.broadcast(bits.withColumnRenamed("b", "b2")), F.col("b2") == F.col("h2"), "left")
        .select(
            F.col("mk").isNotNull().alias("is_member"),
            (F.col("b1").isNotNull() & F.col("b2").isNotNull()).alias("bloom_pass"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.col("is_member").cast("long")).alias("n_member"),
        F.sum(F.col("bloom_pass").cast("long")).alias("n_bloom_pass"),
        F.sum((F.col("bloom_pass") & ~F.col("is_member")).cast("long")).alias("n_false_pos"),
    )
    n_bits = bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    return agg.crossJoin(F.broadcast(n_bits)).select(
        "n_probe",
        "n_member",
        "n_bloom_pass",
        "n_false_pos",
        F.expr(f"n_false_pos * {_BLOOM_FP} div (n_probe - n_member)").alias("fpr_fp"),
        "n_bits_set",
    )


# --- join-key skew report ----------------------------------------------------
# The diagnostic that decides WHEN the skew machinery (operators/
# skew.py salting, AQE skew-join splits — tests/test_skew.py) is worth
# its cost: per join key of the fact table, how heavy is the heaviest
# key relative to a perfectly uniform spread? skew_ratio_fp =
# max_rows * n_keys * FP div total_rows (1.0 == uniform). Production
# runs this per fact/key pair on a schedule and alerts when the ratio
# crosses the salting threshold — cheaper than discovering the skew as
# a straggler task at 3 a.m. One hash aggregate on the key plus
# bounded re-aggregates; the heavy-hitter list is TakeOrdered.
_SKEW_FP = 1_000_000
_SKEW_TOPK = 10

_SKEW_ORACLE = f"""
WITH per_key AS (
    SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders GROUP BY o_custkey
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           CAST(MAX(n_rows) AS BIGINT) AS max_rows
    FROM per_key
)
SELECT p.key, p.n_rows,
       CAST(rk AS BIGINT) AS rk,
       t.n_keys, t.total_rows,
       CAST(p.n_rows * t.n_keys * {_SKEW_FP} // t.total_rows AS BIGINT) AS skew_ratio_fp
FROM (
    SELECT key, n_rows, row_number() OVER (ORDER BY n_rows DESC, key) AS rk
    FROM per_key
) p, tot t
WHERE rk <= {_SKEW_TOPK}
ORDER BY rk
"""


@register("join_key_skew_report", tags=("ext", "warehouse", "skew", "audit"), oracle=_SKEW_ORACLE)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter skew report for the orders→customer join key: the
    top-10 heaviest o_custkey values with each key's skew ratio
    against a uniform spread (block comment above — the trigger signal
    for salted_hot_key_agg / AQE skew splits). Plan shape: one
    map-side-partial aggregate on the key, a 1-row totals
    re-aggregate broadcast back, TakeOrdered for the top-10."""
    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_rows").alias("total_rows"),
        F.max("n_rows").alias("max_rows"),
    )
    top = per_key.orderBy(F.col("n_rows").desc(), "key").limit(_SKEW_TOPK)
    w = Window.orderBy(F.col("n_rows").desc(), "key")
    return (
        top.withColumn("rk", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n_rows",
            "rk",
            "n_keys",
            "total_rows",
            F.expr(f"n_rows * n_keys * {_SKEW_FP} div total_rows").alias("skew_ratio_fp"),
        )
        .orderBy("rk")
    )


# --- order/lineitem reconciliation -------------------------------------------
# The dbt-style cross-table RECONCILIATION audit dq_violation_counts
# doesn't cover: does the order header's total actually equal the sum
# of its lines' charges (extendedprice * (1-discount) * (1+tax))? On
# real warehouses this identity breaks constantly (rounding regimes,
# partial loads, currency passes) — the audit reports the relative
# mismatch DISTRIBUTION, not a boolean, so a slow drift is visible
# before it is material. (This synthetic fixture fails the identity
# for every order — independently useful: the audit proves it measures
# rather than assumes.) Exactness: the q1 decimal discipline — every
# money term through DECIMAL casts, the per-order diff surfaced as its
# exact unscaled integer (scale 10), and the relative error in integer
# bp via staged division.
_RECON_ORACLE = """
WITH derived AS (
    SELECT l_orderkey,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(6,4)))
               * (1 + CAST(l_tax AS DECIMAL(6,4)))) AS charge
    FROM lineitem GROUP BY l_orderkey
),
per_order AS (
    SELECT CAST((CAST(o.o_totalprice AS DECIMAL(12,2)) - d.charge)
                * 10000000000 AS BIGINT) AS diff_u,
           CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 10000000000 AS BIGINT) AS total_u
    FROM orders o JOIN derived d ON d.l_orderkey = o.o_orderkey
),
rel AS (
    SELECT abs(diff_u) // greatest(total_u // 10000, 1) AS rel_bp FROM per_order
)
SELECT CASE WHEN rel_bp = 0 THEN 'exact'
            WHEN rel_bp <= 10 THEN '<=0.1%'
            WHEN rel_bp <= 100 THEN '<=1%'
            WHEN rel_bp <= 1000 THEN '<=10%'
            ELSE '>10%' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(rel_bp) AS BIGINT) AS min_rel_bp,
       CAST(MAX(rel_bp) AS BIGINT) AS max_rel_bp
FROM rel
GROUP BY 1
ORDER BY min_rel_bp
"""


@register(
    "orders_reconciliation_audit",
    tags=("ext", "warehouse", "quality", "audit"),
    oracle=_RECON_ORACLE,
)
def orders_reconciliation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation of o_totalprice against the
    lines' derived charge, reported as a relative-mismatch histogram in
    integer basis points (exact decimal spec in the block above).

    Plan shape: ONE orderkey-grain aggregate of lineitem (map-side
    partial), an orderkey equi-join against the header (co-partitioned
    — both sides key on the same column), per-order integer arithmetic,
    and a 5-bucket final aggregate. Nothing shuffles twice."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    charge = (
        dec("l_extendedprice", 12, 2)
        * (F.lit(1) - dec("l_discount", 6, 4))
        * (F.lit(1) + dec("l_tax", 6, 4))
    )
    derived = li.groupBy("l_orderkey").agg(F.sum(charge).alias("charge"))
    per_order = orders.join(
        derived, orders["o_orderkey"] == derived["l_orderkey"]
    ).select(
        ((dec("o_totalprice", 12, 2) - F.col("charge")) * F.lit(10_000_000_000))
        .cast("long")
        .alias("diff_u"),
        (dec("o_totalprice", 12, 2) * F.lit(10_000_000_000)).cast("long").alias("total_u"),
    )
    rel = per_order.select(
        F.expr("abs(diff_u) div greatest(total_u div 10000, 1L)").alias("rel_bp")
    )
    bucket = (
        F.when(F.col("rel_bp") == 0, "exact")
        .when(F.col("rel_bp") <= 10, "<=0.1%")
        .when(F.col("rel_bp") <= 100, "<=1%")
        .when(F.col("rel_bp") <= 1000, "<=10%")
        .otherwise(">10%")
    )
    return (
        rel.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("rel_bp").alias("min_rel_bp"),
            F.max("rel_bp").alias("max_rel_bp"),
        )
        .orderBy("min_rel_bp")
    )


# --- revenue concentration ----------------------------------------------------
# How concentrated is revenue in the best-selling parts? The top-10
# parts by exact decimal revenue with each part's cumulative share of
# TOTAL revenue in basis points — the 80/20 readout that decides
# whether part-level optimizations (caching, placement, skew salting)
# are worth building. Revenue uses the q1 decimal discipline; shares
# are integer bp over unscaled cents, so the whole row is hash-exact.
_RCONC_TOPK = 10

_RCONC_ORACLE = f"""
WITH rev AS (
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(6,4)))) * 10000 AS BIGINT) AS rev_u
    FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT CAST(SUM(rev_u) AS BIGINT) AS total_u FROM rev),
top AS (
    SELECT l_partkey, rev_u,
           row_number() OVER (ORDER BY rev_u DESC, l_partkey) AS rk
    FROM rev QUALIFY rk <= {_RCONC_TOPK}
)
SELECT CAST(t.rk AS BIGINT) AS rk, t.l_partkey AS part, t.rev_u,
       CAST(t.rev_u * 10000 // o.total_u AS BIGINT) AS share_bp,
       CAST(SUM(t.rev_u) OVER (ORDER BY t.rk) * 10000 // o.total_u AS BIGINT) AS cum_share_bp
FROM top t, tot o
ORDER BY rk
"""


@register("revenue_topk_concentration", tags=("ext", "warehouse", "aggregate"), oracle=_RCONC_ORACLE)
def revenue_topk_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 parts by exact discounted revenue with per-part and
    cumulative shares of total revenue in integer basis points (block
    comment above). Plan shape: one part-keyed aggregate (map-side
    partial) of lineitem, a 1-row total broadcast back, TakeOrdered
    for the top-10, and the cumulative window on the 10-row frame —
    all share arithmetic is integer div over unscaled cents·100."""
    li = load_table(spark, sf_dir, "lineitem")
    charge = dec("l_extendedprice", 12, 2) * (F.lit(1) - dec("l_discount", 6, 4))
    # Feeds the total AND the top-k.
    rev = pin(
        li.groupBy("l_partkey")
        .agg((F.sum(charge) * 10_000).cast("long").alias("rev_u"))
    )
    tot = rev.agg(F.sum("rev_u").alias("total_u"))
    top = rev.orderBy(F.col("rev_u").desc(), "l_partkey").limit(_RCONC_TOPK)
    w = Window.orderBy(F.col("rev_u").desc(), "l_partkey")
    cw = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            F.row_number().over(w).cast("long").alias("rk"),
            F.col("l_partkey").alias("part"),
            "rev_u",
            F.expr("rev_u * 10000 div total_u").alias("share_bp"),
            F.expr("total_u").alias("total_u"),
            F.sum("rev_u").over(cw).alias("cum_u"),
        )
        .select(
            "rk",
            "part",
            "rev_u",
            "share_bp",
            F.expr("cum_u * 10000 div total_u").alias("cum_share_bp"),
        )
        .orderBy("rk")
    )


# --- Order-priority transition matrix -----------------------------------------

_PTRANS_ORACLE = """
WITH seq AS (
    SELECT o_custkey, o_orderpriority,
           lag(o_orderpriority) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev_priority
    FROM orders
), t AS (
    SELECT prev_priority, o_orderpriority AS next_priority,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev_priority IS NOT NULL
    GROUP BY 1, 2
), rowtot AS (
    SELECT prev_priority, CAST(SUM(n) AS BIGINT) AS row_n FROM t GROUP BY prev_priority
)
SELECT t.prev_priority, t.next_priority, t.n, r.row_n,
       t.n * 10000 // r.row_n AS share_bp
FROM t JOIN rowtot r ON r.prev_priority = t.prev_priority
"""


@register(
    "order_priority_transition_matrix",
    tags=("ext", "warehouse", "window", "markov"),
    oracle=_PTRANS_ORACLE,
)
def order_priority_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each customer's order
    priority sequence: for consecutive orders (date order, key
    tie-break — the SCD2 total order), how often does priority X follow
    priority Y, with row-share in basis points. A diagonal-heavy matrix
    means priority is a stable customer trait (segmentable); a flat one
    means it is per-order noise — the check to run before anyone builds
    a 'priority affinity' feature.

    Plan shape: one customer-keyed lag window (the scd2 partitioning,
    reusable), a 25-cell aggregate, and a broadcast row-total join —
    nothing beyond the window touches fact-scale rows."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_orderpriority",
        F.lag("o_orderpriority").over(w).alias("prev_priority"),
    )
    t = (
        seq.filter(F.col("prev_priority").isNotNull())
        .groupBy("prev_priority", F.col("o_orderpriority").alias("next_priority"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rowtot = t.groupBy("prev_priority").agg(F.sum("n").alias("row_n"))
    return t.join(F.broadcast(rowtot), "prev_priority").select(
        "prev_priority",
        "next_priority",
        "n",
        "row_n",
        F.expr("n * 10000 div row_n").alias("share_bp"),
    )
