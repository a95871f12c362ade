"""[EXT] Remaining TPC-H query shapes (q2/q11/q12/q20 analogs — the
fixture schema has no partsupp/shipmode, so each keeps the *plan shape*
of the original on the columns that exist) plus analytic-window frame
variants (RANGE frames, ROWS frames, percent_rank/cume_dist), ordered
string aggregation, and unpivot. SURVEY.md §2.9 schedules these as
capability extensions; the reference itself has no aggregation or window
surface at all (§2.4-2.6).

Scale notes are in each docstring: what shuffles, what broadcasts, and
why the plan survives 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.functions.exact import dbl, dbl_wide, dec, sql_dbl, sql_dbl_wide
from flinkstreametl_spark.operators import dedup as _D
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.plans.shared import EVENT_FP as _EVENT_FP
from flinkstreametl_spark.plans.shared import EVENT_VALUE_FP_SQL as _EVENT_FP_SQL
from flinkstreametl_spark.sources.parquet import load_table


@register(
    "q2_min_cost_supplier",
    tags=("ext", "join", "subquery", "aggregate"),
    oracle="""
WITH fpart AS (
    SELECT p_partkey, p_name FROM part
    WHERE p_type = 'STANDARD' AND p_size < 15
),
offers AS (
    SELECT l_partkey, l_suppkey, l_extendedprice
    FROM lineitem JOIN fpart ON l_partkey = p_partkey
),
best AS (
    SELECT l_partkey AS b_partkey, MIN(l_extendedprice) AS min_price
    FROM offers GROUP BY l_partkey
)
SELECT DISTINCT p_partkey, p_name, s_name, n_name,
       l_extendedprice AS best_price
FROM offers
JOIN best     ON l_partkey = b_partkey AND l_extendedprice = min_price
JOIN fpart    ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style minimum-cost supplier (lineitem offers standing in
    for the absent partsupp): for each STANDARD small part, the
    supplier(s) charging the per-part minimum price — the classic
    correlated scalar subquery ``price = (SELECT MIN ... same part)``,
    decorrelated into aggregate-then-join. MIN over stored doubles is
    order-independent and compared without arithmetic, so the float
    equality is portable. At scale: the per-part MIN side is bounded by
    |parts|, so it broadcasts into the re-join (the plan shows no
    shuffle join at all); part/supplier/nation broadcast too."""
    fpart = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") < 15))
        .select("p_partkey", "p_name")
    )
    offers = (
        load_table(spark, sf_dir, "lineitem")
        .join(fpart, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", "l_extendedprice", "p_partkey", "p_name")
    )
    best = offers.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        offers.join(
            best,
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("l_extendedprice") == F.col("min_price")),
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey", "p_name", "s_name", "n_name", F.col("l_extendedprice").alias("best_price")
        )
        .distinct()
    )


@register(
    "q11_important_parts",
    tags=("ext", "aggregate", "subquery", "having"),
    oracle=f"""
WITH pv AS (
    SELECT l_partkey,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS val
    FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT SUM(val) AS total FROM pv)
SELECT l_partkey, {sql_dbl('val', 4)} AS part_value
FROM pv, tot
WHERE val * 1000 > total
""",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style important stock: parts whose inventory value
    exceeds 0.1% of the total — a scalar-subquery threshold in HAVING
    position. The fraction test is rewritten multiplicatively
    (val*1000 > total) so both engines compare exact decimals; the
    global total is a one-row broadcast cross join computed from the
    already-aggregated per-part values (no second lineitem scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice") * dec("l_quantity")).alias("val")
    )
    tot = pv.agg(F.sum("val").alias("total"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("val") * F.lit(1000) > F.col("total"))
        .select("l_partkey", dbl(F.col("val"), 4).alias("part_value"))
    )


@register(
    "q12_priority_shipping_counts",
    tags=("ext", "join", "aggregate", "conditional", "bench"),
    oracle="""
SELECT l_returnflag,
       COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
       COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
""",
)
def q12_priority_shipping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style priority split (l_returnflag standing in for the
    absent l_shipmode): per flag, how many 1997-shipped lines belonged
    to urgent/high orders vs the rest. Conditional COUNT(CASE...) is a
    pure map-side expression; the only shuffles are the lineitem⋈orders
    hash join on orderkey and the tiny final aggregation. The shipdate
    range reaches the parquet scan as a pushed filter."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


@register(
    "q20_excess_suppliers",
    tags=("ext", "join", "semi", "having"),
    oracle="""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE '%a%'
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 50
)
ORDER BY s_suppkey
""",
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style excess-stock suppliers: the nested-IN pattern —
    suppliers who shipped more than 50 units of some '%a%' part in 1997.
    The IN over a grouped subquery becomes aggregate → distinct keys →
    LEFT SEMI join; at scale the grouped side shrinks to |supplier×part|
    before the semi join, and the aggregated key set broadcasts (bounded
    by supplier count, not lineitem count)."""
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%a%")).select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    keys = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(F.broadcast(keys), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "window_range_frame",
    tags=("ext", "window", "frame"),
    oracle=f"""
SELECT event_id, event_type,
       COUNT(*) OVER (PARTITION BY event_type ORDER BY event_id
                      RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS cnt_trailing,
       {sql_dbl('''SUM(CAST(value AS DECIMAL(12,2))) OVER (
            PARTITION BY event_type ORDER BY event_id
            RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)''', 2)} AS sum_trailing,
       MIN(value) OVER (PARTITION BY event_type ORDER BY event_id
                        RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS min_trailing
FROM events
""",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame analytics: per event type, trailing-1000-ids count /
    sum / min — the value-based frame (all rows whose ordering key lies
    within the range, not a fixed row count). The sum runs in decimal
    inside the frame so results are frame-evaluation-order independent.
    One shuffle on event_type; within a partition the frame is a single
    sorted pass with a sliding aggregate."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id").rangeBetween(-1000, 0)
    return events.select(
        "event_id",
        "event_type",
        F.count(F.lit(1)).over(w).alias("cnt_trailing"),
        dbl(F.sum(dec("value")).over(w), 2).alias("sum_trailing"),
        F.min("value").over(w).alias("min_trailing"),
    )


@register(
    "window_rows_frame_dist",
    tags=("ext", "window", "frame"),
    oracle=f"""
SELECT o_orderkey, o_custkey,
       PERCENT_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS pr,
       CUME_DIST()    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS cd,
       {sql_dbl('''SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)''', 2)} AS prev3_total,
       LAST_VALUE(o_orderkey) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_orderkey
FROM orders
""",
)
def window_rows_frame_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS-frame and distribution window functions: percent_rank and
    cume_dist (both are exact integer-ratio doubles, so portable),
    a bounded look-behind sum over the 3 prior orders (NULL when the
    frame is empty — first row per customer), and last_value over the
    full partition (which requires the explicit unbounded-following
    frame: the default frame stops at CURRENT ROW and would return the
    current row itself)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        dbl(F.sum(dec("o_totalprice")).over(w.rowsBetween(-3, -1)), 2).alias("prev3_total"),
        F.last("o_orderkey")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("last_orderkey"),
    )


@register(
    "listagg_region_nations",
    tags=("ext", "aggregate", "string"),
    oracle="""
SELECT r_name, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def listagg_region_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG): nation names per
    region, comma-joined in sorted order. collect_list is
    partition-order nondeterministic, so the deterministic form is
    collect → array_sort → array_join; at scale the per-group array must
    fit in memory (fine for bounded group cardinality — for unbounded
    groups use top-N truncation before collecting)."""
    nation = load_table(spark, sf_dir, "nation")
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"))
    )


@register(
    "unpivot_part_measures",
    tags=("ext", "reshape"),
    oracle="""
SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS val FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS val FROM part
""",
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long reshape), the inverse of pivot_status_qty:
    each part's numeric measures become (measure, val) rows. Spark's
    native ``unpivot`` keeps this a zero-shuffle map-side expand (an
    Expand node, one input scan — not a self-union that would scan the
    table once per measure)."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_size").cast("double").alias("p_size"), "p_retailprice"
    )
    return part.unpivot(["p_partkey"], ["p_size", "p_retailprice"], "measure", "val")


from flinkstreametl_spark.functions.exact import sql_dsum, dsum  # noqa: E402


@register(
    "resample_ffill_hourly",
    tags=("ext", "timeseries", "window"),
    oracle=f"""
WITH samples AS (
    SELECT event_type, date_trunc('hour', ts) AS h, {sql_dsum('value')} AS v
    FROM events GROUP BY event_type, date_trunc('hour', ts)
),
bounds AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM samples),
grid AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM bounds),
types AS (SELECT DISTINCT event_type FROM events)
SELECT t.event_type, g.h, s.v,
       LAST_VALUE(s.v IGNORE NULLS) OVER (
           PARTITION BY t.event_type ORDER BY g.h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
FROM grid g
CROSS JOIN types t
LEFT JOIN samples s ON s.event_type = t.event_type AND s.h = g.h
""",
)
def resample_ffill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: resample events to an hourly grid per
    event type (exact decimal sum per bucket) and forward-fill gaps with
    the last observed value (last(..., ignorenulls) over an unbounded-
    preceding frame). The grid is generated, not scanned — sequence()
    over the global [min,max] hour bounds (one tiny agg, broadcast) ×
    the distinct types. At scale the only real shuffle is the per-
    (type,hour) aggregation; the fill is one window pass per type."""
    events = load_table(spark, sf_dir, "events")
    samples = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(dsum("value").alias("v"))
    bounds = samples.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    grid = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 hour"))).alias("h")
    )
    types = events.select("event_type").distinct()
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.crossJoin(F.broadcast(types))
        .join(samples, ["event_type", "h"], "left")
        .select(
            "event_type",
            "h",
            "v",
            F.last("v", ignorenulls=True).over(w).alias("v_ffill"),
        )
    )


@register(
    "histogram_totalprice",
    tags=("ext", "aggregate", "histogram"),
    oracle=f"""
SELECT CAST(FLOOR(o_totalprice / 500) AS BIGINT) * 500 AS bin_lo,
       COUNT(*) AS n,
       {sql_dsum('o_totalprice')} AS total
FROM orders
GROUP BY CAST(FLOOR(o_totalprice / 500) AS BIGINT) * 500
""",
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: bin by floor(x/width) — a pure map
    expression, so the whole histogram is one partial-aggregated
    shuffle of |bins| rows regardless of input size (the way to
    histogram 100 TB; data-dependent bin edges would need a prior
    min/max pass)."""
    orders = load_table(spark, sf_dir, "orders")
    bin_lo = (F.floor(F.col("o_totalprice") / 500).cast("long") * 500).alias("bin_lo")
    return orders.groupBy(bin_lo).agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total")
    )


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"


@register(
    "redact_documents",
    tags=("ext", "llm", "text", "scalar"),
    oracle=f"""
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '[0-9]+', '<NUM>', 'g') AS redacted,
       len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '[0-9]+')) AS n_numbers
FROM documents
""",
)
def redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction: mask email addresses then digit runs, and
    count the matches — the scrub pass of a corpus pipeline. Regexes
    are restricted to syntax Java regex and RE2 interpret identically
    (character classes, +, {{2,}}; no backrefs/lookarounds, which RE2
    rejects). Map-side regexp_replace/extract_all, one scan, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), "[0-9]+", "<NUM>"
    )
    return docs.select(
        "doc_id",
        redacted.alias("redacted"),
        # group idx 0 (whole match) EXPLICITLY: Spark's default is 1,
        # which is invalid for these group-less patterns — and the
        # error is raised per MATCHING row, so fixtures without digits
        # masked it until the sf1 sweep introduced one (round 5).
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias("n_numbers"),
    )


@register(
    "props_map_entries",
    tags=("ext", "scalar", "json", "map"),
    oracle="""
SELECT k,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.' || k) AS BIGINT)) AS BIGINT) AS total
FROM (SELECT props, unnest(json_keys(props)) AS k FROM events) t
GROUP BY k
""",
)
def props_map_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads as MAP columns: parse the JSON props
    string into map<string,bigint>, explode the entries, and aggregate
    per key — the schema-on-read path for ragged event properties where
    a fixed StructType can't be declared up front. At scale the
    from_json + explode is map-side; the only shuffle carries one row
    per (event, key)."""
    events = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        events.select(F.explode(m).alias("k", "v"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
    )


_SX = "SUM(CAST(l_quantity AS DECIMAL(12,2)))"
_SY = "SUM(CAST(l_extendedprice AS DECIMAL(12,2)))"
_SXX = "SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)))"
_SYY = "SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2)))"
_SXY = "SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)))"


# the three product moments use the WIDE decimal->double path: their
# unscaled magnitude (sum * 10^4) passes 2^63 at sf1 — the narrow
# dbl()'s BIGINT hop threw CAST_OVERFLOW in the round-5 scale sweep
# (74014641194662174870.0000 for sum(price^2)); dbl_wide splits at
# 2^32 and holds to ~4e28. First-moment sums keep the narrow path.
@register(
    "stats_corr_covar_exact",
    tags=("ext", "aggregate", "stats"),
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n,
       ({sql_dbl_wide(_SXY, 4)} - {sql_dbl(_SX, 2)} * {sql_dbl(_SY, 2)} / CAST(COUNT(*) AS DOUBLE))
         / (CAST(COUNT(*) AS DOUBLE) - 1) AS covar_samp_qp,
       (CAST(COUNT(*) AS DOUBLE) * {sql_dbl_wide(_SXY, 4)} - {sql_dbl(_SX, 2)} * {sql_dbl(_SY, 2)})
         / SQRT((CAST(COUNT(*) AS DOUBLE) * {sql_dbl_wide(_SXX, 4)} - {sql_dbl(_SX, 2)} * {sql_dbl(_SX, 2)})
              * (CAST(COUNT(*) AS DOUBLE) * {sql_dbl_wide(_SYY, 4)} - {sql_dbl(_SY, 2)} * {sql_dbl(_SY, 2)})) AS corr_qp
FROM lineitem
GROUP BY l_returnflag
""",
)
def stats_corr_covar_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance and Pearson correlation from exact decimal
    moments (n, Σx, Σy, Σx², Σy², Σxy) — built-in corr/covar_samp use
    engine-specific streaming accumulation (Welford merges) that
    differs in the last ulp between engines AND between partitionings;
    the moment form is exact, mergeable, and therefore the right
    formulation for a 100 TB scan anyway. The final combination is one
    identical chain of double ops in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    qty, price = dec("l_quantity"), dec("l_extendedprice")
    price14 = dec("l_extendedprice", 14, 2)
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty).alias("sx"),
        F.sum(price).alias("sy"),
        F.sum(qty * qty).alias("sxx"),
        F.sum(price14 * price14).alias("syy"),
        F.sum(qty * price).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = dbl(F.col("sx"), 2), dbl(F.col("sy"), 2)
    sxx, syy, sxy = dbl_wide(F.col("sxx"), 4), dbl_wide(F.col("syy"), 4), dbl_wide(F.col("sxy"), 4)
    return agg.select(
        "l_returnflag",
        "n",
        ((sxy - sx * sy / nd) / (nd - 1)).alias("covar_samp_qp"),
        ((nd * sxy - sx * sy) / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))).alias("corr_qp"),
    )


@register(
    "median_disc_quantity",
    tags=("ext", "aggregate", "stats", "window"),
    oracle="""
WITH ranked AS (
    SELECT l_returnflag, l_quantity,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
)
SELECT l_returnflag, n, l_quantity AS median_disc
FROM ranked
WHERE rn = (n + 1) // 2
""",
)
def median_disc_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete median (percentile_disc 0.5) per group, formulated
    portably as the row at position (n+1)/2 of a fully-tie-broken
    ordering — no interpolation arithmetic, so the result is a stored
    value and engine-exact (interpolating medians differ in the last ulp
    between engines). At scale this is one window sort per group; for
    quantiles on 100 TB the approx sketch is the default and this is
    the audit path."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_quantity",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "l_returnflag", "n", F.col("l_quantity").alias("median_disc")
    )


@register(
    "median_cont_quantity",
    tags=("ext", "aggregate", "stats", "window"),
    oracle="""
WITH ranked AS (
    SELECT l_returnflag, l_quantity,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
)
SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
       SUM(l_quantity) / COUNT(*) AS median_cont
FROM ranked
WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
GROUP BY l_returnflag
""",
)
def median_cont_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated (percentile_cont) median per group, the portable
    way: pick the one (n odd) or two (n even) middle ORDER STATISTICS
    by rank and average them. With at most two operands the double
    arithmetic is commutative-only (no associativity exposure), so the
    result is bit-identical across engines — unlike the built-in
    percentile_cont whose interpolation expression differs per engine.
    Same one-sort-per-group plan as the discrete twin; the disc/cont
    pair plus approx_percentile (audit tier) completes the quantile
    family."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_quantity",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = ranked.filter((F.col("rn") == F.expr("(n + 1) div 2")) | (F.col("rn") == F.expr("n div 2 + 1")))
    return mid.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n"),
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("median_cont"),
    )


@register(
    "rollup_with_grouping_id",
    tags=("ext", "aggregate", "grouping"),
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       CASE WHEN GROUPING(l_returnflag) = 1 THEN 'grand_total'
            WHEN GROUPING(l_linestatus) = 1 THEN 'flag_subtotal'
            ELSE 'detail' END AS level,
       COUNT(*) AS n,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_with_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers: super-aggregate rows carry NULL
    in the rolled-up columns, which is ambiguous when the data itself
    has NULLs — grouping() disambiguates and labels each row's level
    (detail / subtotal / grand total). Same Expand+aggregate plan as
    plain rollup; the markers are free metadata from the Expand node."""
    li = load_table(spark, sf_dir, "lineitem")
    gf, gs = F.grouping("l_returnflag").cast("int"), F.grouping("l_linestatus").cast("int")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        gf.alias("g_flag"),
        gs.alias("g_status"),
        F.when(gf == 1, "grand_total").when(gs == 1, "flag_subtotal").otherwise("detail").alias("level"),
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("sum_qty"),
    )


@register(
    "fuzzy_dup_parts",
    tags=("ext", "dedup", "entity-resolution", "bench"),
    oracle=f"""
WITH s AS (
    SELECT p_partkey AS k, p_brand, lower(p_name) AS nm,
           split_part(lower(p_name), ' ', -1) AS blk
    FROM part
), kept AS (
    SELECT k, p_brand, nm, blk,
           COUNT(*) OVER (PARTITION BY p_brand, blk) AS bn
    FROM s QUALIFY bn <= {_D.MAX_BUCKET_SIZE}
)
SELECT part_a, part_b, name_a, name_b, CAST(dist AS BIGINT) AS dist FROM (
    SELECT a.k AS part_a, b.k AS part_b, a.nm AS name_a, b.nm AS name_b,
           levenshtein(a.nm, b.nm) AS dist
    FROM kept a JOIN kept b
      ON a.p_brand = b.p_brand AND a.blk = b.blk AND a.k < b.k
) v
WHERE dist <= 3
""",
)
def fuzzy_dup_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution on part names: pairs within edit distance
    3, candidates from blocking keys (brand, last name token), never a
    cross join.

    The classic record-linkage shape: a cheap equi-join on blocking keys
    bounds the candidate set, then the expensive string metric runs on
    candidates only. Spark computes ``levenshtein(a, b, 3)`` — the
    thresholded form bails out of the DP as soon as the distance exceeds
    the bound (O(d·n) instead of O(n²) per pair, returning -1 above the
    bound), which the post-filter excludes together with the band. The
    candidates are ``bucket_pairs`` on the blocking keys, so one
    boilerplate name can never turn the join quadratic on a single key
    (the oracle mirrors the cap with QUALIFY). At 100 TB: one shuffle on
    the blocking key, bucket-bounded pair fan-out, no global state."""
    part = load_table(spark, sf_dir, "part")
    s = part.select(
        F.col("p_partkey").alias("part"),
        "p_brand",
        F.lower("p_name").alias("name"),
    ).withColumn("blk", F.substring_index("name", " ", -1))
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"), 3)
    return (
        _D.bucket_pairs(s, "part", ["p_brand", "blk"])
        .withColumn("dist", dist)
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 3))
        .select("part_a", "part_b", "name_a", "name_b", F.col("dist").cast("long").alias("dist"))
    )


_NULLSAFE_ORACLE = """
WITH e AS (
    SELECT event_id,
           CASE WHEN value < 50 THEN NULL ELSE event_type END AS seg
    FROM events
), seg_stats AS (
    SELECT seg, CAST(COUNT(*) AS BIGINT) AS seg_n FROM e GROUP BY seg
)
SELECT e.event_id, e.seg, s.seg_n
FROM e JOIN seg_stats s ON e.seg IS NOT DISTINCT FROM s.seg
"""


@register("null_safe_join_segments", tags=("ext", "join", "nulls"), oracle=_NULLSAFE_ORACLE)
def null_safe_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): events with
    a nullable derived segment join back to per-segment stats WITHOUT
    dropping the NULL segment — an ordinary equi-join silently loses
    every NULL-keyed row, the classic fact-table bug when the join key
    is optional. ``eqNullSafe`` stays a hash-joinable equality (Spark
    plans it as a normal shuffled/broadcast hash join on a
    null-coalesced key), so the NULL bucket costs nothing extra at
    scale; one small aggregate (broadcast) + one fact scan."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id",
        F.when(F.col("value") < 50, F.lit(None)).otherwise(F.col("event_type")).alias("seg"),
    )
    stats = e.groupBy("seg").agg(F.count(F.lit(1)).cast("long").alias("seg_n"))
    return e.join(F.broadcast(stats.withColumnRenamed("seg", "s_seg")), e.seg.eqNullSafe(F.col("s_seg"))).select(
        "event_id", "seg", "seg_n"
    )


# Winsorized mean: clip at the exact p10/p90 ORDER STATISTICS
# (percentile_disc semantics — an actual data value, identical in both
# engines; no interpolation and no float percentile), computed per
# group from rank/count, then exact decimal aggregation of the clipped
# values. Two window passes + one aggregate, all on the same grouping
# key — a single shuffle end to end.
_WINSOR_ORACLE = """
WITH ranked AS (
    SELECT l_returnflag, l_extendedprice,
           row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
), bounds AS (
    SELECT l_returnflag,
           MAX(CASE WHEN rn = CAST(ceil(0.10 * n) AS BIGINT) THEN l_extendedprice END) AS lo,
           MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN l_extendedprice END) AS hi
    FROM ranked GROUP BY l_returnflag
)
SELECT r.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN r.l_extendedprice < b.lo OR r.l_extendedprice > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       {mean} AS winsor_mean
FROM ranked r JOIN bounds b ON r.l_returnflag = b.l_returnflag
GROUP BY r.l_returnflag
""".format(
    mean=sql_dbl(
        "SUM(CAST(CASE WHEN r.l_extendedprice < b.lo THEN b.lo"
        " WHEN r.l_extendedprice > b.hi THEN b.hi"
        " ELSE r.l_extendedprice END AS DECIMAL(12,2))) / COUNT(*)",
        4,
    )
)


@register("winsorized_price_stats", tags=("ext", "aggregate", "robust"), oracle=_WINSOR_ORACLE)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust (winsorized) per-group mean: values below the
    exact p10 order statistic clip up, above p90 clip down, then an
    exact decimal mean. The percentile is discrete (a real data value,
    rank-selected with a deterministic tie-break), so both engines pick
    the identical bound. Plan: rank window + count window + bound
    aggregate + broadcast-join bounds back + final aggregate — the
    window and both aggregates share the l_returnflag partitioning, so
    the fact shuffles ONCE (Catalyst reuses the exchange)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    wc = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    bounds = ranked.groupBy(F.col("l_returnflag").alias("b_flag")).agg(
        F.max(F.when(F.col("rn") == F.expr("CAST(ceil(0.10 * n) AS BIGINT)"), F.col("l_extendedprice"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.expr("CAST(ceil(0.90 * n) AS BIGINT)"), F.col("l_extendedprice"))).alias("hi"),
    )
    j = ranked.join(F.broadcast(bounds), ranked.l_returnflag == bounds.b_flag)
    clipped = (
        F.when(F.col("l_extendedprice") < F.col("lo"), F.col("lo"))
        .when(F.col("l_extendedprice") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("l_extendedprice"))
    )
    is_clipped = (F.col("l_extendedprice") < F.col("lo")) | (F.col("l_extendedprice") > F.col("hi"))
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(is_clipped.cast("int")).cast("long").alias("n_clipped"),
        dbl(F.sum(dec(clipped, 12, 2)) / F.count(F.lit(1)), 4).alias("winsor_mean"),
    )


# value scale built from the shared constant (plans/shared.py) so it
# can never drift from the Spark side's fixed-point conversion
_SALTED_ORACLE = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM({_EVENT_FP_SQL}) AS BIGINT) AS s_fp,
       CAST(MIN({_EVENT_FP_SQL}) AS DOUBLE) / {_EVENT_FP}.0 AS min_value,
       CAST(MAX({_EVENT_FP_SQL}) AS DOUBLE) / {_EVENT_FP}.0 AS max_value,
       CAST(SUM({_EVENT_FP_SQL}) AS DOUBLE) / {_EVENT_FP}.0
           / CAST(COUNT(*) AS DOUBLE) AS avg_value
FROM events
GROUP BY event_type
"""


@register("salted_hot_key_agg", tags=("ext", "skew", "aggregate"), oracle=_SALTED_ORACLE)
def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation through the EXPLICIT two-stage salt rewrite
    (operators/skew.py salted_agg): events has only 5 event_type keys,
    so a plain groupBy funnels every row through 5 reducers — the exact
    shape that bottlenecks a 1000-executor cluster no matter how many
    cores it has. Stage 1 groups on (event_type, salt16) spreading each
    hot key over 16 reducers; stage 2 merges the 16 algebraic partials
    per key.

    The ORACLE IS THE PLAIN GROUP BY: the driver's exact-hash verdict
    is the proof that the salted rewrite preserves semantics bit for
    bit — which holds only because every aggregate here decomposes
    algebraically (count/sum/min/max over exact fixed-point integers;
    the avg's single double division runs on merged exact operands).
    The salt is xxhash64 over the full row — deterministic, so task
    retries and reruns salt identically (rand() would break
    exactly-once re-execution)."""
    from flinkstreametl_spark.operators.skew import salted_agg

    events = load_table(spark, sf_dir, "events")
    v_fp = F.floor(F.col("value") * _EVENT_FP).cast("long")
    rows = events.select("event_type", v_fp.alias("v_fp"))
    out = salted_agg(
        rows,
        ["event_type"],
        aggs={
            "n_p": F.count(F.lit(1)),
            "s_p": F.sum("v_fp"),
            "mn_p": F.min("v_fp"),
            "mx_p": F.max("v_fp"),
        },
        merges={
            "n_events": F.sum("n_p"),
            "s_fp": F.sum("s_p"),
            "mn": F.min("mn_p"),
            "mx": F.max("mx_p"),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        "n_events",
        "s_fp",
        (F.col("mn").cast("double") / F.lit(1_000_000.0)).alias("min_value"),
        (F.col("mx").cast("double") / F.lit(1_000_000.0)).alias("max_value"),
        (F.col("s_fp").cast("double") / F.lit(1_000_000.0) / F.col("n_events").cast("double")).alias(
            "avg_value"
        ),
    )


# --- Dedup flag propagation ---------------------------------------------

# Reuse the production pair-set oracle verbatim: the audit must be
# defined over EXACTLY the clusters the dedup pipeline forms. The flag
# is restricted-feed membership (src0 standing in for a
# license-restricted source); a PII flag is the same audit with the
# redact_documents regexes substituted — the fixture's text contains
# no PII matches, so the source flag is what exercises the law here.
from flinkstreametl_spark.plans.llm import _MINHASH_ORACLE as _PAIR_ORACLE  # noqa: E402
from flinkstreametl_spark.session import pin

_RESTRICTED_SQL = "source = 'src0'"

_FLAG_PROP_ORACLE = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
{_PAIR_ORACLE}
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
), fl AS (
    SELECT doc_id, CAST({_RESTRICTED_SQL} AS BIGINT) AS flag FROM documents
), per AS (
    SELECT m.cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(fl.flag) AS BIGINT) AS any_flag,
           CAST(MAX(CASE WHEN fl.doc_id = m.cluster_id THEN fl.flag END) AS BIGINT)
               AS canonical_flag
    FROM m JOIN fl ON fl.doc_id = m.doc_id
    GROUP BY m.cluster_id
    HAVING COUNT(*) >= 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(any_flag) AS BIGINT) AS n_clusters_any_flag,
       CAST(SUM(canonical_flag) AS BIGINT) AS n_canonical_flagged,
       CAST(SUM(CASE WHEN any_flag = 1 AND canonical_flag = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_flags_dropped,
       (SELECT CAST(SUM(flag) AS BIGINT) FROM fl) AS n_docs_flagged
FROM per
"""


@register(
    "dedup_flag_propagation_audit",
    tags=("ext", "llm", "dedup", "audit", "governance"),
    oracle=_FLAG_PROP_ORACLE,
)
def dedup_flag_propagation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does keep-first dedup silently DROP compliance flags? For each
    near-dup cluster, compare the cluster's any-member restricted-feed
    flag (source = src0, the license-restricted stand-in) against the
    flag of the keep-first canonical (the min-id member == the
    min-label cluster id). n_flags_dropped counts clusters whose
    canonical looks clean while a discarded member was flagged — the
    case where dedup must propagate the UNION of member flags to the
    survivor or the corpus silently launders restricted content
    through an unrestricted duplicate.

    Plan: production LSH pairs -> min-label components; the flag is a
    map-side regex projection joined onto the labels; one cluster-keyed
    aggregate and a 1-row summary. The flag expression and pair set
    are imported from their owning modules, so the audit can never
    drift from what the pipeline actually does."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _D.minhash_lsh_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    labels = _D.neardup_clusters(pairs)
    flag = (F.col("source") == "src0").cast("long")
    fl = pin(docs.select("doc_id", flag.alias("flag")))  # audit + total
    per = (
        fl.join(labels, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("flag").alias("any_flag"),
            F.max(F.when(F.col("doc_id") == F.col("cluster_id"), F.col("flag"))).alias(
                "canonical_flag"
            ),
        )
        .filter(F.col("n_members") >= 2)
    )
    tot = fl.agg(F.sum("flag").alias("n_docs_flagged"))
    return (
        per.agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("any_flag").alias("n_clusters_any_flag"),
            F.sum("canonical_flag").alias("n_canonical_flagged"),
            F.sum(
                F.when((F.col("any_flag") == 1) & (F.col("canonical_flag") == 0), 1).otherwise(0)
            ).alias("n_flags_dropped"),
        )
        .crossJoin(F.broadcast(tot))
    )
