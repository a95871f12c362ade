"""[EXT] Time-series analytics: EWMA smoothing, CUSUM change-point
detection, day-of-week seasonality.

The reference's pipeline terminates at enrich-and-upsert
(``src/main/java/com/Main.java``); any production deployment of the
same CDC feed grows monitoring on top of it — "did the level of this
metric shift?", "what does a normal Tuesday look like?". These are
those operators, built on the repo's exactness discipline:

- EWMA is a sequential recurrence (y_n = a*x_n + (1-a)*y_{n-1}), which
  looks hostile to both distributed execution and cross-engine
  determinism. The resolution: aggregate the fact table to the DAILY
  grain first (one shuffle, map-side partial, exact fixed-point sums),
  then fold the recurrence over the tiny per-key day series with a
  deterministic LEFT FOLD — Spark ``aggregate(array_sort(...))`` vs
  DuckDB ``list_reduce(list(... ORDER BY day))``. Both engines execute
  the same IEEE double ops in the same order on the same operands, so
  the result is bit-identical with no rounding tricks. The smoothing
  factor is a DYADIC rational (0.25) on purpose: 0.25 and 0.75 are
  exact doubles under every literal-conversion path (DuckDB converts
  decimal literals via unscaled*10^-scale, which differs from parse-
  to-double in the last ulp for non-dyadic constants like 0.3).
- CUSUM never leaves integer arithmetic: the classic statistic
  C_k = sum_{i<=k}(x_i - S/n) is rational, so it is scaled by n:
  n*C_k = n*P_k - k*S with P_k the prefix sum — exact BIGINTs end to
  end, argmax is total-order tie-broken. (At 100 TB the products need
  DECIMAL(38,0) headroom; the shape is unchanged.)
- Day-of-week comes from the integer day index ((day+4) % 7,
  1970-01-01 being a Thursday) instead of the engines' dayofweek()
  built-ins, which disagree on numbering (Spark: Sunday=1; DuckDB:
  Sunday=0).

Scale shape for all three: one shuffle from the raw fact to the
(event_type, day) grain — partial aggregation map-side means the
exchange carries days, not events — then every window/fold runs over
the per-key daily series, whose length is bounded by the calendar, not
the data volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.operators.windows import epoch_micros, ewma_fold, sessionize
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.plans.shared import DAILY_SQL as _DAILY_SQL
from flinkstreametl_spark.plans.shared import EVENT_FP as _FP
from flinkstreametl_spark.plans.shared import US_PER_DAY as _US_PER_DAY
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.sources.parquet import load_table


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day) grain with exact fixed-point value sums —
    shared first stage of every query in this module. Same contract as
    warehouse_ext's moving average: ONE exchange, integer outputs."""
    events = load_table(spark, sf_dir, "events")
    day = (epoch_micros(events, "ts") / F.lit(_US_PER_DAY)).cast("long")
    return (
        events.select(
            "event_type",
            day.alias("day"),
            F.floor(F.col("value") * _FP).cast("long").alias("v_fp"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_fp").alias("s_fp"),
        )
    )


# The fold in both engines: seed with the FIRST day's value, then
# acc -> 0.25*x + 0.75*acc over the remaining days in day order.
_EWMA_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
series AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           MAX(day) AS last_day,
           list(CAST(s_fp AS DOUBLE) / {_FP}.0 ORDER BY day) AS xs
    FROM daily
    GROUP BY event_type
)
SELECT event_type, n_days, last_day,
       list_reduce(xs, (acc, x) -> CAST(0.25 AS DOUBLE) * x + CAST(0.75 AS DOUBLE) * acc)
           AS ewma_value
FROM series
"""


@register("ewma_daily_value", tags=("ext", "timeseries"), oracle=_EWMA_ORACLE)
def ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of the daily value level
    per event type (alpha = 0.25, seeded with the first day).

    Determinism without rounding: the recurrence is evaluated as a
    sequential left fold over the day-sorted series in BOTH engines
    (Spark: the reusable ``operators/windows.py ewma_fold`` —
    ``aggregate`` over ``array_sort(collect_list(struct))``;
    collect_list order is partition-dependent, the sort restores a
    total order on the unique day key; DuckDB ``list_reduce`` over
    ``list(... ORDER BY day)``), so every intermediate double is
    bit-identical and the raw result hashes equal. Alpha is dyadic —
    see the module docstring for why 0.3 would NOT be safe.

    Scale: the fold is per-key sequential by nature, but it runs over
    the daily grain (calendar-bounded, ~365 elements/year/key), not
    events; the heavy reduction to that grain is the one shuffled,
    map-side-combined aggregate."""
    daily = _daily(spark, sf_dir).select(
        "event_type",
        "day",
        (F.col("s_fp").cast("double") / F.lit(float(_FP))).alias("x"),
    )
    out = ewma_fold(daily, ["event_type"], "day", "x", alpha=0.25)
    return out.select(
        "event_type",
        F.col("n_points").alias("n_days"),
        F.col("last_order").alias("last_day"),
        F.col("ewma").alias("ewma_value"),
    )


_CUSUM_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
cusum AS (
    SELECT event_type, day,
           CAST(COUNT(*) OVER byk AS BIGINT) AS n_days,
           CAST(COUNT(*) OVER upto AS BIGINT) AS k,
           SUM(s_fp) OVER upto AS p_k,
           SUM(s_fp) OVER byk AS s_total
    FROM daily
    WINDOW upto AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           byk AS (PARTITION BY event_type)
)
SELECT event_type, day AS changepoint_day, n_days,
       CAST(abs(n_days * p_k - k * s_total) AS BIGINT) AS cusum_scaled
FROM cusum
QUALIFY row_number() OVER (
    PARTITION BY event_type
    ORDER BY abs(n_days * p_k - k * s_total) DESC, day
) = 1
"""


# The BIGINT products n*P_k and k*S overflow once |P_k| or |S| nears
# 2^63 / n_days — reachable at 100 TB event volumes. The narrow path
# ENFORCES the headroom per row (loud assert_true, integer-div bound so
# the check itself cannot overflow); callers at scale switch to
# wide=True, which runs the identical shape in DECIMAL(38,0).
_CUSUM_I64_GUARD = 1 << 61  # both products under 2^61 => |a-b| < 2^63


def cusum_scored(daily: DataFrame, *, wide: bool = False) -> DataFrame:
    """(event_type, day, n_days, k, p_k, s_total, cusum_scaled) — the
    scaled CUSUM statistic n*C_k = n*P_k - k*S per prefix, over any
    (event_type, day, s_fp) daily frame. ``wide=False`` stays in exact
    BIGINT with a runtime overflow guard; ``wide=True`` widens the two
    products to DECIMAL(38,0) (exact to 38 digits — 17 orders of
    magnitude past int64) for corpora where the guard would trip."""
    byk = Window.partitionBy("event_type")
    upto = byk.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base = daily.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(byk).alias("n_days"),
        F.count(F.lit(1)).over(upto).alias("k"),
        F.sum("s_fp").over(upto).alias("p_k"),
        F.sum("s_fp").over(byk).alias("s_total"),
    )
    if wide:
        d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
        stat = F.abs(d("n_days") * d("p_k") - d("k") * d("s_total"))
        return base.withColumn("cusum_scaled", stat)
    fits = F.expr(
        f"abs(p_k) <= {_CUSUM_I64_GUARD} div n_days"
        f" and abs(s_total) <= {_CUSUM_I64_GUARD} div k"
    )
    guarded = base.where(
        F.assert_true(
            fits,
            F.concat(
                F.lit("cusum_scored: BIGINT product headroom exhausted for event_type="),
                F.col("event_type"),
                F.lit("; rerun with wide=True (DECIMAL(38,0) products)"),
            ),
        ).isNull()
    )
    return guarded.withColumn(
        "cusum_scaled",
        F.abs(F.col("n_days") * F.col("p_k") - F.col("k") * F.col("s_total")),
    )


@register("cusum_changepoint_daily", tags=("ext", "timeseries"), oracle=_CUSUM_ORACLE)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point: the day where the cumulative deviation of
    the daily value level from the series mean peaks — the standard
    single-change-point estimator (argmax_k |sum_{i<=k}(x_i - mean)|).

    Exactness: the statistic is rational (mean = S/n), so it is scaled
    by n to stay in BIGINT: n*C_k = n*P_k - k*S. Prefix sums, totals,
    products, abs, and the argmax tie-break (peak value DESC, then
    day) are all integer — no float enters the query at all, so Spark
    and DuckDB agree bit for bit under any partitioning. The BIGINT
    headroom is enforced per row by ``cusum_scored``'s runtime guard
    (loud failure, never silent wraparound); the DECIMAL(38,0)
    ``wide=True`` twin covers corpora beyond the guard.

    Plan: the daily reduction is the only fact shuffle; the three
    windows (prefix, per-key total, argmax rank) all share the single
    event_type exchange of the tiny daily frame."""
    scored = cusum_scored(_daily(spark, sf_dir))
    pick = Window.partitionBy("event_type").orderBy(F.col("cusum_scaled").desc(), "day")
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            "n_days",
            "cusum_scaled",
        )
    )


_DOW_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
by_dow AS (
    SELECT event_type,
           CAST((day + 4) % 7 AS BIGINT) AS dow,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(s_fp) AS BIGINT) AS s_fp
    FROM daily
    GROUP BY 1, 2
)
SELECT event_type, dow, n_events,
       CAST(s_fp AS DOUBLE) / {_FP}.0 / CAST(n_events AS DOUBLE) AS avg_value,
       CAST(n_events AS DOUBLE)
           / CAST(SUM(n_events) OVER (PARTITION BY event_type) AS DOUBLE) AS share
FROM by_dow
"""


@register("dow_seasonality_profile", tags=("ext", "timeseries"), oracle=_DOW_ORACLE)
def dow_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality per event type: event count, mean value,
    and the share of the type's traffic landing on each weekday — the
    profile a monitor compares "today" against.

    Weekday = (epoch_day + 4) % 7 (Monday=0): computed from the integer
    day index because Spark and DuckDB number dayofweek() differently.
    Sums are integers; each output row does exactly two double
    divisions (value mean) and one (share) in the same operand order as
    the oracle, so no rounding is needed.

    Plan: daily grain (one fact shuffle) -> 7-row-per-key hash
    aggregate -> share window over the same event_type partitioning;
    partial aggregation does the heavy lifting map-side."""
    daily = _daily(spark, sf_dir)
    by_dow = (
        daily.select(
            "event_type",
            ((F.col("day") + 4) % 7).alias("dow"),
            "n_events",
            "s_fp",
        )
        .groupBy("event_type", "dow")
        .agg(F.sum("n_events").alias("n_events"), F.sum("s_fp").alias("s_fp"))
    )
    byk = Window.partitionBy("event_type")
    return by_dow.select(
        "event_type",
        "dow",
        "n_events",
        (F.col("s_fp").cast("double") / F.lit(float(_FP)) / F.col("n_events").cast("double")).alias(
            "avg_value"
        ),
        (F.col("n_events").cast("double") / F.sum("n_events").over(byk).cast("double")).alias(
            "share"
        ),
    )


_SWEEP_ORACLE = f"""
WITH sess AS (
    SELECT user_id, session_id, MIN(ts) AS s, MAX(ts) AS e
    FROM (
        SELECT user_id, ts,
               CAST(SUM(CASE WHEN prev IS NULL OR date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM (SELECT user_id, ts, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events) t
    ) g
    GROUP BY user_id, session_id
),
sweep AS (
    SELECT s AS t, 1 AS delta, user_id, session_id FROM sess
    UNION ALL
    SELECT e, -1, user_id, session_id FROM sess
),
run AS (
    SELECT t, delta, user_id, session_id,
           CAST(SUM(delta) OVER (ORDER BY t, delta DESC, user_id, session_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS concurrent
    FROM sweep
),
dayed AS (
    SELECT CAST(epoch_us(t) // {_US_PER_DAY} AS BIGINT) AS day, delta, concurrent,
           first_value(concurrent) OVER wd - first_value(delta) OVER wd AS carry_in
    FROM run
    WINDOW wd AS (PARTITION BY CAST(epoch_us(t) // {_US_PER_DAY} AS BIGINT)
                  ORDER BY t, delta DESC, user_id, session_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT day,
       CAST(greatest(MAX(concurrent), MAX(carry_in)) AS BIGINT) AS peak_concurrent,
       CAST(COUNT(CASE WHEN delta = 1 THEN 1 END) AS BIGINT) AS n_session_starts
FROM dayed
GROUP BY day
"""


@register("peak_concurrent_sessions", tags=("ext", "timeseries", "interval"), oracle=_SWEEP_ORACLE)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap analytics: the peak number of SIMULTANEOUSLY
    active user sessions per day — the line-sweep (+1 at start, -1 at
    end, running sum) over the gap-sessionized intervals. This is the
    occupancy-over-time question the reference's meeting-room domain
    ultimately asks ("how many rooms are in use at once?"), distinct
    from both sessionization (islands per key) and the occupancy RATE
    aggregate.

    Conventions, pinned identically in both engines: intervals are
    CLOSED (at equal timestamps starts sort before ends, so touching
    sessions overlap and single-event sessions still register), and the
    sweep order is total — (t, delta DESC, user_id, session_id) — so
    the running sum is deterministic even with timestamp ties.
    Sessions that CROSS midnight are handled: each day's peak is
    greatest(max running at its sweep rows, the carry-in concurrency at
    its first row — first_concurrent - first_delta), so overlap that
    peaks before the day's first endpoint still counts. Remaining
    boundary case, by design: a day with NO session endpoints at all
    (wholly inside one long session) emits no row — a production run
    joins a calendar spine and forward-fills the carry (all integers
    end to end either way).

    Plan: sessionize (one user_id exchange) -> 2 rows per session ->
    the sweep's running sum via operators/ranks.with_running_sum: a
    range exchange on the sweep order, partition-local prefix scans,
    and the per-partition delta totals lifted through a <=P-row driver
    collect — the "shard the sweep and carry each shard's closing
    concurrency into the next as an offset" scale plan, implemented
    rather than promised (r11; the old unpartitioned window funneled 2
    rows per session through one task)."""
    from flinkstreametl_spark.operators.ranks import with_running_sum

    events = load_table(spark, sf_dir, "events")
    sess = (
        sessionize(events, "user_id", "ts", gap_seconds=1800)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    sweep = sess.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "user_id", "session_id"
    ).unionByName(
        sess.select(F.col("e").alias("t"), F.lit(-1).alias("delta"), "user_id", "session_id")
    )
    order_cols = [F.col("t"), F.col("delta").desc(), F.col("user_id"), F.col("session_id")]
    run = with_running_sum(sweep, order_cols, "delta", "concurrent")
    day = (epoch_micros(run, "t") / F.lit(_US_PER_DAY)).cast("long")
    wd = (
        Window.partitionBy("day")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry_in = F.first("concurrent").over(wd) - F.first("delta").over(wd)
    dayed = run.withColumn("day", day).select(
        "day", "delta", "concurrent", carry_in.alias("carry_in")
    )
    return dayed.groupBy("day").agg(
        F.greatest(F.max("concurrent"), F.max("carry_in")).alias("peak_concurrent"),
        F.count(F.when(F.col("delta") == 1, 1)).alias("n_session_starts"),
    )


# Products of daily fixed-point sums overflow BIGINT (~1e20), so the
# moments accumulate in DuckDB HUGEINT / Spark DECIMAL(37,0) — both
# exact — and each moment takes ONE correctly-rounded integer->double
# conversion (no scale, so the sql_dbl double-rounding pitfall does
# not apply) before the identical corr combination chain.
_XCORR_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
paired AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.s_fp AS xa, b.s_fp AS xb
    FROM daily a JOIN daily b
      ON a.day = b.day AND a.event_type < b.event_type
),
m AS (
    SELECT type_a, type_b,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           SUM(xa) AS sx, SUM(xb) AS sy,
           SUM(CAST(xa AS HUGEINT) * CAST(xa AS HUGEINT)) AS sxx,
           SUM(CAST(xb AS HUGEINT) * CAST(xb AS HUGEINT)) AS syy,
           SUM(CAST(xa AS HUGEINT) * CAST(xb AS HUGEINT)) AS sxy
    FROM paired
    GROUP BY type_a, type_b
)
SELECT type_a, type_b, n_days,
       CASE WHEN CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             AND CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
            THEN (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS corr_value
FROM m
"""


@register("series_correlation_pairs", tags=("ext", "timeseries", "stats"), oracle=_XCORR_ORACLE)
def series_correlation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series similarity: Pearson correlation between every pair
    of event types' daily value series over their COMMON days — "which
    metrics move together", the all-pairs base case of time-series
    similarity search (the retrieved EDBT'19 streaming-similarity line
    of work; at thousands of series you'd prune candidates with an SRP
    sketch exactly like the embedding near-dup path).

    Exactness: daily values are fixed-point BIGINTs; their products
    overflow int64, so the six moments accumulate in DECIMAL(37,0)
    (Spark) / HUGEINT (DuckDB) — exact and mergeable either way — and
    each moment crosses to double through ONE correctly-rounded
    integer conversion (scale-0, so the decimal double-rounding trap
    does not apply) before an oracle-identical combination chain.
    Degenerate (zero-variance) series yield NULL by explicit CASE, not
    an engine-specific 0/0.

    Plan: daily grain (one fact shuffle), day-keyed self-join of the
    tiny daily frame, one hash aggregate per type pair; the series
    count bounds the pair fan-out, not the data volume."""
    daily = _daily(spark, sf_dir).select(
        "event_type", "day", F.col("s_fp").cast("decimal(18,0)").alias("x")
    )
    a, b = daily.alias("a"), daily.alias("b")
    paired = a.join(
        b,
        (F.col("a.day") == F.col("b.day")) & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.x").alias("xa"),
        F.col("b.x").alias("xb"),
    )
    m = paired.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).alias("syy"),
        F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
    )
    nd = F.col("n_days").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    vx = nd * sxx - sx * sx
    vy = nd * syy - sy * sy
    return m.select(
        "type_a",
        "type_b",
        "n_days",
        F.when((vx > 0) & (vy > 0), (nd * sxy - sx * sy) / F.sqrt(vx * vy)).alias("corr_value"),
    )


# ---------------------------------------------------------------------------
# Round-5 wave: nonlinear fold + gaps-and-islands + cumulative distinct

# The oracle does NOT mirror the Spark-side fold: the zero-floored
# running sum admits a max-plus closed form, bal_k = P_k - least(0,
# min_{j<=k} P_j) (P = prefix sum of the deviations), so DuckDB
# verifies through an INDEPENDENTLY DERIVED window formulation — a
# stronger check than re-running the same recurrence, and a necessary
# one: DuckDB 1.0's list_reduce miscomputes struct-accumulator lambdas
# (a three-field {d, bal, mx} fold returned a peak provably above the
# running maximum; python-int replay sided with Spark).
_CAPPED_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
base AS (
    SELECT event_type, day,
           CAST(COUNT(*) OVER byk AS BIGINT) AS n_days,
           MAX(day) OVER byk AS last_day,
           CAST(SUM(s_fp) OVER byk AS BIGINT) AS s_total,
           s_fp
    FROM daily
    WINDOW byk AS (PARTITION BY event_type)
),
pre AS (
    SELECT event_type, day, n_days, last_day,
           CAST(SUM(n_days * s_fp - s_total) OVER upto AS BIGINT) AS p_k
    FROM base
    WINDOW upto AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
bal AS (
    SELECT event_type, day, n_days, last_day,
           p_k - least(CAST(0 AS BIGINT), MIN(p_k) OVER upto) AS bal
    FROM pre
    WINDOW upto AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, n_days, last_day,
       CAST(MAX(CASE WHEN day = last_day THEN bal END) AS BIGINT) AS final_buffer_scaled,
       CAST(MAX(bal) AS BIGINT) AS peak_buffer_scaled
FROM bal
GROUP BY event_type, n_days, last_day
"""


@register("capped_balance_daily", tags=("ext", "timeseries", "fold"), oracle=_CAPPED_ORACLE)
def capped_balance_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-floored cumulative surplus per event type — the
    battery/inventory clamp: fold bal_k = max(0, bal_{k-1} + d_k) over
    the day-sorted deviations d_k = n*x_k - S (daily value minus the
    series mean, scaled by n to stay in exact BIGINT, the CUSUM
    trick), reporting the final and the PEAK buffer level.

    The Spark side evaluates the sequential recurrence directly as a
    STRUCT-accumulator fold (``aggregate`` carrying (balance, peak)) —
    the first struct fold in the repo, the seam for recurrences with
    no known closed form. The ORACLE verifies through the max-plus
    closed form instead (bal_k = P_k - least(0, running-min P)): two
    genuinely independent formulations agreeing exactly is stronger
    evidence than one recurrence run twice — and DuckDB 1.0's
    list_reduce turned out to miscompute struct lambdas anyway (see
    the oracle's comment; python-int replay arbitrated for Spark).
    All-integer arithmetic -> bit-identical engines under any
    partitioning. Peak uses ``greatest(acc.mx, acc.bal + d)`` —
    equivalent to max-of-clamped since acc.mx >= 0 — avoiding a
    duplicated nested-greatest subexpression.

    Scale: identical to EWMA/CUSUM — one fact shuffle to the daily
    grain, then a calendar-bounded per-key fold. The n*x products
    carry the same BIGINT headroom contract as ``cusum_scored``
    (DECIMAL(38,0) wide twin at 100 TB)."""
    daily = _daily(spark, sf_dir)
    grouped = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("day").alias("last_day"),
        F.sum("s_fp").alias("s_total"),
        F.array_sort(F.collect_list(F.struct("day", "s_fp"))).alias("_arr"),
    )
    ds = F.transform(
        F.col("_arr"), lambda s: F.col("n_days") * s["s_fp"] - F.col("s_total")
    )
    zero = F.lit(0).cast("long")
    folded = F.aggregate(
        ds,
        F.struct(zero.alias("bal"), zero.alias("mx")),
        lambda acc, d: F.struct(
            F.greatest(zero, acc["bal"] + d).alias("bal"),
            F.greatest(acc["mx"], acc["bal"] + d).alias("mx"),
        ),
    )
    return grouped.select(
        "event_type",
        "n_days",
        "last_day",
        folded["bal"].alias("final_buffer_scaled"),
        folded["mx"].alias("peak_buffer_scaled"),
    )


_STREAK_ORACLE = f"""
WITH ud AS (
    SELECT DISTINCT user_id, CAST(epoch_us(ts) // {_US_PER_DAY} AS BIGINT) AS day
    FROM events
),
runs AS (
    SELECT user_id, day,
           day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
    FROM ud
),
streaks AS (
    SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
    FROM runs
    GROUP BY user_id, grp
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest_streak
FROM streaks
GROUP BY user_id
"""


@register("user_activity_streaks", tags=("ext", "timeseries", "sessionize"), oracle=_STREAK_ORACLE)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands rewrite: on the distinct (user, day) grain,
    ``day - row_number()`` is constant within a consecutive run, so
    one group-by on that constant measures every streak.

    Exactness: integer day indexes end to end. Plan: the
    distinct-day reduction is the one fact shuffle (map-side partial
    on (user_id, day)); the row_number window and both rollups reuse
    the same user_id co-location, and per-key work is bounded by the
    calendar."""
    events = load_table(spark, sf_dir, "events")
    day = (epoch_micros(events, "ts") / F.lit(_US_PER_DAY)).cast("long")
    ud = events.select("user_id", day.alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    runs = ud.withColumn("grp", F.col("day") - F.row_number().over(w))
    streaks = runs.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
    )


_CUMUSERS_ORACLE = f"""
WITH first_day AS (
    SELECT user_id, MIN(CAST(epoch_us(ts) // {_US_PER_DAY} AS BIGINT)) AS day
    FROM events
    GROUP BY user_id
),
per_day AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new_users
    FROM first_day
    GROUP BY day
)
SELECT day, n_new_users,
       CAST(SUM(n_new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM per_day
"""


@register("cumulative_unique_users", tags=("ext", "timeseries"), oracle=_CUMUSERS_ORACLE)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-users-to-date per day — the growth curve — WITHOUT a
    cumulative-distinct scan: each user collapses to their first
    active day (one user_id-keyed aggregate), daily first-timer counts
    follow, and the running total is a window over the daily grain.

    Exactness: integers only. Scale: the global running-sum window is
    partitioned by nothing, but its input is the DAILY grain —
    calendar-bounded (~365 rows/year), not data-bounded — the same
    justification as the EWMA/CUSUM folds; the heavy lifting (events
    -> first day per user) is a map-side-combined shuffle on
    user_id."""
    events = load_table(spark, sf_dir, "events")
    day = (epoch_micros(events, "ts") / F.lit(_US_PER_DAY)).cast("long")
    first_day = (
        events.select("user_id", day.alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("fday"))
    )
    per_day = first_day.groupBy(F.col("fday").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        "day", "n_new_users", F.sum("n_new_users").over(w).alias("cum_users")
    )


_DAU_MAU_ORACLE = f"""
WITH active AS (
    SELECT DISTINCT user_id, CAST(epoch_us(ts) // {_US_PER_DAY} AS BIGINT) AS day
    FROM events
),
bounds AS (SELECT MAX(day) AS max_day FROM active),
dau AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM active GROUP BY day
),
contrib AS (
    SELECT DISTINCT a.user_id, w.w
    FROM active a,
         LATERAL (SELECT unnest(generate_series(a.day, a.day + 27)) AS w) w
    WHERE w.w <= (SELECT max_day FROM bounds)
),
mau AS (
    SELECT w AS day, CAST(COUNT(*) AS BIGINT) AS mau28 FROM contrib GROUP BY w
)
SELECT d.day, d.dau, m.mau28,
       CAST(d.dau AS DOUBLE) / CAST(m.mau28 AS DOUBLE) AS stickiness
FROM dau d JOIN mau m ON m.day = d.day
"""


@register("dau_mau_stickiness", tags=("ext", "timeseries", "bench"), oracle=_DAU_MAU_ORACLE)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / MAU(28d) stickiness per active day — the engagement
    ratio every growth dashboard carries, and the canonical ROLLING
    COUNT DISTINCT problem: a window function cannot express distinct
    users over a trailing 28 days.

    The exact distributed rewrite: each (user, day) activity fact
    contributes to the 28 window-END days [day, day+27] — explode
    that bounded fan-out, dedup (user, window), count per window.
    Exchanges carry at most 28x the DAILY-grain pairs, never raw
    events; no window function touches data-sized input. Reported
    only for days that exist in the activity range (windows past
    max_day are clipped, matching the oracle's bound).

    Exactness: distinct counts are integers; stickiness is one double
    division of exact operands. Output rows are days with >= 1 active
    user (dau join mau is total on those days since every active day
    contributes to its own window)."""
    events = load_table(spark, sf_dir, "events")
    day = (epoch_micros(events, "ts") / F.lit(_US_PER_DAY)).cast("long")
    active = pin(events.select("user_id", day.alias("day")).distinct())
    max_day = active.agg(F.max("day").alias("max_day"))
    dau = active.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = (
        active.select(
            "user_id",
            F.explode(F.sequence(F.col("day"), F.col("day") + 27)).alias("w"),
        )
        .crossJoin(F.broadcast(max_day))
        .filter(F.col("w") <= F.col("max_day"))
        .select("user_id", "w")
        .distinct()
    )
    mau = contrib.groupBy(F.col("w").alias("day")).agg(F.count(F.lit(1)).alias("mau28"))
    return (
        dau.join(mau, "day")
        .select(
            "day",
            "dau",
            "mau28",
            (F.col("dau").cast("double") / F.col("mau28").cast("double")).alias("stickiness"),
        )
    )


# --- classic seasonal decomposition ---------------------------------------
# Additive decomposition (the moving-average method behind STL's
# ancestor, decompose() in every stats stack): per (event_type, day),
#   trend_fp    = centered 7-day moving average (complete windows only)
#   detrended   = s_fp - trend_fp
#   seasonal_fp = per-(event_type, dow) mean of detrended
#   remainder   = detrended - seasonal_fp
# Everything stays in the fixed-point integers the daily grain already
# carries; the two means use integer div (both engines truncate toward
# zero — verified, -7 div 2 == -3 in Spark AND DuckDB, so negative
# detrended values divide identically). A "complete" window means 7
# ROWS *and* a 6-day span: a rows-frame spanning a gap in the calendar
# is not a centered weekly average, so gap-adjacent days drop with the
# series edges. dow = (day + 4) % 7, the module's engine-neutral
# convention (1970-01-01 is a Thursday; day >= 0 so % is exact).
_DECOMP_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
win AS (
    SELECT event_type, day, s_fp,
           SUM(s_fp)   OVER w AS w_sum,
           COUNT(*)    OVER w AS w_n,
           MAX(day)    OVER w - MIN(day) OVER w AS w_span
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
    SELECT event_type, day, s_fp,
           CAST(w_sum // 7 AS BIGINT) AS trend_fp,
           CAST(s_fp - w_sum // 7 AS BIGINT) AS detrended_fp,
           CAST((day + 4) % 7 AS BIGINT) AS dow
    FROM win WHERE w_n = 7 AND w_span = 6
),
seas AS (
    SELECT event_type, dow,
           CAST(SUM(detrended_fp) // COUNT(*) AS BIGINT) AS seasonal_fp
    FROM det GROUP BY event_type, dow
)
SELECT d.event_type, d.day, d.dow, d.s_fp, d.trend_fp, s.seasonal_fp,
       CAST(d.detrended_fp - s.seasonal_fp AS BIGINT) AS remainder_fp
FROM det d JOIN seas s ON s.event_type = d.event_type AND s.dow = d.dow
ORDER BY d.event_type, d.day
"""


@register("seasonal_decompose_daily", tags=("ext", "timeseries"), oracle=_DECOMP_ORACLE)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/seasonal/remainder decomposition of the daily
    value series per event_type (see the block comment above for the
    exact integer spec). Answers the monitoring question the EWMA and
    CUSUM queries bracket: "how much of today's level is trend, how
    much is just Tuesday, and what is actually surprising?" — the
    remainder is what an anomaly detector should consume (feeding it
    raw values re-discovers the weekly cycle as 'anomalies').

    Plan shape: one exchange to the daily grain (map-side partial
    aggregation carries days, not events); the centered window and the
    detrending run inside the per-key day series (calendar-bounded);
    the seasonal profile is a 7-rows-per-key aggregate joined back by
    BROADCAST. Nothing after the first shuffle scales with event
    volume."""
    daily = _daily(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "event_type",
        "day",
        "s_fp",
        F.sum("s_fp").over(w).alias("w_sum"),
        F.count(F.lit(1)).over(w).alias("w_n"),
        (F.max("day").over(w) - F.min("day").over(w)).alias("w_span"),
    )
    det = (
        win.filter((F.col("w_n") == 7) & (F.col("w_span") == 6))
        .select(
            "event_type",
            "day",
            "s_fp",
            F.expr("w_sum div 7").alias("trend_fp"),
            F.expr("s_fp - w_sum div 7").alias("detrended_fp"),
            ((F.col("day") + 4) % 7).cast("long").alias("dow"),
        )
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.expr("sum(detrended_fp) div count(*)").alias("seasonal_fp")
    )
    return (
        det.join(F.broadcast(seas), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "dow",
            "s_fp",
            "trend_fp",
            "seasonal_fp",
            (F.col("detrended_fp") - F.col("seasonal_fp")).alias("remainder_fp"),
        )
        .orderBy("event_type", "day")
    )


# --- Theil–Sen robust trend --------------------------------------------------
# The robust complement to trend_fit_by_event_type's OLS: the median of
# all pairwise slopes (s_j - s_i) / (j - i) over the daily series —
# up to ~29% of the points can be corrupted before the estimate moves
# (OLS breaks at one bad day). Selection is EXACT: slopes stay as
# integer (dy, dx) rationals; the total order is the double quotient
# (identical int64 inputs -> identical IEEE division in both engines)
# tie-broken by (dy, dx); the reported element is the lower median
# (rank (m+1) div 2). slope_fp = dy * FP div dx of that element — no
# averaging, so no cross-engine rounding surface.
#
# 100 TB judgment: the pair set is C(n_days, 2) PER KEY — bounded by
# the CALENDAR squared, not by event volume (a decade of days is ~7M
# pairs), and the expensive exchange remains the one daily-grain
# aggregate; the pair join runs inside each key's bounded series.
_TS_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
pairs AS (
    SELECT a.event_type,
           b.s_fp - a.s_fp AS dy,
           b.day - a.day AS dx
    FROM daily a JOIN daily b
      ON b.event_type = a.event_type AND b.day > a.day
),
ranked AS (
    SELECT event_type, dy, dx,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY CAST(dy AS DOUBLE) / dx, dy, dx) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS m
    FROM pairs
)
SELECT event_type,
       CAST(m AS BIGINT) AS n_slopes,
       CAST(dy AS BIGINT) AS med_dy,
       CAST(dx AS BIGINT) AS med_dx,
       CAST(dy * {_FP} // dx AS BIGINT) AS slope_fp
FROM ranked
WHERE rn = (m + 1) // 2
ORDER BY event_type
"""


@register("theil_sen_trend_daily", tags=("ext", "timeseries", "robust"), oracle=_TS_ORACLE)
def theil_sen_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event_type: the exact lower-median
    pairwise slope of the daily value series, reported as the integer
    rational it is plus its fixed-point quotient (spec in the block
    above — selection, not averaging, so the answer is an actual data
    slope and hash-exact).

    Plan shape: ONE exchange to the daily grain; the pairwise-slope
    join and the median-selection window both run inside the per-key
    day series (calendar-bounded); output is one row per event_type."""
    daily = _daily(spark, sf_dir).select("event_type", "day", "s_fp")
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type")) & (F.col("b.day") > F.col("a.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (F.col("b.s_fp") - F.col("a.s_fp")).alias("dy"),
        (F.col("b.day") - F.col("a.day")).alias("dx"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("dy").cast("double") / F.col("dx"), "dy", "dx"
    )
    cw = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "dy",
        "dx",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("m"),
    )
    return (
        ranked.filter(F.expr("rn = (m + 1) div 2"))
        .select(
            "event_type",
            F.col("m").cast("long").alias("n_slopes"),
            F.col("dy").cast("long").alias("med_dy"),
            F.col("dx").cast("long").alias("med_dx"),
            F.expr(f"dy * {_FP} div dx").cast("long").alias("slope_fp"),
        )
        .orderBy("event_type")
    )


# --- rolling median ----------------------------------------------------------
# The robust twin of daily_moving_avg_7d: a single corrupted day drags
# a 7-day mean for a week; the rolling MEDIAN shrugs it off. Exact by
# construction: the window's 7 integer values are sorted in-row and
# the 4th is SELECTED (no interpolation, no averaging) — array_sort /
# list_sort on BIGINTs is engine-identical. Same complete-window
# convention as seasonal_decompose_daily (7 rows AND a 6-day span: a
# rows-frame spanning a calendar gap is not a centered week).
_RMED_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
win AS (
    SELECT event_type, day, s_fp,
           list(s_fp)  OVER w AS vals,
           COUNT(*)    OVER w AS w_n,
           MAX(day)    OVER w - MIN(day) OVER w AS w_span
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
)
SELECT event_type, day, s_fp,
       CAST(list_sort(vals)[4] AS BIGINT) AS med7_fp
FROM win WHERE w_n = 7 AND w_span = 6
ORDER BY event_type, day
"""


@register("rolling_median_7d", tags=("ext", "timeseries", "robust", "window"), oracle=_RMED_ORACLE)
def rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered 7-day rolling median of the daily value series per
    event_type (exact rank selection — block comment above). Plan
    shape: one exchange to the daily grain, then the window, the
    in-row sort of 7 elements, and the element pick all run inside the
    per-key day series; the 7-element array never leaves the row."""
    daily = _daily(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "event_type",
        "day",
        "s_fp",
        F.collect_list("s_fp").over(w).alias("vals"),
        F.count(F.lit(1)).over(w).alias("w_n"),
        (F.max("day").over(w) - F.min("day").over(w)).alias("w_span"),
    )
    return (
        win.filter((F.col("w_n") == 7) & (F.col("w_span") == 6))
        .select(
            "event_type",
            "day",
            "s_fp",
            F.element_at(F.array_sort("vals"), 4).alias("med7_fp"),
        )
        .orderBy("event_type", "day")
    )


# --- time-weighted average ---------------------------------------------------
# TWAP, the mean that respects HOW LONG each level held: every event's
# value is weighted by the microseconds until the next event of the
# same (event_type, day) series (the last event holds to day end), so
# a spike that lasted 100 ms stops dominating a day the way it does in
# the arithmetic daily mean. Exactness: values at 10^3 fixed point
# (floor(value*1000) — Σ v3·gap_us stays ≤ ~5e16 at the fixture's
# value range, int64-safe; at larger value domains the products widen
# to DECIMAL(38,0), the cusum precedent), gaps in integer µs, and
# twap_fp3 = Σ(v3·gap) div covered — one integer division at the end.
_TWAP_FP3 = 1_000

_TWAP_ORACLE = f"""
WITH ev AS (
    SELECT event_type, event_id,
           epoch_us(ts) AS us,
           CAST(epoch_us(ts) // {_US_PER_DAY} AS BIGINT) AS day,
           CAST(floor(value * {_TWAP_FP3}) AS BIGINT) AS v3
    FROM events
),
gaps AS (
    SELECT event_type, day, v3,
           COALESCE(lead(us) OVER w, (day + 1) * {_US_PER_DAY}) - us AS gap_us
    FROM ev
    WINDOW w AS (PARTITION BY event_type, day ORDER BY us, event_id)
)
SELECT event_type, day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(gap_us) AS BIGINT) AS covered_us,
       CAST(SUM(v3 * gap_us) // SUM(gap_us) AS BIGINT) AS twap_fp3
FROM gaps
GROUP BY event_type, day
ORDER BY event_type, day
"""


@register("time_weighted_avg_daily", tags=("ext", "timeseries", "window"), oracle=_TWAP_ORACLE)
def time_weighted_avg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average value per event_type (exact integer
    spec in the block above) — the level metric for irregularly-spaced
    series, where the plain daily mean over-counts bursts. Plan shape:
    one (event_type, day)-partitioned lead() window in event-time
    order, then the same-keyed aggregate — the window and the group-by
    share one exchange; nothing else shuffles."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "event_type",
        "event_id",
        epoch_micros(events, "ts").alias("us"),
        F.floor(F.col("value") * _TWAP_FP3).cast("long").alias("v3"),
    ).withColumn("day", F.expr(f"us div {_US_PER_DAY}").cast("long"))
    w = Window.partitionBy("event_type", "day").orderBy("us", "event_id")
    gaps = ev.select(
        "event_type",
        "day",
        "v3",
        (
            F.coalesce(F.lead("us").over(w), (F.col("day") + 1) * _US_PER_DAY) - F.col("us")
        ).alias("gap_us"),
    )
    return (
        gaps.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("gap_us").alias("covered_us"),
            F.expr("sum(v3 * gap_us) div sum(gap_us)").alias("twap_fp3"),
        )
        .orderBy("event_type", "day")
    )


# --- error burn rate ---------------------------------------------------------
# SRE-style SLO burn: per day, the error share of all events in exact
# basis points, plus the 7-day trailing share, and the BURN RATIO
# (short window over long window, fixed point) — the multiwindow
# alert rule from the SRE workbook: ratio >> 1 means the budget is
# burning faster than the trailing norm. Integer end to end: shares
# are count ratios in bp; the ratio of ratios is staged integer
# division (numerators cross-multiplied to avoid dividing two small
# bp values).
_BURN_FP = 1_000_000

_BURN_ORACLE = f"""
WITH daily AS (
    SELECT CAST(epoch_us(ts) // {_US_PER_DAY} AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
    FROM events GROUP BY 1
),
win AS (
    SELECT day, n_events, n_errors,
           SUM(n_events) OVER w AS n_events_7d,
           SUM(n_errors) OVER w AS n_errors_7d,
           COUNT(*) OVER w AS w_n
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, n_events, n_errors,
       CAST(n_errors * 10000 // n_events AS BIGINT) AS error_bp,
       CAST(n_errors_7d * 10000 // n_events_7d AS BIGINT) AS error_bp_7d,
       CAST(n_errors * n_events_7d * {_BURN_FP} // greatest(n_events * n_errors_7d, 1) AS BIGINT)
           AS burn_ratio_fp
FROM win
WHERE w_n = 7
ORDER BY day
"""


@register("error_burn_rate_daily", tags=("ext", "timeseries", "sre", "window"), oracle=_BURN_ORACLE)
def error_burn_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily error budget burn: today's error share vs the 7-day
    trailing share, and their fixed-point ratio (exact spec in the
    block above — note the cross-multiplied ratio: n_err·N_7d div
    (N·n_err_7d), never a division of two rounded shares). The single
    global day series makes the unpartitioned trailing window safe —
    its input is calendar-sized, not event-sized; the one event-scale
    exchange is the daily aggregate (map-side partial)."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            (epoch_micros(events, "ts") / F.lit(_US_PER_DAY)).cast("long").alias("day"),
            (F.col("event_type") == "error").cast("long").alias("is_err"),
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("is_err").alias("n_errors"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    win = daily.select(
        "day",
        "n_events",
        "n_errors",
        F.sum("n_events").over(w).alias("n_events_7d"),
        F.sum("n_errors").over(w).alias("n_errors_7d"),
        F.count(F.lit(1)).over(w).alias("w_n"),
    )
    return (
        win.filter(F.col("w_n") == 7)
        .select(
            "day",
            "n_events",
            "n_errors",
            F.expr("n_errors * 10000 div n_events").alias("error_bp"),
            F.expr("n_errors_7d * 10000 div n_events_7d").alias("error_bp_7d"),
            F.expr(
                f"n_errors * n_events_7d * {_BURN_FP} div greatest(n_events * n_errors_7d, 1L)"
            ).alias("burn_ratio_fp"),
        )
        .orderBy("day")
    )


# --- value-distribution drift (KS on a fixed grid) ---------------------------
# The continuous companion to quality_score_drift's categorical L2:
# a Kolmogorov–Smirnov-style statistic between the arrival halves'
# VALUE distributions, evaluated on a 20-bin equal-width grid over the
# global [min, max] (grid edges from the data, integer arithmetic —
# the classic KS sup over all reals is approximated by the grid sup,
# which is exact, deterministic, and engine-portable; an exact-rank KS
# would need a corpus-wide sort). ks_bp = max over grid prefixes of
# |cdfA - cdfB| in basis points, with the arg-max bin reported.
_KS_BINS = 20

def _ks_oracle() -> str:
    # The cdf-per-half join above is easier stated as two scalar
    # prefix aggregations; build it cleanly here instead.
    return f"""
WITH ev AS (
    SELECT event_id, CAST(floor(value * 1000000) AS BIGINT) AS v FROM events
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all, CAST(MIN(v) AS BIGINT) AS lo,
             CAST(MAX(v) AS BIGINT) AS hi FROM ev),
halves AS (
    SELECT CASE WHEN e.event_id * 2 < n.n_all THEN 0 ELSE 1 END AS half,
           least((e.v - n.lo) * {_KS_BINS} // greatest(n.hi - n.lo + 1, 1), {_KS_BINS - 1}) AS bin
    FROM ev e, n
),
h AS (SELECT half, bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM halves GROUP BY 1, 2),
t AS (SELECT half, CAST(SUM(cnt) AS BIGINT) AS tot FROM h GROUP BY half),
cum AS (
    SELECT bin,
           CAST(SUM(CASE WHEN half = 0 THEN cnt ELSE 0 END) AS BIGINT) AS ca,
           CAST(SUM(CASE WHEN half = 1 THEN cnt ELSE 0 END) AS BIGINT) AS cb
    FROM h GROUP BY bin
),
cdf AS (
    SELECT bin,
           SUM(ca) OVER (ORDER BY bin) * 10000 // (SELECT tot FROM t WHERE half = 0) AS cdf_a,
           SUM(cb) OVER (ORDER BY bin) * 10000 // (SELECT tot FROM t WHERE half = 1) AS cdf_b
    FROM cum
),
gap AS (SELECT bin, abs(cdf_a - cdf_b) AS g FROM cdf)
SELECT (SELECT tot FROM t WHERE half = 0) AS n_first,
       (SELECT tot FROM t WHERE half = 1) AS n_second,
       CAST(MAX(g) AS BIGINT) AS ks_bp,
       CAST(MIN(CASE WHEN g = (SELECT MAX(g) FROM gap) THEN bin END) AS BIGINT) AS argmax_bin
FROM gap
"""


@register("value_ks_drift", tags=("ext", "timeseries", "audit", "streaming-twin"), oracle=_ks_oracle())
def value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-KS drift between the arrival halves' event-value
    distributions: max CDF gap in basis points over a 20-bin
    equal-width grid plus the bin where it peaks (exact integer spec
    in the block above). Completes the drift family: categorical
    (quality_score_drift), continuous (here). Plan shape: one scan
    bins every event map-side against broadcast global min/max; the
    (half, bin) histogram is <= 40 cells; all CDF arithmetic runs on
    the cells."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select("event_id", F.floor(F.col("value") * 1_000_000).cast("long").alias("v"))
    n = ev.agg(
        F.count(F.lit(1)).alias("n_all"), F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    halves = ev.crossJoin(F.broadcast(n)).select(
        F.when(F.col("event_id") * 2 < F.col("n_all"), F.lit(0)).otherwise(F.lit(1)).alias("half"),
        F.least(
            F.expr(f"(v - lo) * {_KS_BINS} div greatest(hi - lo + 1, 1L)"),
            F.lit(_KS_BINS - 1),
        ).alias("bin"),
    )
    h = pin(halves.groupBy("half", "bin").agg(F.count(F.lit(1)).alias("cnt")))
    t = h.groupBy("half").agg(F.sum("cnt").alias("tot"))
    ta = t.filter(F.col("half") == 0).select(F.col("tot").alias("ta"))
    tb = t.filter(F.col("half") == 1).select(F.col("tot").alias("tb"))
    cum = h.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, F.col("cnt")).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("half") == 1, F.col("cnt")).otherwise(0)).alias("cb"),
    )
    w = Window.orderBy("bin")  # <= 20 rows: the single partition is the point
    cdf = (
        cum.crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            "bin",
            F.expr("sum(ca) over (order by bin) * 10000").cast("long").alias("pa"),
            F.expr("sum(cb) over (order by bin) * 10000").cast("long").alias("pb"),
            "ta",
            "tb",
        )
        .select("bin", F.expr("pa div ta").alias("cdf_a"), F.expr("pb div tb").alias("cdf_b"))
    )
    gap = pin(cdf.select("bin", F.abs(F.col("cdf_a") - F.col("cdf_b")).alias("g")))
    mx = gap.agg(F.max("g").alias("ks_bp"))
    arg = (
        gap.crossJoin(F.broadcast(mx))
        .filter(F.col("g") == F.col("ks_bp"))
        .agg(F.min("bin").alias("argmax_bin"))
    )
    return (
        mx.crossJoin(F.broadcast(arg))
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            F.col("ta").alias("n_first"),
            F.col("tb").alias("n_second"),
            "ks_bp",
            F.col("argmax_bin").cast("long").alias("argmax_bin"),
        )
    )


# --- MAD anomaly days ----------------------------------------------------------
# The composed robust anomaly gate: zscore_tail_events flags on
# mean/σ (one bad week drags both), mad_robust_price computes the
# robust location/scale on a static dimension — this puts them
# together ON THE TIME SERIES: a day is anomalous when its level sits
# more than _MAD_K MADs from the per-type MEDIAN day, all quantities
# exact-rank-selected integers, the comparison cross-multiplied so no
# division happens at all (|x - med| > K·MAD over int64 fp). MAD = 0
# (constant series) flags any deviation, matching the statistic's
# definition.
_MAD_K = 3

_MADANOM_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
ranked AS (
    SELECT event_type, day, s_fp,
           row_number() OVER (PARTITION BY event_type ORDER BY s_fp, day) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM daily
),
med AS (
    SELECT event_type, MAX(n) AS n,
           MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN s_fp END) AS med_fp
    FROM ranked GROUP BY event_type
),
dev AS (
    SELECT r.event_type, r.day, r.s_fp, m.med_fp,
           abs(r.s_fp - m.med_fp) AS d,
           row_number() OVER (PARTITION BY r.event_type
                              ORDER BY abs(r.s_fp - m.med_fp), r.day) AS drn,
           m.n
    FROM ranked r JOIN med m ON m.event_type = r.event_type
),
mad AS (
    SELECT event_type,
           MAX(CASE WHEN drn = CAST(ceil(0.5 * n) AS BIGINT) THEN d END) AS mad_fp
    FROM dev GROUP BY event_type
)
SELECT d.event_type, d.day, d.s_fp, d.med_fp, m.mad_fp,
       CAST(d.d AS BIGINT) AS abs_dev_fp
FROM dev d JOIN mad m ON m.event_type = d.event_type
WHERE d.d > {_MAD_K} * m.mad_fp
ORDER BY d.event_type, d.day
"""


@register("mad_anomaly_days", tags=("ext", "timeseries", "robust", "audit"), oracle=_MADANOM_ORACLE)
def mad_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose level sits more than 3 MADs from the per-type median
    day — the robust anomaly list (exact integer spec in the block
    above; zero divisions, so zero rounding surface). Plan shape: one
    exchange to the daily grain, two rank windows on the per-key
    calendar-bounded series, and the flag predicate — the
    mad_robust_price machinery pointed at time."""
    daily = _daily(spark, sf_dir).select("event_type", "day", "s_fp")
    byk = Window.partitionBy("event_type")
    rw = byk.orderBy("s_fp", "day")
    ranked = daily.select(
        "event_type",
        "day",
        "s_fp",
        F.row_number().over(rw).alias("rn"),
        F.count(F.lit(1)).over(byk).alias("n"),
    )
    med = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("rn") == F.ceil(0.5 * F.col("n")).cast("long"), F.col("s_fp"))
        ).alias("med_fp"),
    )
    dev = ranked.join(F.broadcast(med.select("event_type", "med_fp")), "event_type").select(
        "event_type",
        "day",
        "s_fp",
        "med_fp",
        F.abs(F.col("s_fp") - F.col("med_fp")).alias("d"),
        "n",
    )
    dw = Window.partitionBy("event_type").orderBy("d", "day")
    dev2 = pin(dev.withColumn("drn", F.row_number().over(dw)))
    mad = dev2.groupBy("event_type").agg(
        F.max(
            F.when(F.col("drn") == F.ceil(0.5 * F.col("n")).cast("long"), F.col("d"))
        ).alias("mad_fp")
    )
    return (
        dev2.join(F.broadcast(mad), "event_type")
        .filter(F.col("d") > _MAD_K * F.col("mad_fp"))
        .select("event_type", "day", "s_fp", "med_fp", "mad_fp", F.col("d").alias("abs_dev_fp"))
        .orderBy("event_type", "day")
    )


# --- forecasting feature table --------------------------------------------------
# The feature-engineering staple for classical forecasting: per
# (event_type, day), yesterday's level, the level a week ago, the
# trailing-7 mean, and the weekday index — the exact design matrix a
# gradient-boosted or linear forecaster trains on. All integer (lags
# are SELECTED values, the trailing mean is Σ div 7 over a complete
# window), so the table is hash-verified like any other query — which
# matters because feature-pipeline bugs are the classic silent ML
# failure. Rows without a full history (first 7 days per key) are
# dropped rather than NULL-padded: a NULL lag is a training-time
# landmine.
_FFT_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
feat AS (
    SELECT event_type, day, s_fp,
           lag(s_fp, 1) OVER w AS lag1_fp,
           lag(s_fp, 7) OVER w AS lag7_fp,
           SUM(s_fp) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS tr_sum,
           COUNT(*)  OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS tr_n,
           MAX(day) OVER w7 - MIN(day) OVER w7 AS span7
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day),
           w7 AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, s_fp,
       CAST(lag1_fp AS BIGINT) AS lag1_fp,
       CAST(lag7_fp AS BIGINT) AS lag7_fp,
       CAST(tr_sum // 7 AS BIGINT) AS trail7_mean_fp,
       CAST((day + 4) % 7 AS BIGINT) AS dow
FROM feat
WHERE tr_n = 7 AND span7 = 7
ORDER BY event_type, day
"""


@register("forecast_feature_table", tags=("ext", "timeseries", "ml", "window"), oracle=_FFT_ORACLE)
def forecast_feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) forecasting features: lag-1, lag-7, the
    trailing-7-day integer mean, and the weekday index — complete
    histories only (exact spec and the NULL-padding rationale in the
    block above). Plan shape: one exchange to the daily grain; the two
    lags and the trailing frame share the per-key ordered window."""
    daily = _daily(spark, sf_dir).select("event_type", "day", "s_fp")
    w = Window.partitionBy("event_type").orderBy("day")
    tr = w.rowsBetween(-7, -1)
    w7 = w.rowsBetween(-7, 0)
    feat = daily.select(
        "event_type",
        "day",
        "s_fp",
        F.lag("s_fp", 1).over(w).alias("lag1_fp"),
        F.lag("s_fp", 7).over(w).alias("lag7_fp"),
        F.sum("s_fp").over(tr).alias("tr_sum"),
        F.count(F.lit(1)).over(tr).alias("tr_n"),
        (F.max("day").over(w7) - F.min("day").over(w7)).alias("span7"),
    )
    return (
        feat.filter((F.col("tr_n") == 7) & (F.col("span7") == 7))
        .select(
            "event_type",
            "day",
            "s_fp",
            "lag1_fp",
            "lag7_fp",
            F.expr("tr_sum div 7").alias("trail7_mean_fp"),
            ((F.col("day") + 4) % 7).cast("long").alias("dow"),
        )
        .orderBy("event_type", "day")
    )


# --- Holt linear trend (double exponential smoothing) --------------------

# The coupled (level, trend) recursion folds over day-ordered [y, 0]
# LIST elements; the accumulator type must equal the element type in
# DuckDB list_reduce (no initial-value arg in 1.0), so the series is a
# list-of-2-lists and the seed is its first element: l0 = y0, b0 = 0
# (a standard init variant; with b0 = 0 the first step reduces to
# simple smoothing). A STRUCT accumulator would be the natural
# spelling, but DuckDB 1.0's list_reduce mis-evaluates the second
# field of a multi-field struct lambda past the first step (verified
# against a hand fold — the shared subexpression of the 'b' field
# reads a stale accumulator); the [l, b] list accumulator folds
# bit-exactly. Alpha = 1/2 and beta = 1/4 are dyadic: exact doubles in
# both engines (module convention — 0.3 would NOT be safe).
_HOLT_L = "(CAST(0.5 AS DOUBLE) * e[1] + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]))"
_HOLT_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
series AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           MAX(day) AS last_day,
           list([CAST(s_fp AS DOUBLE) / {_FP}.0, CAST(0.0 AS DOUBLE)] ORDER BY day) AS xs
    FROM daily
    GROUP BY event_type
), fitted AS (
    SELECT event_type, n_days, last_day,
           list_reduce(xs, (acc, e) -> [
               {_HOLT_L},
               CAST(0.25 AS DOUBLE) * ({_HOLT_L} - acc[1]) + CAST(0.75 AS DOUBLE) * acc[2]
           ]) AS st
    FROM series
)
SELECT event_type, n_days, last_day,
       st[1] AS level, st[2] AS trend,
       st[1] + CAST(7.0 AS DOUBLE) * st[2] AS forecast_7d
FROM fitted
"""


@register("holt_linear_forecast_daily", tags=("ext", "timeseries", "forecast"), oracle=_HOLT_ORACLE)
def holt_linear_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing of the daily value level per event
    type (alpha = 1/2, beta = 1/4, seeded l0 = y0 / b0 = 0), with the
    7-day-ahead forecast level + 7·trend — the trend-aware upgrade of
    ``ewma_daily_value`` (which a drifting series systematically lags).

    Determinism: the coupled recursion is a sequential left fold over
    the day-sorted series in BOTH engines (Spark ``aggregate`` over
    ``array_sort(collect_list(struct))`` with a (l, b) struct
    accumulator; DuckDB ``list_reduce`` over a struct list), dyadic
    smoothing constants, identical expression trees — every
    intermediate double is bit-identical (ewma_fold rationale).

    Scale: the fold runs on the calendar-bounded daily grain, never on
    events; the one heavy exchange is the map-side-combined daily
    aggregate."""
    daily = _daily(spark, sf_dir).select(
        "event_type",
        "day",
        (F.col("s_fp").cast("double") / F.lit(float(_FP))).alias("x"),
    )
    arr = F.array_sort(F.collect_list(F.struct("day", "x")))
    grouped = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("day").alias("last_day"),
        arr.alias("_arr"),
    )
    xs = F.transform(
        F.col("_arr"), lambda s: F.struct(s["x"].alias("l"), F.lit(0.0).alias("b"))
    )

    def _step(acc, e):
        lvl = F.lit(0.5) * e["l"] + F.lit(0.5) * (acc["l"] + acc["b"])
        return F.struct(
            lvl.alias("l"),
            (F.lit(0.25) * (lvl - acc["l"]) + F.lit(0.75) * acc["b"]).alias("b"),
        )

    st = F.aggregate(
        F.slice(xs, F.lit(2), F.size(xs) - F.lit(1)), F.element_at(xs, 1), _step
    )
    return grouped.select(
        "event_type",
        "n_days",
        "last_day",
        st["l"].alias("level"),
        st["b"].alias("trend"),
        (st["l"] + F.lit(7.0) * st["b"]).alias("forecast_7d"),
    )


# --- Sample autocorrelation (exact component sums) ------------------------

#: ACF series values in WHOLE units (s_fp div FP): keeps every power
#: sum inside int64 at sf1000-scale daily sums (y_d ~ 1e11 -> y² ~ 1e22
#: would overflow; whole units bound y_d by the daily value volume,
#: documented per-component below).
_ACF_LAGS = 7

_ACF_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
y AS (
    SELECT event_type, day, s_fp // {_FP} AS yv FROM daily
), tot AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(yv) AS BIGINT) AS s1,
           CAST(SUM(yv * yv) AS BIGINT) AS s2
    FROM y GROUP BY event_type
), lagged AS (
    SELECT a.event_type, l.lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(a.yv * b.yv) AS BIGINT) AS c_k,
           CAST(SUM(a.yv) AS BIGINT) AS a_k,
           CAST(SUM(b.yv) AS BIGINT) AS b_k
    FROM y a
    JOIN (SELECT unnest(range(1, {_ACF_LAGS + 1})) AS lag) l ON true
    JOIN y b ON b.event_type = a.event_type AND b.day = a.day + l.lag
    GROUP BY 1, 2
)
SELECT lagged.event_type, lagged.lag, tot.n_days, lagged.n_pairs,
       lagged.c_k, lagged.a_k, lagged.b_k, tot.s1, tot.s2,
       (CAST(tot.n_days AS DOUBLE) * CAST(tot.n_days AS DOUBLE) * CAST(lagged.c_k AS DOUBLE)
        - CAST(tot.n_days AS DOUBLE) * CAST(tot.s1 AS DOUBLE)
          * (CAST(lagged.a_k AS DOUBLE) + CAST(lagged.b_k AS DOUBLE))
        + (CAST(tot.n_days AS DOUBLE) - CAST(lagged.lag AS DOUBLE))
          * CAST(tot.s1 AS DOUBLE) * CAST(tot.s1 AS DOUBLE))
       / (CAST(tot.n_days AS DOUBLE)
          * (CAST(tot.n_days AS DOUBLE) * CAST(tot.s2 AS DOUBLE)
             - CAST(tot.s1 AS DOUBLE) * CAST(tot.s1 AS DOUBLE))) AS acf
FROM lagged JOIN tot ON tot.event_type = lagged.event_type
"""


@register("acf_daily_lags", tags=("ext", "timeseries", "stats"), oracle=_ACF_ORACLE)
def acf_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily value series per event type
    at lags 1..7 — the is-there-weekly-structure screen that picks the
    seasonal period for ``seasonal_decompose_daily`` instead of
    assuming it. Component sums (C_k = Σ y_d·y_{d+k}, window sums A_k /
    B_k, corpus S1/S2) are exact int64 in whole units; the ACF ratio is
    assembled in double from those identical int64s with an identical
    expression tree in both engines, so it is bit-portable (the
    repo's portable-division rule).

    r_k = (N²·C_k − N·S1·(A_k+B_k) + (N−k)·S1²) / (N·(N·S2 − S1²))
    — the textbook estimator cross-multiplied by N² so no intermediate
    is a small-integer ratio.

    Scale: events collapse to the calendar-bounded daily grain first
    (one map-side-combined exchange); the lag self-join and every
    window run on that ~|days|-row frame. int64 headroom: whole-unit
    y_d ≤ ~1e8 at sf1 ⇒ y² ≤ 1e16, × |days| ≤ 4e18 < 2^63 (bound
    re-checked at sf1 in the round-9 notes)."""
    y = _daily(spark, sf_dir).select(
        "event_type", "day", F.expr(f"s_fp div {_FP}").alias("yv")
    )
    y = pin(y)  # three consumers: tot, both join sides
    tot = y.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("yv").alias("s1"),
        F.sum(F.col("yv") * F.col("yv")).alias("s2"),
    )
    lags = spark.range(1, _ACF_LAGS + 1).select(F.col("id").alias("lag"))
    a = y.alias("a").crossJoin(F.broadcast(lags))
    b = y.select(
        F.col("event_type").alias("bt"), F.col("day").alias("bd"), F.col("yv").alias("byv")
    )
    lagged = (
        a.join(b, (F.col("bt") == F.col("event_type")) & (F.col("bd") == F.col("day") + F.col("lag")))
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("yv") * F.col("byv")).alias("c_k"),
            F.sum("yv").alias("a_k"),
            F.sum("byv").alias("b_k"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        lagged.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "lag",
            "n_days",
            "n_pairs",
            "c_k",
            "a_k",
            "b_k",
            "s1",
            "s2",
            (
                (
                    d("n_days") * d("n_days") * d("c_k")
                    - d("n_days") * d("s1") * (d("a_k") + d("b_k"))
                    + (d("n_days") - d("lag")) * d("s1") * d("s1")
                )
                / (d("n_days") * (d("n_days") * d("s2") - d("s1") * d("s1")))
            ).alias("acf"),
        )
    )


# --- Order backlog (open-minus-closed cumulative) --------------------------

_BACKLOG_ORACLE = f"""
WITH opened AS (
    SELECT CAST(epoch_us(o_orderdate) // {_US_PER_DAY} AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_opened
    FROM orders GROUP BY 1
), closed AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS n_closed
    FROM (
        SELECT l_orderkey,
               CAST(epoch_us(MAX(l_shipdate)) // {_US_PER_DAY} AS BIGINT) AS day
        FROM lineitem GROUP BY l_orderkey
    ) GROUP BY day
), merged AS (
    SELECT COALESCE(o.day, c.day) AS day,
           COALESCE(o.n_opened, 0) AS n_opened,
           COALESCE(c.n_closed, 0) AS n_closed
    FROM opened o FULL OUTER JOIN closed c ON o.day = c.day
)
SELECT day, n_opened, n_closed,
       CAST(SUM(n_opened - n_closed) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
FROM merged
"""


@register("orders_backlog_daily", tags=("ext", "warehouse", "timeseries"), oracle=_BACKLOG_ORACLE)
def orders_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: orders opened (header date) minus
    orders fully shipped (max line ship date), cumulated — the
    operations dashboard's work-in-progress curve. An order with no
    line items never closes; one with lines closes exactly once.

    Plan shape: per-order close day is one l_orderkey-keyed aggregate
    (map-side combined); both day-grain histograms and their full-outer
    merge are |days|-row frames, so the single unpartitioned cumsum
    window runs on the calendar-bounded merged frame (~2500 rows for
    seven years), NOT on facts — the repo's global-Window rule."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    opened = (
        orders.select(
            (epoch_micros(orders, "o_orderdate") / F.lit(_US_PER_DAY)).cast("long").alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_opened"))
    )
    per_order_close = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_ts"))
    closed = (
        per_order_close.select(
            (epoch_micros(per_order_close, "close_ts") / F.lit(_US_PER_DAY))
            .cast("long")
            .alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_closed"))
    )
    merged = (
        opened.join(closed, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
            F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return merged.select(
        "day",
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).alias("backlog"),
    )


# --- Inter-arrival burstiness ----------------------------------------------

_BURST_ORACLE = """
WITH g AS (
    SELECT user_id,
           (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY ts, event_id)) // 1000000 AS gap_s
    FROM events
)
SELECT user_id,
       CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s,
       CAST(SUM(gap_s * gap_s) AS BIGINT) AS sum_gap_sq,
       (sqrt(CAST(COUNT(gap_s) AS DOUBLE) * CAST(SUM(gap_s * gap_s) AS DOUBLE)
             - CAST(SUM(gap_s) AS DOUBLE) * CAST(SUM(gap_s) AS DOUBLE))
        - CAST(SUM(gap_s) AS DOUBLE))
       / (sqrt(CAST(COUNT(gap_s) AS DOUBLE) * CAST(SUM(gap_s * gap_s) AS DOUBLE)
               - CAST(SUM(gap_s) AS DOUBLE) * CAST(SUM(gap_s) AS DOUBLE))
          + CAST(SUM(gap_s) AS DOUBLE)) AS burstiness
FROM g
WHERE gap_s IS NOT NULL
GROUP BY user_id
"""


@register("inter_arrival_burstiness", tags=("ext", "timeseries", "stats", "events"), oracle=_BURST_ORACLE)
def inter_arrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness B = (σ−μ)/(σ+μ) of inter-event gaps
    (Goh-Barabási): −1 = metronome, 0 = Poisson, →1 = bursty. The
    behavioral bot-vs-human screen over the event stream. Gap moments
    are exact int64 in whole SECONDS (µs gaps squared would overflow);
    B is assembled in double from those identical int64s with an
    identical expression tree (σ and μ share the common
    √(n·Σg²−(Σg)²) cross-multiplied form, so no small-ratio
    intermediate).

    Plan shape: one lag window partitioned by user_id (per-user state,
    one shuffle), then a user-keyed aggregate on the same partitioning.
    int64 headroom: gap ≤ 2.6e6 s over the 30-day span ⇒ gap² ≤ 7e12,
    × per-user events ≤ 1e5 ⇒ ≤ 7e17 < 2^63."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        events.select(
            "user_id", epoch_micros(events, "ts").alias("us"), "ts", "event_id"
        )
        .select("user_id", (F.col("us") - F.lag("us").over(w)).alias("gap_us"))
        .select("user_id", F.expr("gap_us div 1000000").alias("gap_s"))
    )
    agg = (
        g.filter(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.sum("gap_s").alias("sum_gap_s"),
            F.sum(F.col("gap_s") * F.col("gap_s")).alias("sum_gap_sq"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    disc = F.sqrt(d("n_gaps") * d("sum_gap_sq") - d("sum_gap_s") * d("sum_gap_s"))
    return agg.select(
        "user_id",
        "n_gaps",
        "sum_gap_s",
        "sum_gap_sq",
        ((disc - d("sum_gap_s")) / (disc + d("sum_gap_s"))).alias("burstiness"),
    )


# --- Holt-Winters additive seasonal (period 7) ------------------------------

# Fold state: [l, b, t, s0..s6] (10 doubles; t is the 1-based step
# counter so the seasonal slot of the element being consumed is
# t mod 7 — position-mod-7 seasonality: slots rotate with the
# day-ordered SERIES POSITION, which equals day-of-week only for a
# gapless series like the fixture's). Element: [y, 0 x 9]. Seed = the
# first element: l0 = y0, b0 = 0, s = zeros (cold-start; a slot first
# contributes after one full period). All smoothing constants dyadic:
# alpha = 1/2, beta = gamma = 1/4.
_HW_T1 = "(acc[3] + CAST(1.0 AS DOUBLE))"
_HW_SLOT = f"(CAST({_HW_T1} AS INTEGER) % 7)"
_HW_SPREV = f"acc[4 + {_HW_SLOT}]"
_HW_L = (
    f"(CAST(0.5 AS DOUBLE) * (e[1] - {_HW_SPREV})"
    f" + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]))"
)
_HW_B = f"(CAST(0.25 AS DOUBLE) * ({_HW_L} - acc[1]) + CAST(0.75 AS DOUBLE) * acc[2])"
_HW_S = f"(CAST(0.25 AS DOUBLE) * (e[1] - {_HW_L}) + CAST(0.75 AS DOUBLE) * {_HW_SPREV})"

_HW_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
series AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           MAX(day) AS last_day,
           list(list_concat([CAST(s_fp AS DOUBLE) / {_FP}.0],
                            [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                             CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                             CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)])
                ORDER BY day) AS xs
    FROM daily
    GROUP BY event_type
), fitted AS (
    SELECT event_type, n_days, last_day,
           list_reduce(xs, (acc, e) -> list_concat(
               [{_HW_L}, {_HW_B}, {_HW_T1}],
               list_transform(range(0, 7),
                   i -> CASE WHEN i = {_HW_SLOT} THEN {_HW_S} ELSE acc[i + 4] END)
           )) AS st
    FROM series
)
SELECT event_type, n_days, last_day,
       st[1] AS level, st[2] AS trend,
       st[4 + (CAST(n_days AS INTEGER) % 7)] AS season_next,
       st[1] + st[2] + st[4 + (CAST(n_days AS INTEGER) % 7)] AS forecast_1
FROM fitted
"""


@register(
    "holt_winters_seasonal_daily",
    tags=("ext", "timeseries", "forecast"),
    oracle=_HW_ORACLE,
)
def holt_winters_seasonal_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple smoothing of the daily value level
    per event type (alpha = 1/2, beta = gamma = 1/4, period 7), with
    the one-step forecast level + trend + next-slot seasonal — the
    seasonality-aware member of the forecasting ladder (EWMA -> Holt ->
    here), fitting what ``dow_seasonality_profile`` only measures.

    Determinism: the whole (level, trend, seasonal[7]) state folds as a
    sequential left fold over the day-sorted series in BOTH engines
    with a 10-slot double-array accumulator and an identical
    expression tree per step (the list-accumulator spelling that
    ``holt_linear_forecast_daily`` documents — DuckDB 1.0 struct
    lambdas are not safe); dyadic constants keep every arithmetic step
    a correctly-rounded double op on identical inputs, so all outputs
    are bit-identical.

    Scale: the fold is per-key sequential by nature but runs on the
    calendar-bounded daily grain; the one heavy exchange is the
    map-side-combined daily aggregate (ewma_fold rationale)."""
    daily = _daily(spark, sf_dir).select(
        "event_type",
        "day",
        (F.col("s_fp").cast("double") / F.lit(float(_FP))).alias("x"),
    )
    arr = F.array_sort(F.collect_list(F.struct("day", "x")))
    grouped = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("day").alias("last_day"),
        arr.alias("_arr"),
    )
    zeros9 = F.array_repeat(F.lit(0.0), 9)
    xs = F.transform(F.col("_arr"), lambda s: F.concat(F.array(s["x"]), zeros9))

    def _step(acc, e):
        t1 = F.element_at(acc, 3) + F.lit(1.0)
        slot = t1.cast("int") % F.lit(7)
        sprev = F.element_at(acc, (F.lit(4) + slot).cast("int"))
        lp = F.lit(0.5) * (F.element_at(e, 1) - sprev) + F.lit(0.5) * (
            F.element_at(acc, 1) + F.element_at(acc, 2)
        )
        bp = F.lit(0.25) * (lp - F.element_at(acc, 1)) + F.lit(0.75) * F.element_at(acc, 2)
        snew = F.lit(0.25) * (F.element_at(e, 1) - lp) + F.lit(0.75) * sprev
        seas = F.transform(
            F.sequence(F.lit(0), F.lit(6)),
            lambda i: F.when(i == slot, snew).otherwise(
                F.element_at(acc, (i + F.lit(4)).cast("int"))
            ),
        )
        return F.concat(F.array(lp, bp, t1), seas)

    st = F.aggregate(
        F.slice(xs, F.lit(2), F.size(xs) - F.lit(1)), F.element_at(xs, 1), _step
    )
    grouped = grouped.withColumn("_st", st)
    nslot = (F.lit(4) + F.col("n_days").cast("int") % F.lit(7)).cast("int")
    return grouped.select(
        "event_type",
        "n_days",
        "last_day",
        F.element_at("_st", 1).alias("level"),
        F.element_at("_st", 2).alias("trend"),
        F.element_at(F.col("_st"), nslot).alias("season_next"),
        (
            F.element_at("_st", 1)
            + F.element_at("_st", 2)
            + F.element_at(F.col("_st"), nslot)
        ).alias("forecast_1"),
    )


_PETTITT_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
v AS (
    SELECT a.event_type, a.day,
           CAST(SUM(CASE WHEN a.s_fp > b.s_fp THEN 1
                         WHEN a.s_fp < b.s_fp THEN -1 ELSE 0 END) AS BIGINT) AS v_t
    FROM daily a JOIN daily b ON a.event_type = b.event_type
    GROUP BY 1, 2
), u AS (
    SELECT event_type, day,
           CAST(SUM(v_t) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS u_t,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
    FROM v
)
SELECT event_type, n_days, day AS change_day, abs(u_t) AS k_stat, u_t AS u_at_change
FROM (
    SELECT u.*, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY abs(u_t) DESC, day) AS rn
    FROM u
) r
WHERE rn = 1
"""


@register("pettitt_changepoint_daily", tags=("ext", "timeseries", "stats"), oracle=_PETTITT_ORACLE)
def pettitt_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt nonparametric changepoint test per event type: the day
    t maximizing |U_t|, U_t = sum over i<=t, j>t of sign(x_i - x_j) on
    the daily value series — the rank-based single-changepoint locator
    (a robust complement to ``cusum_changepoint_daily``, which reacts
    to mean shifts in value units; Pettitt is invariant to any
    monotone transform of the values).

    Exactness: signs of exact fixed-point BIGINTs, integer sums only —
    no ranks, no floats anywhere. The incremental identity
    U_t = U_{t-1} + V_t with V_t = sum over ALL j of sign(x_t - x_j)
    turns the textbook O(n^2)-per-t triple loop into ONE pairwise
    aggregate plus a running-sum window; the pair join runs on the
    calendar-bounded daily grain (30 days here, 365/year at any data
    volume), never on events. A self-check the tests pin: V_t is
    antisymmetric, so U at the last day is exactly 0.

    Scale: the only event-volume-proportional work is the daily-grain
    reduction (one map-side-combined shuffle); everything after is
    days^2 <= 365^2 rows per series per year."""
    daily = _daily(spark, sf_dir).select("event_type", "day", "s_fp")
    a, b = daily.alias("a"), daily.alias("b")
    sign = (
        F.when(F.col("a.s_fp") > F.col("b.s_fp"), 1)
        .when(F.col("a.s_fp") < F.col("b.s_fp"), -1)
        .otherwise(0)
    )
    v = (
        a.join(b, F.col("a.event_type") == F.col("b.event_type"))
        .select(F.col("a.event_type").alias("event_type"), F.col("a.day").alias("day"), sign.alias("s"))
        .groupBy("event_type", "day")
        .agg(F.sum("s").cast("long").alias("v_t"))
    )
    w_run = Window.partitionBy("event_type").orderBy("day")
    w_all = Window.partitionBy("event_type")
    u = v.select(
        "event_type",
        "day",
        F.sum("v_t").over(w_run).cast("long").alias("u_t"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_days"),
    )
    w_pick = Window.partitionBy("event_type").orderBy(F.abs(F.col("u_t")).desc(), "day")
    return (
        u.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("day").alias("change_day"),
            F.abs(F.col("u_t")).alias("k_stat"),
            F.col("u_t").alias("u_at_change"),
        )
    )


_BT_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
lagged AS (
    SELECT event_type, day, s_fp,
           LAG(s_fp, 1) OVER (PARTITION BY event_type ORDER BY day) AS f_naive,
           LAG(s_fp, 7) OVER (PARTITION BY event_type ORDER BY day) AS f_snaive
    FROM daily
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_origins,
       CAST(SUM(abs(s_fp - f_naive)) // COUNT(*) AS BIGINT) AS naive_mae_fp,
       CAST(SUM(abs(s_fp - f_snaive)) // COUNT(*) AS BIGINT) AS snaive_mae_fp,
       CAST(SUM(CASE WHEN abs(f_naive) + abs(s_fp) = 0 THEN 0
                ELSE abs(s_fp - f_naive) * 2000000 // (abs(f_naive) + abs(s_fp)) END)
            // COUNT(*) AS BIGINT) AS naive_smape_ppm,
       CAST(SUM(CASE WHEN abs(f_snaive) + abs(s_fp) = 0 THEN 0
                ELSE abs(s_fp - f_snaive) * 2000000 // (abs(f_snaive) + abs(s_fp)) END)
            // COUNT(*) AS BIGINT) AS snaive_smape_ppm
FROM lagged
WHERE f_naive IS NOT NULL AND f_snaive IS NOT NULL
GROUP BY event_type
"""


@register("forecast_naive_backtest", tags=("ext", "timeseries", "eval"), oracle=_BT_ORACLE)
def forecast_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin 1-step backtest of the two no-model forecast
    baselines on the daily value series: naive (f = yesterday) and
    7-day seasonal naive (f = same weekday last week), reported as MAE
    (fixed-point) and sMAPE (ppm) per event type. This is the skill
    floor the Holt / Holt-Winters queries must beat — a forecast eval
    without its naive baseline is uninterpretable (the M-competition
    convention; MASE scales by exactly the naive MAE this emits).

    Exactness: every origin's error term is an integer (fixed-point
    |e|, and sMAPE's |e|*2e6 // (|f|+|a|) — integer division), so the
    per-type means are integer sums divided with `div` — no float
    enters at any point, hence partition- and engine-exact.

    Plan: the daily-grain reduction (one shuffle), two LAGs on one
    per-type day-ordered window, one aggregate. Origins where either
    lag is undefined (first 7 days) are excluded from BOTH baselines
    so the two columns are comparable over the same origin set."""
    daily = _daily(spark, sf_dir).select("event_type", "day", "s_fp")
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "s_fp",
        F.lag("s_fp", 1).over(w).alias("f_naive"),
        F.lag("s_fp", 7).over(w).alias("f_snaive"),
    ).filter(F.col("f_naive").isNotNull() & F.col("f_snaive").isNotNull())

    def _smape_term(fcol: str) -> F.Column:
        denom = F.abs(F.col(fcol)) + F.abs(F.col("s_fp"))
        return F.when(denom == 0, F.lit(0)).otherwise(
            F.expr(f"abs(s_fp - {fcol}) * 2000000 div (abs({fcol}) + abs(s_fp))")
        )

    agg = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_origins"),
        F.sum(F.abs(F.col("s_fp") - F.col("f_naive"))).alias("_sn"),
        F.sum(F.abs(F.col("s_fp") - F.col("f_snaive"))).alias("_ss"),
        F.sum(_smape_term("f_naive")).alias("_pn"),
        F.sum(_smape_term("f_snaive")).alias("_ps"),
    )
    return agg.select(
        "event_type",
        "n_origins",
        F.expr("_sn div n_origins").cast("long").alias("naive_mae_fp"),
        F.expr("_ss div n_origins").cast("long").alias("snaive_mae_fp"),
        F.expr("_pn div n_origins").cast("long").alias("naive_smape_ppm"),
        F.expr("_ps div n_origins").cast("long").alias("snaive_smape_ppm"),
    )


_MK_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
s AS (
    SELECT a.event_type,
           CAST(SUM(CASE WHEN b.s_fp > a.s_fp THEN 1
                         WHEN b.s_fp < a.s_fp THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
           CAST(COUNT(DISTINCT a.day) + 1 AS BIGINT) AS n_days
    FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.day < b.day
    GROUP BY 1
), ties AS (
    SELECT event_type,
           CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
    FROM (
        SELECT event_type, s_fp, CAST(COUNT(*) AS BIGINT) AS t
        FROM daily GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ) g
    GROUP BY 1
)
SELECT s.event_type, s.n_days, s.s_stat,
       s.n_days * (s.n_days - 1) * (2 * s.n_days + 5) - COALESCE(t.tie_term, 0) AS var_s_x18,
       CASE WHEN s.s_stat = 0 THEN 0.0
            ELSE round((CAST(s.s_stat AS DOUBLE) - CAST(sign(s.s_stat) AS DOUBLE))
                       / sqrt(CAST(s.n_days * (s.n_days - 1) * (2 * s.n_days + 5)
                                   - COALESCE(t.tie_term, 0) AS DOUBLE) / 18.0), 4)
       END AS z_stat
FROM s LEFT JOIN ties t USING (event_type)
"""


@register("mann_kendall_trend_daily", tags=("ext", "timeseries", "stats"), oracle=_MK_ORACLE)
def mann_kendall_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test per event type on the daily
    value series: S (the pairwise sign sum), the tie-corrected
    Var(S) x 18 (kept as an exact integer), and the continuity-
    corrected z statistic. The hypothesis-test companion to
    ``theil_sen_trend_daily`` — Theil-Sen says HOW steep, Mann-Kendall
    says whether the monotone trend is significant at all, from the
    SAME pairwise machinery (and ``pettitt_changepoint_daily`` is the
    same pair join asking WHERE the shift happened).

    Exactness: S and the tie term are pure integer sums; the one z
    division + sqrt is assembled in double in identical literal order
    (round 4), with the S = 0 branch pinned to 0.0 by CASE rather than
    relying on sign() conventions.

    Scale: pair join on the calendar-bounded daily grain (days^2 rows
    per type per year), after the single event-volume-proportional
    daily reduction — the Pettitt plan shape exactly. The daily frame
    is pinned: THREE consumers (both pair-join sides + the tie pass)
    would otherwise each replay the events aggregation (caught by
    tools/audit_dup_subtrees.py's repeated-scan count)."""
    daily = pin(_daily(spark, sf_dir).select("event_type", "day", "s_fp"))
    a, b = daily.alias("a"), daily.alias("b")
    sign = (
        F.when(F.col("b.s_fp") > F.col("a.s_fp"), 1)
        .when(F.col("b.s_fp") < F.col("a.s_fp"), -1)
        .otherwise(0)
    )
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type")) & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(sign).cast("long").alias("s_stat"),
            (F.countDistinct(F.col("a.day")) + 1).cast("long").alias("n_days"),
        )
    )
    ties = (
        daily.groupBy("event_type", "s_fp")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") >= 2)
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("long")
            .alias("tie_term")
        )
    )
    j = s.join(ties, "event_type", "left").withColumn(
        "var_s_x18",
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.coalesce(F.col("tie_term"), F.lit(0)),
    )
    z = F.when(F.col("s_stat") == 0, F.lit(0.0)).otherwise(
        F.round(
            (F.col("s_stat").cast("double") - F.signum(F.col("s_stat")).cast("double"))
            / F.sqrt(F.col("var_s_x18").cast("double") / F.lit(18.0)),
            4,
        )
    )
    return j.select("event_type", "n_days", "s_stat", "var_s_x18", z.alias("z_stat"))
