"""Scalable exact global ranking / prefix scans (VERDICT r10 item 3 /
ADVICE r10).

``row_number() OVER (ORDER BY ...)`` with no partition spec funnels
the whole table through ONE task — fine at fixture scale, a
single-core sort of the corpus at 100 TB. The classical two-phase
rewrite used here: range-repartition on the order key (a distributed
sort, every task sorts only its slice), rank/scan locally with a
PARTITIONED window, then lift local values to global ones with
per-partition summaries — a <=P-row driver collect, the same
parameter-sized pattern the graph/ANN operators use. The lift joins a
broadcast (pid, offset) frame — a hash lookup per row, not an O(P)
literal-map scan, so the cost is flat however many shuffle partitions
a real cluster runs.

Range partitions are non-overlapping in key order, so
``global value = offset[pid] + local value`` wherever the sampled
range boundaries land: boundary placement affects load balance only,
never results. With a total order (unique key) the outputs are
therefore bit-identical to the unpartitioned window and deterministic
(tests/test_chunk_split.py, tests/test_partition_invariance.py); with
ties the permutation within a tie group is arbitrary either way, so
any value-at-rank or tile-of-row consumer sees identical results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flinkstreametl_spark.session import pin

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _two_phase(df: DataFrame, order_cols: list, summary: Column):
    """Shared first phase: range-repartition on ``order_cols`` (names
    or Column sort expressions), stamp the partition id, pin the
    partitioning, and collect the per-partition ``summary`` aggregate
    into exclusive prefix offsets.

    The repartitioned input is pinned BEFORE the
    collect: the range exchange samples boundaries per job, so the
    summary job and downstream consumers must see one frozen
    partitioning, not two independently sampled ones.

    Returns (keyed_df_with `_tp_pid`, sort_exprs, offsets_df, total)
    where offsets_df is the <=P-row (pid, exclusive-prefix) frame and
    total is the inclusive grand total.
    """
    spark = df.sparkSession
    exprs = [c if isinstance(c, Column) else F.col(c) for c in order_cols]
    # Vendor distributions set spark.sql.shuffle.partitions to
    # non-numeric values ("auto"); fall back to defaultParallelism
    # rather than failing every rank/scan primitive at plan time
    # (ADVICE r11). The partition COUNT never affects results — range
    # partitions compose exactly whatever the boundaries — only load
    # balance.
    try:
        nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    except (TypeError, ValueError):
        nparts = max(int(spark.sparkContext.defaultParallelism), 1)
    keyed = pin(
        df.repartitionByRange(nparts, *exprs)
        .withColumn("_tp_pid", F.spark_partition_id())
    )
    rows = sorted(
        (r["_tp_pid"], r["s"])
        for r in keyed.groupBy("_tp_pid").agg(summary.alias("s")).collect()
    )
    offsets = []
    acc = 0
    for pid, s in rows:
        offsets.append((pid, acc))
        # F.sum over an all-NULL partition returns None; contribute 0,
        # matching SUM's null-skipping semantics.
        acc += s or 0
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_tp_pid INT, _tp_off LONG")
    return keyed, exprs, off_df, acc


def with_global_rank(df: DataFrame, order_cols: list, out_col: str = "_rn") -> DataFrame:
    """Return ``df`` (pinned) plus a 1-based exact
    global ``row_number`` over ``order_cols`` (names or Column sort
    expressions, e.g. ``F.col("x").desc()``) named ``out_col``,
    computed without an unpartitioned window."""
    keyed, exprs, off_df, _ = _two_phase(df, order_cols, F.count(F.lit(1)))
    lw = Window.partitionBy("_tp_pid").orderBy(*exprs)
    return (
        keyed.join(F.broadcast(off_df), "_tp_pid")
        .withColumn(out_col, (F.row_number().over(lw) + F.col("_tp_off")).cast("long"))
        .drop("_tp_pid", "_tp_off")
    )


def with_running_sum(
    df: DataFrame, order_cols: list, value_col: str, out_col: str
) -> DataFrame:
    """Exact running ``SUM(value_col)`` over the total order
    ``order_cols`` without an unpartitioned window — the sweep-line /
    prefix-scan primitive. ``value_col`` must be an INTEGRAL column
    (the repo's exactness discipline: float running sums are
    partition-order dependent, and a silent cast would truncate
    decimals) — anything else raises. NULL values are skipped by SUM
    as usual, but rows before the first non-null value in a LATER
    range partition lift to the carried offset rather than SQL's
    leading NULL — pass a non-null measure (every current caller does)
    if that distinction matters. ``order_cols`` must form a total
    order or per-row running values inside a tie group are
    order-ambiguous."""
    vtype = df.schema[value_col].dataType
    if not isinstance(vtype, _INTEGRAL):
        raise TypeError(
            f"with_running_sum requires an integral value column, got "
            f"{value_col}: {vtype.simpleString()} — sum in fixed-point/LONG "
            "first (functions/exact.py) so the scan stays exact"
        )
    keyed, exprs, off_df, _ = _two_phase(df, order_cols, F.sum(value_col))
    lw = (
        Window.partitionBy("_tp_pid")
        .orderBy(*exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.coalesce(F.sum(value_col).over(lw), F.lit(0)) + F.col("_tp_off")
    return (
        keyed.join(F.broadcast(off_df), "_tp_pid")
        .withColumn(out_col, run.cast("long"))
        .drop("_tp_pid", "_tp_off")
    )


def ntile_from_rank(rank: Column, total: int, n: int) -> Column:
    """NTILE(``n``) as a closed form over a 1-based exact global rank:
    with q, rem = divmod(total, n), the first ``rem`` tiles hold q+1
    rows. Bit-identical to the SQL NTILE the oracles state — the tile
    index is computed with Spark's integral ``div`` on LONGs (the
    module's exactness discipline), not double division + floor, so
    exactness never leans on float rounding (ADVICE r11)."""
    q, rem = divmod(total, n)
    big_cut = rem * (q + 1)
    idiv = lambda a, b: F.call_function("div", a.cast("long"), F.lit(b).cast("long"))  # noqa: E731
    return F.when(
        rank <= F.lit(big_cut), idiv(rank - 1, q + 1) + 1
    ).otherwise(
        F.lit(rem) + idiv(rank - F.lit(big_cut) - 1, max(q, 1)) + 1
    )


def with_ntile(df: DataFrame, n: int, order_cols: list, out_col: str) -> DataFrame:
    """Exact NTILE(``n``) over the total order ``order_cols`` without
    an unpartitioned window: the two-phase rank + the closed form. The
    row total comes from the same per-partition summaries the rank
    lift uses — no extra count job."""
    keyed, exprs, off_df, total = _two_phase(df, order_cols, F.count(F.lit(1)))
    lw = Window.partitionBy("_tp_pid").orderBy(*exprs)
    rank = F.row_number().over(lw) + F.col("_tp_off")
    return (
        keyed.join(F.broadcast(off_df), "_tp_pid")
        .withColumn(out_col, ntile_from_rank(rank, total, n).cast("int"))
        .drop("_tp_pid", "_tp_off")
    )


# prefix_sum_small is a triangle join: O(k^2) pairs. The contract is
# parameter-sized frames ONLY (bin tables, hop histograms); this cap
# turns a future corpus-growing caller into a loud failure instead of
# a silent quadratic join (VERDICT r11 item 4).
PREFIX_SUM_MAX_ROWS = 10_000


def prefix_sum_small(
    df: DataFrame, order_col: str, value_col: str, out_col: str, inclusive: bool = True
) -> DataFrame:
    """Cumulative ``SUM(value_col)`` ordered by ``order_col`` for
    PARAMETER-SIZED frames (bin tables, hop histograms — never
    corpus-growing data) as a triangle self-join: same result as a
    global-sort ROWS window *given the enforced contract below*, with
    no single-partition WindowExec in the plan. O(k^2) pairs; use
    ``with_running_sum`` for anything that grows with the corpus.
    Preserves all original columns.

    ENFORCED contract (ADVICE r11): ``order_col`` must be UNIQUE and
    NON-NULL per row, and the frame must hold at most
    ``PREFIX_SUM_MAX_ROWS`` rows — both checked eagerly, raising
    ``ValueError``. Under uniqueness the triangle join's RANGE-style
    tie semantics coincide with a ROWS frame and identical rows cannot
    collapse through the groupBy, so the window-equivalence claim
    holds unconditionally. The input is pinned first:
    the guard aggregate and the join's two branches then all read one
    materialized (parameter-sized) frame instead of recomputing the
    upstream lineage three times."""
    df = pin(df)
    stats = df.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct(F.col(order_col)).alias("d")
    ).collect()[0]
    if stats["n"] > PREFIX_SUM_MAX_ROWS:
        raise ValueError(
            f"prefix_sum_small got {stats['n']} rows (cap {PREFIX_SUM_MAX_ROWS}): "
            "the O(k^2) triangle join is for parameter-sized frames only — "
            "use with_running_sum for corpus-growing data"
        )
    if stats["d"] != stats["n"]:
        raise ValueError(
            f"prefix_sum_small requires a unique, non-null {order_col!r} "
            f"({stats['n']} rows, {stats['d']} distinct non-null keys): with "
            "duplicate or null keys the running sum is tie-ambiguous and "
            "identical rows would collapse in the groupBy"
        )
    cond = (
        F.col(f"_ps_{order_col}") <= F.col(order_col)
        if inclusive
        else F.col(f"_ps_{order_col}") < F.col(order_col)
    )
    rhs = df.select(
        F.col(order_col).alias(f"_ps_{order_col}"), F.col(value_col).alias("_ps_v")
    )
    others = [c for c in df.columns]
    return (
        df.join(rhs, cond, "left")
        .groupBy(*others)
        .agg(F.coalesce(F.sum("_ps_v"), F.lit(0)).alias(out_col))
    )
