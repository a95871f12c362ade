"""Shared exactness constants and SQL fragments used by more than one
query module.

Several oracles need the SAME day-bucketing and fixed-point scale as
the Spark side (timeseries_ext's ``_daily`` helper): duplicating the
fragment per module kept the copies in sync only by comment, so a
change to one would silently desynchronize the others (round-4 ADVICE).
This module is the single source of truth; it registers nothing and
imports nothing from the registry, so any plan module can import it at
module level without disturbing registration order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from flinkstreametl_spark.functions.exact import dec

REV_SQL = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4)))"
"""Exact TPC-H revenue: decimal(12,2) * decimal(*,4) products stay
exact (< 38 digits), identical in Spark and DuckDB."""


def rev_col() -> Column:
    """The Spark twin of ``REV_SQL``."""
    return dec("l_extendedprice", 12, 2) * (F.lit(1) - dec("l_discount", 6, 4))


US_PER_DAY = 86_400_000_000
"""Microseconds per day — the integer day index is epoch_us // this."""

EVENT_FP = 1_000_000
"""Fixed-point scale for ``events.value`` (double): ``floor(value *
EVENT_FP)`` is an exact BIGINT in both engines, so sums/mins/maxes over
it are partition-order independent and hash-identical cross-engine."""

EVENT_VALUE_FP_SQL = f"CAST(floor(value * {EVENT_FP}) AS BIGINT)"
"""The DuckDB spelling of the fixed-point conversion above."""

DAILY_SQL = f"""
    SELECT event_type,
           CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({EVENT_VALUE_FP_SQL}) AS BIGINT) AS s_fp
    FROM events
    GROUP BY 1, 2
"""
"""DuckDB twin of ``timeseries_ext._daily`` — the (event_type, day)
grain with exact fixed-point value sums. Every oracle that consumes the
daily grain embeds THIS string."""
