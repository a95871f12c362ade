"""How a Spark result is checked against its DuckDB oracle (the driver
contract, ``__spark_entry__.py``): the same column names, the same rows
compared order-insensitively and exactly, and output types that the
driver's typed value hash treats as equal. ``plans`` does not import this
module and ``connect`` imports DuckDB, so the engine does not need DuckDB.
"""

from __future__ import annotations

import datetime
import decimal
import math
import re

from flinkstreametl_spark.schemas import FIXTURE_TABLES


def connect(sf_dir: str):
    """A DuckDB connection with one view per fixture table in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalise(rows, cols) -> list[tuple]:
    """``rows`` in the form two results are compared in, order-insensitively:
    columns in name order, decimals as floats, dates and timestamps as
    text, NaN as a string, rows sorted (None last)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def c(v):
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, (datetime.datetime, datetime.date)):
            return str(v)
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    return sorted(
        (tuple(c(r[i]) for i in order) for r in rows),
        key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r),
    )


def value_problems(cols, rows, oracle_cols, oracle_rows) -> list[str]:
    """What tells a Spark result (``cols``, ``rows``) apart from its
    oracle's: the column names, else the row count, else the values.
    Empty when they match."""
    # ``normalise`` uses the names only to order the values, so without
    # this check a renamed output column would pass.
    if sorted(cols) != sorted(oracle_cols):
        return [f"column names differ: spark={sorted(cols)} duckdb={sorted(oracle_cols)}"]
    if len(rows) != len(oracle_rows):
        return [f"row count: spark={len(rows)} duckdb={len(oracle_rows)}"]
    pairs = zip(normalise(rows, cols), normalise(oracle_rows, oracle_cols))
    mismatches = [(a, b) for a, b in pairs if a != b]
    if mismatches:
        return [f"{len(mismatches)} mismatched rows; first 3 (spark, duckdb): {mismatches[:3]}"]
    return []


# Spark simpleString -> acceptable DuckDB type strings.
#
# Calibrated against round-1 driver evidence (CORRECTNESS_r01.json): the
# driver's hash normalizes through pandas, so int-width differences
# (Spark INT vs DuckDB BIGINT) and timestamp_ntz vs TIMESTAMP hash equal
# — r01 queries with those combos all passed. DuckDB HUGEINT (int128)
# however becomes float64 in pandas and fails the hash — both r01
# hash-FAILs were exactly that. So integer widths are mutually
# compatible here, but HUGEINT is never acceptable.
_SCALAR = {
    **dict.fromkeys(("tinyint", "smallint", "int", "bigint"), {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}),
    "double": {"DOUBLE"},
    "float": {"FLOAT"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP"},
    "timestamp_ntz": {"TIMESTAMP"},
    "binary": {"BLOB"},
}


def compatible(spark_t: str, duck_t: str) -> bool:
    """Whether the driver's typed hash treats a Spark column of type
    ``spark_t`` (a simpleString) and a DuckDB column of ``duck_t`` as equal."""
    spark_t = spark_t.lower()
    duck_t = duck_t.upper()
    if spark_t in _SCALAR:
        return duck_t in _SCALAR[spark_t]
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", spark_t)
    if m:
        # exact precision+scale match required: the arrow buffers differ
        return duck_t == f"DECIMAL({m.group(1)},{m.group(2)})"
    m = re.fullmatch(r"array<(.+)>", spark_t)
    if m:
        return duck_t.endswith("[]") and compatible(m.group(1), duck_t[:-2])
    if spark_t.startswith(("map<", "struct<")):
        return duck_t.startswith(("MAP", "STRUCT"))
    return False


def type_problems(dtypes, rel) -> list[str]:
    """The output columns whose types the driver's hash tells apart, given
    Spark's ``df.dtypes`` and the oracle's DuckDB relation ``rel`` (which
    types its columns without running): the column sets, then each column."""
    spark_t = dict(dtypes)
    duck_t = dict(zip(rel.columns, map(str, rel.types)))
    if sorted(spark_t) != sorted(duck_t):
        return [f"column sets differ: spark={sorted(spark_t)} duckdb={sorted(duck_t)}"]
    return [f"{c}: spark={t} duckdb={duck_t[c]}" for c, t in spark_t.items() if not compatible(t, duck_t[c])]
