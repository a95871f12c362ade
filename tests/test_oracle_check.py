"""The oracle check of ``plans/oracle.py`` on hand-made rows and types,
without Spark, and the guard that keeps the check in that one module."""

from __future__ import annotations

import datetime
import decimal
import glob
import os
import re

import duckdb

from flinkstreametl_spark.plans.oracle import compatible, normalise, type_problems, value_problems

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_normalise_canonicalises_cells_and_orders_columns_by_name():
    rows = [
        (None, decimal.Decimal("1.50"), datetime.date(2024, 1, 2)),
        ("b", decimal.Decimal("2"), datetime.datetime(2024, 1, 2, 3, 4, 5)),
        ("a", float("nan"), None),
    ]
    assert normalise(rows, ["z", "x", "y"]) == [
        (1.5, "2024-01-02", None),
        (2.0, "2024-01-02 03:04:05", "b"),
        ("NaN", None, "a"),
    ]
    assert normalise([(1, None), (1, 0)], ["a", "b"]) == [(1, 0), (1, None)]


def test_value_problems_checks_names_then_count_then_values():
    cols, rows = ["k", "v"], [(1, decimal.Decimal("0.5")), (2, None)]
    assert value_problems(cols, rows, ["v", "k"], [(None, 2), (0.5, 1)]) == []
    assert value_problems(cols, rows, ["k", "w"], rows) == ["column names differ: spark=['k', 'v'] duckdb=['k', 'w']"]
    assert value_problems(cols, rows, cols, rows[:1]) == ["row count: spark=2 duckdb=1"]
    (problem,) = value_problems(cols, rows, cols, [(1, 0.5), (2, 7)])
    assert problem.startswith("1 mismatched rows") and "(2, None), (2, 7)" in problem


def test_compatible_follows_the_driver_hash():
    assert not compatible("bigint", "HUGEINT")
    for spark_t in ("tinyint", "smallint", "int", "bigint"):
        assert compatible(spark_t, "INTEGER") and compatible(spark_t, "BIGINT")
    assert compatible("decimal(18,2)", "DECIMAL(18,2)")
    assert not compatible("decimal(18,2)", "DECIMAL(18,3)") and not compatible("decimal(18,2)", "DECIMAL(38,2)")
    assert compatible("array<bigint>", "INTEGER[]")
    assert compatible("array<array<string>>", "VARCHAR[][]")
    assert not compatible("array<bigint>", "HUGEINT[]")
    assert not compatible("array<bigint>", "BIGINT")
    assert compatible("struct<a:bigint>", "STRUCT(a BIGINT)")
    assert compatible("map<string,bigint>", "MAP(VARCHAR, BIGINT)")
    assert not compatible("struct<a:bigint>", "VARCHAR")
    assert not compatible("double", "FLOAT") and not compatible("bigint", "DOUBLE")


def test_type_problems_reads_the_oracle_types_without_running_it():
    con = duckdb.connect()
    hugeint = con.sql("SELECT SUM(x) AS s, 1::INTEGER AS n FROM range(3) t(x)")
    bigint = con.sql("SELECT SUM(x)::BIGINT AS s, 1::INTEGER AS n FROM range(3) t(x)")
    spark = [("n", "bigint"), ("s", "bigint")]
    assert type_problems(spark, bigint) == []
    assert type_problems(dict(spark), hugeint) == ["s: spark=bigint duckdb=HUGEINT"]
    assert type_problems(spark[:1], bigint) == ["column sets differ: spark=['n'] duckdb=['n', 's']"]


# A fixture view over every ``FIXTURE_TABLES`` table, and the
# column-name order of a result normaliser.
_FIXTURE_VIEW = re.compile(r"CREATE\s+VIEW")
_COLUMN_ORDER = re.compile(r"sorted\(range\(len\((\w+)\)\),\s*key=lambda (\w+): \1\[\2\]\)")


def test_oracle_check_has_one_home():
    """``plans/oracle.py`` is the oracle check's one home: no other file
    of the package, ``tools/`` or ``tests/`` creates the fixture views or
    orders a result's columns by name. ``perfbench/`` keeps its own copy,
    and ``tools/dump_plans.py`` sorts plan outputs, not a result."""
    texts = {}
    for top in ("flinkstreametl_spark", "tools", "tests"):
        for path in glob.glob(os.path.join(ROOT, top, "**", "*.py"), recursive=True):
            with open(path) as fh:
                texts[os.path.relpath(path, ROOT)] = fh.read()
    home = {os.path.join("flinkstreametl_spark", "plans", "oracle.py")}
    assert {p for p, text in texts.items() if _FIXTURE_VIEW.search(text)} == home
    assert {p for p, text in texts.items() if _COLUMN_ORDER.search(text)} == home
