"""Local replica of the driver's correctness gate: run every registered
query in Spark AND its DuckDB oracle on the same parquet tables, compare
row count, column names, and order-insensitive values — exactly — and
their output types under the driver's typed hash (``plans/oracle.py``).

This is the primary harness (SURVEY.md §5.2 item 1). It runs at sf0.001
for speed; the driver re-runs the same contract at sf0.01.
"""

from __future__ import annotations

import pytest

from flinkstreametl_spark.plans import REGISTRY
from flinkstreametl_spark.plans.oracle import connect, type_problems, value_problems

ORACLE_SPECS = [s for s in REGISTRY.values() if s.oracle is not None]
ROWS_ONLY_SPECS = [s for s in REGISTRY.values() if s.oracle is None]

# Spark output types of each frame ``test_oracle_parity`` built, by
# query name, so the type audit does not build the query again.
BUILT_DTYPES: dict[str, list[tuple[str, str]]] = {}


@pytest.fixture(scope="module")
def duck(sf_dir):
    return connect(sf_dir)


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=[s.name for s in ORACLE_SPECS])
def test_oracle_parity(spark, sf_dir, duck, spec):
    sdf = spec.fn(spark, sf_dir)
    BUILT_DTYPES[spec.name] = sdf.dtypes
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.sql(spec.oracle)
    assert not value_problems(sdf.columns, srows, res.columns, res.fetchall())


@pytest.mark.parametrize("spec", ROWS_ONLY_SPECS, ids=[s.name for s in ROWS_ONLY_SPECS])
def test_rows_only_queries_run(spark, sf_dir, spec):
    df = spec.fn(spark, sf_dir)
    assert df.columns
    assert df.count() >= 0


def test_oracle_output_types_are_hash_compatible(spark, sf_dir, duck):
    """Driver-calibrated type audit (``plans.oracle.compatible``): the
    driver's value-hash normalizes through pandas, where DuckDB HUGEINT
    becomes float64 and fails against Spark's int64 even when values are
    equal (both round-1 hash-FAILs). DuckDB types each oracle without
    running it, and the Spark types are those of the frames
    ``test_oracle_parity`` built; a query that test did not build (this
    test run alone, or a query that raised there) is built here."""
    bad = []
    for spec in ORACLE_SPECS:
        dtypes = BUILT_DTYPES.get(spec.name) or spec.fn(spark, sf_dir).dtypes
        bad.extend(f"{spec.name}: {p}" for p in type_problems(dtypes, duck.sql(spec.oracle)))
    assert not bad, "\n".join(bad)
