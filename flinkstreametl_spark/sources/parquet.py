"""Parquet fixture readers.

Columnar scans with filter pushdown and column pruning are the batch
analogue of the reference's sources (Kafka stream `Main.java:61-67`,
JDBC dim snapshot `Seetings/CreateJDBCInputFormat.java:22-35`). At
cluster scale these reads are partition-pruned, predicate-pushed scans;
nothing here materializes on the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkstreametl_spark.schemas import FIXTURE_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The driver fixtures carry parquet TIMESTAMP(NANOS,false), which Spark's
# vectorized reader rejects outright. We read nanos as BIGINT
# (legacy.parquet.nanosAsLong) and rebuild TimestampType via exact
# integer division (ns DIV 1000 -> µs; float division would lose
# precision at 1e18 ns). DuckDB truncates ns->µs the same way, so the
# oracle sees identical values.
_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    dtypes = dict(df.dtypes)
    for c in _TS_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in FIXTURE_TABLES}


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition IF the input has fewer partitions than
    the session's parallelism — the guard CPU-heavy per-row operators
    (hashing every token, per-vector arithmetic) place before their hot
    map stage.

    Rationale: a single-row-group parquet file is one split no matter
    its row count, so a digest-per-token operator would otherwise run
    on ONE core while 31 idle (measured: simhash at sf0.1 spent ~4s of
    its 5.4s single-threaded). At cluster scale inputs arrive
    well-split and this is a no-op — the repartition only fires on
    pathological splits, and costs one exchange of the input rows,
    which the CPU-bound stage amortizes immediately."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
