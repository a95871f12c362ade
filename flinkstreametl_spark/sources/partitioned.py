"""Hive-partitioned parquet layout: directory-level data skipping and
small-file compaction — the other half of the storage story next to
bucketing (sources/bucketed.py).

At 100 TB the cheapest byte is the one never read. A layout partitioned
by a low-cardinality, always-filtered column (date, language, tenant)
lets Spark prune entire directories at PLANNING time — the scan's
``PartitionFilters`` — before any file footer is opened. This composes
with row-group min/max skipping (``PushedFilters``) inside the files
that survive.

The failure mode of partitioned writes is small files: every task
writes one file per partition value it touches, so an unpartitioned
shuffle layout sprays #tasks × #partitions files at the sink. The fix
is repartitioning by the partition columns right before the write (one
shuffle, each partition value lands in few tasks), optionally salted to
``files_per_partition`` when one value is too big for a single task —
exactly the hot-key discipline the dedup ops use.

The reference streams rows into JDBC and has no layout layer at all
(SinkToMySQL.java:57-65); this is pure [EXT] scale infrastructure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkstreametl_spark.streaming.versioned import replace_dir


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    *,
    files_per_partition: int = 1,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` hive-partitioned by ``partition_cols`` with a
    bounded number of files per partition value.

    ``files_per_partition=1`` repartitions by the partition columns so
    each value is written by exactly one task (one shuffle, then
    sequential writes — no small-file spray). Larger values salt the
    repartitioning key so one oversized partition value can be written
    by several tasks in parallel.
    """
    if files_per_partition <= 1:
        staged = df.repartition(*[F.col(c) for c in partition_cols])
    else:
        salt = (F.rand(seed=42) * files_per_partition).cast("int")
        staged = df.repartition(*[F.col(c) for c in partition_cols], salt.alias("_salt"))
    staged.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    *,
    files_per_partition: int = 1,
) -> None:
    """Rewrite a fragmented partitioned layout with bounded file counts
    (the maintenance job every long-lived ingest needs: micro-batch
    appends accrete small files; compaction restores scan efficiency).
    Reads the whole layout and rewrites it — run per-partition-predicate
    in production to bound the working set. The rewrite is swapped in by
    ``streaming/versioned.replace_dir``, whose crash contract holds."""
    path = path.rstrip("/")
    replace_dir(
        path,
        lambda tmp: write_partitioned(
            spark.read.parquet(path), tmp, partition_cols, files_per_partition=files_per_partition
        ),
    )
