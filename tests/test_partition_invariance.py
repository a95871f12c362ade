"""Partition-independence properties: the repo's central determinism
claim is that every exact operator accumulates associatively (integer /
decimal / fixed-point), so results are IDENTICAL regardless of how the
input is partitioned — the property that makes results reproducible
under AQE re-splits, retries, and cluster resizes at 100 TB.

These tests run the same operator on 1-partition and many-partition
copies of the same data and require bit-identical results (not
approximate agreement). A hypothesis property test also checks the
bucketed range-join decomposition against a brute-force reference on
random inputs.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from flinkstreametl_spark.operators import similarity as S
from flinkstreametl_spark.sources.parquet import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_kmeans_trajectory_partition_independent(spark, sf_dir):
    """Fixed-point Lloyd: the full 5-iteration trajectory must not
    depend on input partitioning (float means would fail this)."""
    from flinkstreametl_spark.plans.ml_ext import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    outs = []
    for n in (1, 13):
        _, assign_df = kmeans_fit(emb.repartition(n))
        outs.append(sorted((r.vec_id, r.cluster) for r in assign_df(emb).collect()))
    assert outs[0] == outs[1]


def test_knn_fast_scores_partition_independent(spark, sf_dir):
    """Fixed-point in-row cosine: identical scores (not just neighbor
    sets) under different candidate partitionings."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = _rows(S.knn_fast(emb.repartition(1), n_queries=3, k=5))
    b = _rows(S.knn_fast(emb.repartition(11), n_queries=3, k=5))
    assert a == b


def test_weighted_mean_decimal_partition_independent(spark, sf_dir):
    """The q1-family decimal aggregation path: bit-identical doubles on
    1 vs many partitions."""
    from flinkstreametl_spark.functions.exact import dsum

    li = load_table(spark, sf_dir, "lineitem")
    a = _rows(li.repartition(1).groupBy("l_returnflag").agg(dsum("l_extendedprice").alias("s")))
    b = _rows(li.repartition(17).groupBy("l_returnflag").agg(dsum("l_extendedprice").alias("s")))
    assert a == b


def test_range_join_matches_bruteforce_hypothesis(spark):
    """Property: the bucketed interval decomposition equals the naive
    quadratic reference on random event sets (random times straddling
    bucket edges, duplicate timestamps, multi-user)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from flinkstreametl_spark.plans.ingest_ext import _BUCKET_US

    base = dt.datetime(2024, 1, 1)

    @settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),  # user
                st.integers(min_value=0, max_value=2400),  # seconds offset
                st.booleans(),  # True = click, False = error
            ),
            min_size=1,
            max_size=25,
        )
    )
    def run(evs):
        rows = [
            (i, base + dt.timedelta(seconds=sec), u, "click" if is_click else "error", 0.0, "{}")
            for i, (u, sec, is_click) in enumerate(evs)
        ]
        df = spark.createDataFrame(
            rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
        )
        import tempfile

        from flinkstreametl_spark.plans import REGISTRY

        with tempfile.TemporaryDirectory() as d:
            df.write.parquet(f"{d}/events.parquet")
            got = {
                r.event_id: r.n_errors_5min
                for r in REGISTRY["range_join_error_context"].fn(spark, d).collect()
            }
        expected = {}
        for i, (u, sec, c) in enumerate(evs):
            if not c:
                continue
            expected[i] = sum(
                1
                for j, (u2, sec2, c2) in enumerate(evs)
                if not c2 and u2 == u and abs(sec - sec2) * 1_000_000 <= _BUCKET_US
            )
        assert got == expected

    run()


def test_shuffle_partition_sweep_float_queries(spark, sf_dir):
    """Chaos knob: rerun the most float-sensitive registry queries with
    spark.sql.shuffle.partitions=7 vs the session default and require
    bit-identical results — the reduction orders change, the exact
    accumulation discipline must not care."""
    from flinkstreametl_spark.plans import REGISTRY

    names = [
        "ewma_daily_value",
        "mad_robust_price",
        "nation_revenue_contribution",
        "trend_fit_by_event_type",
        "q1_pricing_summary",
        "knn_cosine_fast",
    ]
    default = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for name in names:
            outs = []
            for n in (default, "7"):
                spark.conf.set("spark.sql.shuffle.partitions", n)
                outs.append(sorted(tuple(r) for r in REGISTRY[name].fn(spark, sf_dir).collect()))
            assert outs[0] == outs[1], name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)


def test_pq_codes_partition_independent(spark, sf_dir):
    """Per-subspace fixed-point Lloyd (lloyd_fit, n_sub=8): the full
    trajectory and the emitted code arrays must not depend on input
    partitioning."""
    from flinkstreametl_spark.operators.clustering import lloyd_fit
    from flinkstreametl_spark.plans.ml_ext import _PQ_ITERS, _PQ_K, _PQ_SUB

    emb = load_table(spark, sf_dir, "embeddings")
    outs = []
    for n in (1, 13):
        _, codes_fn = lloyd_fit(emb.repartition(n), _PQ_K, _PQ_ITERS, n_sub=_PQ_SUB)
        outs.append(sorted((r.vec_id, tuple(r.codes)) for r in codes_fn(emb).collect()))
    assert outs[0] == outs[1]


def test_token_balanced_shards_partition_independent(spark, sf_dir):
    """The two-phase prefix sum assembles a GLOBAL order from per-bucket
    windows — its whole claim is that the decomposition is invisible,
    so the per-shard audit must be bit-identical under different
    shuffle-partition counts (which change which rows share a task,
    the thing a broken decomposition would leak)."""
    from flinkstreametl_spark.plans import REGISTRY

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    outs = []
    try:
        for n in ("1", "13"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            outs.append(_rows(REGISTRY["token_balanced_shards"].fn(spark, sf_dir)))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert outs[0] == outs[1]


def test_global_rank_primitives_partition_independent(spark, sf_dir):
    """The two-phase rank/scan primitives (operators/ranks.py): range
    boundaries come from sampling and move with the partition count,
    but ranks/tiles/prefix sums are lifted through exact per-partition
    summaries, so the RESULTS must be bit-identical under any input
    partitioning AND any shuffle.partitions setting — the property
    that makes the micro-batch chunk split and the sweep-line replays
    reproducible under cluster resizes."""
    from flinkstreametl_spark.operators.ranks import (
        with_global_rank,
        with_ntile,
        with_running_sum,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("event_id") % 5 - 2).cast("long").alias("d")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    outs = []
    try:
        for nshuf, nrep in ((1, 1), (17, 7)):
            spark.conf.set("spark.sql.shuffle.partitions", str(nshuf))
            src = ev.repartition(nrep)
            outs.append(
                (
                    _rows(with_global_rank(src, ["event_id"], "rn")),
                    _rows(with_ntile(src, 4, ["event_id"], "q")),
                    _rows(with_running_sum(src, ["event_id"], "d", "run")),
                )
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert outs[0] == outs[1]
