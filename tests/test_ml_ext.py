"""Tests for plans/ml_ext.py: Pandas-UDF kNN vs the exact path, K-Means
vs a pure-numpy Lloyd reference, determinism of both. The oracle-backed
quality classifier is covered by test_oracle_parity.py."""

from __future__ import annotations

import numpy as np

from flinkstreametl_spark.operators.clustering import DEFAULT_ITERS as _KM_ITERS, DEFAULT_K as _KM_K, kmeans_fit
from flinkstreametl_spark.plans import REGISTRY
from flinkstreametl_spark.sources.parquet import load_table


def test_knn_pandas_matches_exact_sets(spark, sf_dir):
    """The numpy GEMM path must return the same neighbor sets per query
    as the fixed-point exact path (scores may differ in the last ulp)."""
    from flinkstreametl_spark.operators.similarity import knn_exact

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {}
    for r in knn_exact(emb).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    fast = {}
    for r in REGISTRY["knn_pandas_topk"].fn(spark, sf_dir).collect():
        fast.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert fast == exact


def test_knn_pandas_deterministic(spark, sf_dir):
    a = sorted(map(tuple, REGISTRY["knn_pandas_topk"].fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, REGISTRY["knn_pandas_topk"].fn(spark, sf_dir).collect()))
    assert a == b


def _numpy_lloyd(M: np.ndarray, ids: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Reference Lloyd mirroring kmeans_fit's fixed-point scheme exactly:
    same deterministic init (k lowest ids), fixed-point distances and
    means, same empty-cluster fallback — so assignments must match
    EXACTLY, not approximately."""
    FP = 1099511627776.0

    def dists(cents):
        diff = M[:, None, :] - cents[None, :, :]
        return np.floor(diff * diff * FP).astype(np.int64).sum(axis=2)

    order = np.argsort(ids)
    cents = M[order[:k]].astype(np.float64)
    for _ in range(iters):
        a = np.argmin(dists(cents), axis=1)
        new = cents.copy()
        for c in range(k):
            members = M[a == c]
            if len(members):
                new[c] = np.floor(members * FP).astype(np.int64).sum(axis=0).astype(np.float64) / FP / len(members)
        cents = new
    return np.argmin(dists(cents), axis=1)


def test_kmeans_matches_numpy_reference(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    ref = _numpy_lloyd(M, ids, _KM_K, _KM_ITERS)
    ref_by_id = dict(zip(ids.tolist(), ref.tolist()))

    _, assign_df = kmeans_fit(emb)
    got = {r.vec_id: r.cluster for r in assign_df(emb).select("vec_id", "cluster").collect()}
    # Fixed-point accumulation is associative -> the trajectories are
    # bit-identical, so assignments must match exactly.
    diffs = [i for i in ref_by_id if ref_by_id[i] != got[i]]
    assert not diffs, f"assignments diverged: {len(diffs)}"


def test_kmeans_sizes_deterministic_and_complete(spark, sf_dir):
    out1 = {(r.cluster, r.n_members) for r in REGISTRY["kmeans_cluster_sizes"].fn(spark, sf_dir).collect()}
    out2 = {(r.cluster, r.n_members) for r in REGISTRY["kmeans_cluster_sizes"].fn(spark, sf_dir).collect()}
    assert out1 == out2
    total = sum(n for _, n in out1)
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert total == n_vecs
    assert all(0 <= c < _KM_K for c, _ in out1)


def test_ivf_recall_curve_monotone_with_full_scan_anchor(spark, sf_dir):
    """Recall and candidate count must be non-decreasing in nprobe, and
    the all-clusters row must recover the exact top-10 (recall 1.0)."""
    from flinkstreametl_spark.plans.ml_ext import ivf_recall_curve

    rows = sorted(ivf_recall_curve(spark, sf_dir).collect(), key=lambda r: r.nprobe)
    assert [r.nprobe for r in rows] == [1, 2, 3, 5, 10]
    for a, b in zip(rows, rows[1:]):
        assert b.n_candidates > a.n_candidates
        assert b.n_overlap >= a.n_overlap
    assert rows[-1].recall_at_10 == 1.0


def _numpy_pq(M: np.ndarray, ids: np.ndarray, n_sub: int, sd: int, k: int, iters: int) -> np.ndarray:
    """Reference per-subspace Lloyd mirroring lloyd_fit's fixed-point
    scheme exactly (same init, distances, means, empty-cell
    carry-forward) — written against the PQ definition, not lloyd_fit's
    code, so a shared misreading can't pass. Returns (n, n_sub) codes."""
    FP = 1099511627776.0
    S = M.reshape(len(M), n_sub, sd)

    def dists(cents):
        # (n, n_sub, k)
        diff = S[:, :, None, :] - cents[None, :, :, :]
        return np.floor(diff * diff * FP).astype(np.int64).sum(axis=3)

    order = np.argsort(ids)
    cents = np.stack([M[order[:k]][:, s * sd : (s + 1) * sd] for s in range(n_sub)])
    for _ in range(iters):
        a = np.argmin(dists(cents), axis=2)  # (n, n_sub)
        new = cents.copy()
        for s in range(n_sub):
            for c in range(k):
                members = S[a[:, s] == c, s]
                if len(members):
                    new[s, c] = (
                        np.floor(members * FP).astype(np.int64).sum(axis=0).astype(np.float64)
                        / FP
                        / len(members)
                    )
        cents = new
    return np.argmin(dists(cents), axis=2)


def test_pq_codes_match_numpy_reference(spark, sf_dir):
    from flinkstreametl_spark.operators.clustering import lloyd_fit
    from flinkstreametl_spark.plans.ml_ext import _PQ_ITERS, _PQ_K, _PQ_SD, _PQ_SUB

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    ref = _numpy_pq(M, ids, _PQ_SUB, _PQ_SD, _PQ_K, _PQ_ITERS)
    ref_by_id = {int(i): ref[j].tolist() for j, i in enumerate(ids)}

    _, codes_fn = lloyd_fit(emb, _PQ_K, _PQ_ITERS, n_sub=_PQ_SUB)
    got = {r.vec_id: list(r.codes) for r in codes_fn(emb).select("vec_id", "codes").collect()}
    diffs = [i for i in ref_by_id if ref_by_id[i] != got[i]]
    assert not diffs, f"codes diverged for {len(diffs)} vectors"


def test_pq_recall_bounds_and_determinism(spark, sf_dir):
    rows1 = sorted(map(tuple, REGISTRY["pq_adc_recall"].fn(spark, sf_dir).collect()))
    rows2 = sorted(map(tuple, REGISTRY["pq_adc_recall"].fn(spark, sf_dir).collect()))
    assert rows1 == rows2
    assert len(rows1) == 5
    for _, n, r in rows1:
        assert 0 <= n <= 10 and r == n / 10.0


def test_ivf_pq_composition_full_probe_equals_adc(spark, sf_dir):
    """docs/ANN.md's composition claim as executed code: IVF-PQ =
    lloyd_fit's PQ codes nested under kmeans_fit's coarse partition. The
    anchor law: with nprobe = ALL coarse clusters the probed candidate
    set is the whole corpus, so the composed pipeline's top-10 must
    equal the plain full-scan ADC top-10 EXACTLY (same integer ADC
    sums, same (dist, vec_id) tie-break) — any divergence means the
    composition changed the scoring, not just the pruning."""
    import numpy as np

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flinkstreametl_spark.operators import similarity as S
    from flinkstreametl_spark.plans.ml_ext import (
        _KM_FP,
        _PQ_ITERS,
        _PQ_K,
        _PQ_SD,
        _PQ_SUB,
        kmeans_fit,
        lloyd_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings").localCheckpoint()
    _coarse_cents, assign_df = kmeans_fit(emb)
    pq_cents, codes_fn = lloyd_fit(emb, _PQ_K, _PQ_ITERS, n_sub=_PQ_SUB)
    docs = assign_df(codes_fn(emb)).select("vec_id", "codes", "cluster")

    qrows = sorted(
        emb.filter(F.col("vec_id") < 2).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    tab = []
    for r in qrows:
        qv = np.array(r.embedding, dtype=np.float64).reshape(_PQ_SUB, _PQ_SD)
        for s in range(_PQ_SUB):
            diff = qv[s][None, :] - pq_cents[s]
            d = np.floor(diff * diff * _KM_FP).astype(np.int64).sum(axis=1)
            for j in range(_PQ_K):
                tab.append((r.vec_id, s, j, int(d[j])))
    adc = spark.createDataFrame(tab, "query_id LONG, sub INT, code LONG, d LONG")

    def adc_topk(cand):
        ex = cand.select("vec_id", "cluster", F.posexplode("codes").alias("sub", "code"))
        dist = (
            ex.join(F.broadcast(adc), ["sub", "code"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", "vec_id")
            .agg(F.sum("d").alias("dist"))
        )
        w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
        top = dist.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 10)
        return sorted(map(tuple, top.select("query_id", "vec_id", "dist", "rk").collect()))

    # plain full-scan ADC
    full = adc_topk(docs)

    # composed IVF-PQ with nprobe = all clusters: per query, rank the
    # coarse clusters by centroid cosine (the ivf convention), keep
    # prb <= n_clusters — the probe set is total, pruning is a no-op.
    n_clusters = docs.select("cluster").distinct().count()
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in _coarse_cents[i]]) for i in range(len(_coarse_cents))],
        "cluster LONG, centroid ARRAY<DOUBLE>",
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.col("c_score").desc(), "cluster")
    probes = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents_df))
        .select(
            "query_id", "cluster", S.cosine_col_fp(F.col("q_emb"), F.col("centroid")).alias("c_score")
        )
        .withColumn("prb", F.row_number().over(probe_w))
        .filter(F.col("prb") <= n_clusters)
        .select(F.col("query_id").alias("pq_query"), "cluster")
    )
    probed = docs.join(probes, "cluster").select("vec_id", "cluster", "codes", "pq_query")
    # restrict each query's candidates to ITS probed clusters
    ex = probed.select("vec_id", "pq_query", F.posexplode("codes").alias("sub", "code"))
    dist = (
        ex.join(F.broadcast(adc), ["sub", "code"])
        .filter((F.col("query_id") == F.col("pq_query")) & (F.col("vec_id") != F.col("query_id")))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    composed = sorted(
        map(
            tuple,
            dist.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 10)
            .select("query_id", "vec_id", "dist", "rk")
            .collect(),
        )
    )
    assert composed == full


def test_kmeans_is_pq_with_one_subspace():
    """The identity the one Lloyd kernel rests on, between the two
    independent references: per-subspace Lloyd with one subspace of
    width dim is k-means, code for code. Seven of the twenty matrices
    are built for ties: few distinct values and duplicated rows."""
    rng = np.random.default_rng(15)
    for case in range(20):
        n, dim, k, iters = 30 + case, 2 + case % 5, 2 + case % 4, 1 + case % 4
        if case < 7:
            M = rng.integers(0, 3, size=(n, dim)).astype(np.float64) / 2
            M[rng.integers(0, n, size=n // 3)] = M[0]
        else:
            M = rng.normal(size=(n, dim))
        ids = rng.permutation(n).astype(np.int64) * 3
        pq = _numpy_pq(M, ids, 1, dim, k, iters)[:, 0]
        assert np.array_equal(pq, _numpy_lloyd(M, ids, k, iters)), case


def test_lloyd_rejects_subspaces_that_do_not_divide_dim(spark):
    import pytest

    from flinkstreametl_spark.operators.clustering import lloyd_fit

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0]) for i in range(4)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="n_sub=2"):
        lloyd_fit(emb, k=2, n_iters=1, n_sub=2)


def test_lloyd_has_one_home():
    """``operators/clustering.py`` is the only module that floors a
    ``KM_FP``-scaled numpy value, the package has one Lloyd
    ``mapInPandas`` site (a ``mapInPandas`` call inside a top-level
    function that reads the fixed-point scale), and the removed names
    are defined or read nowhere."""
    import ast
    import os

    import flinkstreametl_spark

    pkg = os.path.dirname(flinkstreametl_spark.__file__)
    fp_names = {"KM_FP", "_KM_FP"}
    gone = {"pq_fit", "kmeans_assign_udf", "_KM_K", "_KM_ITERS"}

    def idents(node):
        for n in ast.walk(node):
            yield n, getattr(n, "id", None) or getattr(n, "attr", None) or getattr(n, "name", None)

    floors, lloyd_maps, named = set(), [], []
    for root, _dirs, names in os.walk(pkg):
        for f in names:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, pkg)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for n, ident in idents(tree):
                if ident in gone or getattr(n, "asname", None) in gone:
                    named.append((rel, getattr(n, "lineno", None)))
                is_np_floor = (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "floor"
                    and getattr(n.func.value, "id", None) == "np"
                )
                if is_np_floor and any(i in fp_names for _, i in idents(n)):
                    floors.add(rel)
            for top in tree.body:
                if isinstance(top, ast.FunctionDef) and any(i in fp_names for _, i in idents(top)):
                    lloyd_maps += [
                        (rel, top.name)
                        for n, i in idents(top)
                        if isinstance(n, ast.Attribute) and i == "mapInPandas"
                    ]
    home = os.path.join("operators", "clustering.py")
    assert floors == {home}
    assert lloyd_maps == [(home, "lloyd_fit")]
    assert named == []

