"""Semantic checks for plans/timeseries_ext.py and plans/graph_ext.py:
the oracle-parity harness proves Spark == DuckDB; these tests prove
both equal an independently-written Python reference (guards against a
shared misreading of the semantics), plus the plan-shape claims."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from flinkstreametl_spark.operators.windows import epoch_micros
from flinkstreametl_spark.sources.parquet import load_table

US_PER_DAY = 86_400_000_000
FP = 1_000_000


def _daily_series(spark, sf_dir):
    """(event_type -> [(day, s_fp)] sorted by day) computed row-at-a-time."""
    events = load_table(spark, sf_dir, "events")
    rows = events.select(
        "event_type",
        (epoch_micros(events, "ts") / F.lit(US_PER_DAY)).cast("long").alias("day"),
        F.floor(F.col("value") * FP).cast("long").alias("v_fp"),
    ).collect()
    acc: dict[tuple[str, int], int] = defaultdict(int)
    for r in rows:
        acc[(r.event_type, r.day)] += r.v_fp
    series: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for (et, day), s in acc.items():
        series[et].append((day, s))
    for et in series:
        series[et].sort()
    return series


def test_ewma_matches_iterative_python(spark, sf_dir):
    """The sequential-fold EWMA must equal the textbook loop exactly
    (same IEEE ops in the same order -> bit-identical doubles)."""
    from flinkstreametl_spark.plans.timeseries_ext import ewma_daily_value

    got = {r.event_type: r for r in ewma_daily_value(spark, sf_dir).collect()}
    series = _daily_series(spark, sf_dir)
    assert set(got) == set(series)
    for et, days in series.items():
        y = days[0][1] / float(FP)
        for _, s_fp in days[1:]:
            y = 0.25 * (s_fp / float(FP)) + 0.75 * y
        assert got[et].ewma_value == y  # exact, not approx
        assert got[et].n_days == len(days)
        assert got[et].last_day == days[-1][0]


def test_cusum_matches_python_argmax(spark, sf_dir):
    from flinkstreametl_spark.plans.timeseries_ext import cusum_changepoint_daily

    got = {r.event_type: r for r in cusum_changepoint_daily(spark, sf_dir).collect()}
    series = _daily_series(spark, sf_dir)
    for et, days in series.items():
        n = len(days)
        total = sum(s for _, s in days)
        best = None
        prefix = 0
        for k, (day, s) in enumerate(days, start=1):
            prefix += s
            c = abs(n * prefix - k * total)
            if best is None or c > best[0] or (c == best[0] and day < best[1]):
                best = (c, day)
        assert got[et].cusum_scaled == best[0]
        assert got[et].changepoint_day == best[1]
        assert got[et].n_days == n


def test_dow_shares_sum_to_one(spark, sf_dir):
    from flinkstreametl_spark.plans.timeseries_ext import dow_seasonality_profile

    rows = dow_seasonality_profile(spark, sf_dir).collect()
    assert all(0 <= r.dow <= 6 for r in rows)
    by_type: dict[str, float] = defaultdict(float)
    for r in rows:
        by_type[r.event_type] += r.share
    for et, s in by_type.items():
        assert math.isclose(s, 1.0, rel_tol=1e-9), (et, s)


def test_triangle_count_matches_bruteforce(spark, sf_dir):
    """Degree-oriented count vs a brute-force adjacency-set scan of
    the same co-purchase edge list."""
    from flinkstreametl_spark.plans.graph_ext import copurchase_triangle_stats

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").collect()
    by_order: dict[int, set[int]] = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    edges: set[tuple[int, int]] = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                edges.add((u, v))
    adj: dict[int, set[int]] = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    # each triangle u < v < w is found exactly once: at edge (u, v)
    # with the third node w > v
    tri = 0
    for u, v in edges:
        for w in adj[u] & adj[v]:
            if w > v:
                tri += 1

    row = copurchase_triangle_stats(spark, sf_dir).collect()[0]
    assert row.n_edges == len(edges)
    assert row.n_nodes == len(adj)
    assert row.n_triangles == tri
    assert row.n_wedges_total == sum(
        len(ns) * (len(ns) - 1) // 2 for ns in adj.values()
    )


def test_triangle_closure_probe_broadcasts_at_runtime(spark, sf_dir):
    """The closure semi join carries no forced hint (an E-sized
    broadcast is an executor-memory ceiling a 100 TB edge list blows
    through), so the scale contract is ADAPTIVE: while the edge list
    is small, AQE must still convert the probe to a broadcast at
    runtime — the wedge stream stays un-exchanged at fixture scale —
    and past the threshold the same plan degrades to a partitionable
    shuffle semi join instead of an OOM. Assert the runtime conversion
    on the executed final plan."""
    from flinkstreametl_spark.plans.graph_ext import copurchase_triangle_stats

    df = copurchase_triangle_stats(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    semi_lines = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert semi_lines, "closure semi join missing from plan"
    assert any("BroadcastHashJoin" in ln for ln in semi_lines), semi_lines


def test_triangle_kernel_on_known_graphs(spark):
    """operators/graph.py triangle_stats on graphs with closed-form
    answers: K4 (4 triangles, transitivity 1), a 4-star (0 triangles),
    C5 (0 triangles), K4 plus a pendant edge."""
    from flinkstreametl_spark.operators.graph import triangle_stats

    def stats(edges, parts=1):
        df = spark.createDataFrame(edges, "u: long, v: long").repartition(parts)
        return triangle_stats(df).collect()[0]

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    r = stats(k4)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)
    assert r.transitivity == 1.0

    star = [(1, 2), (1, 3), (1, 4), (1, 5)]
    r = stats(star)
    assert (r.n_triangles, r.n_wedges_total) == (0, 6)

    c5 = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 5)]
    assert stats(c5).n_triangles == 0

    k4_pendant = k4 + [(4, 9)]
    r7 = stats(k4_pendant, parts=7)
    r1 = stats(k4_pendant, parts=1)
    assert r7.n_triangles == r1.n_triangles == 4  # partition-invariant
    assert (r7.n_nodes, r7.n_edges) == (5, 7)


def test_ewma_fold_operator_partition_invariant(spark):
    """operators/windows.py ewma_fold on hand data: equals the Python
    loop exactly and is independent of input partitioning (the in-group
    sort is what buys this)."""
    from flinkstreametl_spark.operators.windows import ewma_fold

    rows = [("a", 3, 8.0), ("a", 1, 4.0), ("a", 2, 1.5), ("b", 1, 2.0), ("b", 2, 16.0)]

    def loop(vals, alpha):
        y = vals[0]
        for x in vals[1:]:
            y = alpha * x + (1.0 - alpha) * y
        return y

    expect = {"a": loop([4.0, 1.5, 8.0], 0.25), "b": loop([2.0, 16.0], 0.25)}
    for parts in (1, 5):
        df = spark.createDataFrame(rows, "k: string, t: long, x: double").repartition(parts)
        got = {r.k: r for r in ewma_fold(df, ["k"], "t", "x").collect()}
        assert {k: v.ewma for k, v in got.items()} == expect
        assert got["a"].n_points == 3 and got["a"].last_order == 3
        assert got["b"].n_points == 2 and got["b"].last_order == 2


def test_triangle_kernel_reused_on_neardup_graph(spark, sf_dir):
    """Kernel reuse on a second real edge list: the MinHash near-dup
    pair graph (how clustered is the duplicate structure?). Checked
    against a Python brute force over the same pairs."""
    from flinkstreametl_spark.operators.graph import triangle_stats
    from flinkstreametl_spark.plans import REGISTRY

    pairs = REGISTRY["minhash_lsh_neardup"].fn(spark, sf_dir).select("doc_a", "doc_b").collect()
    edges = sorted({(r.doc_a, r.doc_b) for r in pairs})
    if not edges:  # fixture regeneration could empty the pair set
        return
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = sum(1 for u, v in edges for w in adj[u] & adj[v] if w > v)

    df = spark.createDataFrame(edges, "u: long, v: long")
    row = triangle_stats(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (len(adj), len(edges), tri)


def test_peak_concurrency_matches_python_sweep(spark, sf_dir):
    from flinkstreametl_spark.operators.windows import sessionize
    from flinkstreametl_spark.plans.timeseries_ext import peak_concurrent_sessions

    events = load_table(spark, sf_dir, "events")
    sess = (
        sessionize(events, "user_id", "ts", gap_seconds=1800)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
        .collect()
    )
    sweep = []
    for r in sess:
        sweep.append((r.s, 1, r.user_id, r.session_id))
        sweep.append((r.e, -1, r.user_id, r.session_id))
    # closed intervals: starts (+1) sort before ends (-1) at equal t
    sweep.sort(key=lambda x: (x[0], -x[1], x[2], x[3]))
    run = 0
    peaks: dict[int, int] = {}
    starts: dict[int, int] = {}
    for t, delta, _, _ in sweep:
        day = int(t.timestamp() * 1_000_000) // US_PER_DAY
        if day not in peaks:
            peaks[day] = run  # carry-in: concurrency at the day's first endpoint
        run += delta
        peaks[day] = max(peaks[day], run)
        if delta == 1:
            starts[day] = starts.get(day, 0) + 1
    got = {r.day: r for r in peak_concurrent_sessions(spark, sf_dir).collect()}
    assert set(got) == set(peaks)
    for day, r in got.items():
        assert r.peak_concurrent == peaks[day], day
        assert r.n_session_starts == starts.get(day, 0), day


def test_peak_concurrency_counts_midnight_carryover(spark, tmp_path):
    """The review scenario: two sessions overlap ONLY in the first
    half-hour after midnight; day 2 has only session-end rows, so its
    peak must come from the carry-in, not the running values at its own
    rows."""
    import datetime as dt

    from flinkstreametl_spark.plans.timeseries_ext import peak_concurrent_sessions

    base = dt.datetime(2024, 1, 1, 23, 0, 0)

    def ev(eid, uid, minutes):
        return (eid, base + dt.timedelta(minutes=minutes), uid, "click", 1.0, "{}")

    rows = [
        # user 1: 23:00 -> 01:00 (events every ~25 min keep one session)
        ev(1, 1, 0), ev(2, 1, 25), ev(3, 1, 50), ev(4, 1, 75), ev(5, 1, 100), ev(6, 1, 120),
        # user 2: 23:30 -> 00:30
        ev(7, 2, 30), ev(8, 2, 55), ev(9, 2, 80), ev(10, 2, 90),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {r.day: r for r in peak_concurrent_sessions(spark, str(tmp_path)).collect()}
    day1 = int(base.timestamp() * 1_000_000) // US_PER_DAY
    assert out[day1].peak_concurrent == 2  # both active 23:30-24:00
    assert out[day1 + 1].peak_concurrent == 2  # carry-in: both still active until 00:30
    assert out[day1].n_session_starts == 2
    assert out[day1 + 1].n_session_starts == 0


def test_cusum_narrow_guard_trips_and_wide_widens(spark):
    """100 TB width guard (round-4 verdict item 3): values near the
    BIGINT product headroom must FAIL LOUDLY on the narrow path and
    compute exactly on the wide (DECIMAL(38,0)) path — never wrap."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from flinkstreametl_spark.plans.timeseries_ext import cusum_scored

    big = (1 << 61) // 3 + 1  # 3 days -> abs(s_total) > 2^61 div k at k=3
    daily = spark.createDataFrame(
        [("a", 0, big), ("a", 1, big), ("a", 2, big)],
        "event_type string, day long, s_fp long",
    )
    with pytest.raises(SparkRuntimeException, match="wide=True"):
        cusum_scored(daily).collect()

    rows = {r.day: r for r in cusum_scored(daily, wide=True).collect()}
    # python-int reference (exact, unbounded)
    xs = [big, big, big]
    n, s = len(xs), sum(xs)
    for k in range(1, n + 1):
        p_k = sum(xs[:k])
        assert int(rows[k - 1].cusum_scaled) == abs(n * p_k - k * s)


def test_cusum_narrow_passes_under_guard(spark):
    """Small values flow through the guard untouched and match the
    python-int statistic."""
    from flinkstreametl_spark.plans.timeseries_ext import cusum_scored

    daily = spark.createDataFrame(
        [("a", 0, 10), ("a", 1, -4), ("a", 2, 7), ("b", 5, 100)],
        "event_type string, day long, s_fp long",
    )
    got = {(r.event_type, r.day): int(r.cusum_scaled) for r in cusum_scored(daily).collect()}
    for et, xs in {"a": [(0, 10), (1, -4), (2, 7)], "b": [(5, 100)]}.items():
        n, s = len(xs), sum(v for _, v in xs)
        run = 0
        for k, (day, v) in enumerate(xs, start=1):
            run += v
            assert got[(et, day)] == abs(n * run - k * s)


def test_degree_orient_rejects_out_of_range_ids(spark):
    """The (deg, id) linearization contract is enforced: a node id at
    or above ord_base raises instead of silently corrupting counts."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from flinkstreametl_spark.operators import graph as G

    bad = spark.createDataFrame([(1, 10_000_001), (1, 2)], "u long, v long")
    with pytest.raises(SparkRuntimeException, match="ord_base"):
        G.triangle_stats(bad).collect()
    # same edges pass with a base that covers the id space
    out = G.triangle_stats(bad, ord_base=100_000_000).collect()[0]
    assert out.n_edges == 2 and out.n_triangles == 0


def _pagerank_reference(edges, iterations=6, scale=10**9, weights=None, seeds=None):
    """Row-at-a-time integer PageRank — independently written from the
    textbook update so a shared misreading of the kernel can't pass.
    ``weights`` (one per edge) splits each node's rank in proportion to
    its edge weights; ``seeds`` limits the teleport term to those nodes."""
    adj = defaultdict(list)
    for i, (u, v) in enumerate(edges):
        w = 1 if weights is None else weights[i]
        adj[u].append((v, w))
        adj[v].append((u, w))
    base = scale * 15 // 100
    r = {n: scale for n in adj}
    for _ in range(iterations):
        incoming: dict[int, int] = defaultdict(int)
        for n, nbrs in adj.items():
            total = sum(w for _, w in nbrs)
            for m, w in nbrs:
                incoming[m] += r[n] * w // total
        r = {
            n: (base if seeds is None or n in seeds else 0) + (85 * s) // 100
            for n, s in incoming.items()
        }
    return r


def _random_graph(rng, n_max=30):
    n = rng.randint(5, n_max)
    all_pairs = [(u, v) for u in range(n) for v in range(u + 1, n)]
    return rng.sample(all_pairs, k=max(1, int(len(all_pairs) * rng.uniform(0.05, 0.4))))


def test_pagerank_kernel_matches_python_reference(spark):
    """operators/graph.py pagerank == the Python integer loop, exactly
    (fixed-point arithmetic means EQUALITY, not tolerance), and the
    result is independent of input partitioning."""
    from flinkstreametl_spark.operators.graph import pagerank

    # K4 plus a pendant chain — mixes symmetric and asymmetric mass.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    expect = _pagerank_reference(edges)
    for parts in (1, 7):
        df = spark.createDataFrame(edges, "u: long, v: long").repartition(parts)
        got = {r.node: r.rank_fp for r in pagerank(df).collect()}
        assert got == expect


def test_pagerank_star_center_dominates(spark):
    """Semantic sanity on a closed-form-ish graph: the hub of a star
    holds the highest rank and all leaves tie exactly."""
    from flinkstreametl_spark.operators.graph import pagerank

    star = [(1, n) for n in range(2, 8)]
    df = spark.createDataFrame(star, "u: long, v: long")
    got = {r.node: r.rank_fp for r in pagerank(df).collect()}
    leaves = {got[n] for n in range(2, 8)}
    assert len(leaves) == 1
    assert got[1] > leaves.pop()


def test_pagerank_random_graphs_match_reference(spark):
    """Seeded random graphs (mixed density, isolated pairs, chains):
    the DataFrame kernel equals the Python integer loop EXACTLY on
    every node — breadth the hand-picked graphs can't give. Failures
    reproduce (fixed seed)."""
    import random

    from flinkstreametl_spark.operators.graph import pagerank

    rng = random.Random(0x9A6E)
    for trial in range(4):
        n = rng.randint(5, 40)
        all_pairs = [(u, v) for u in range(n) for v in range(u + 1, n)]
        edges = rng.sample(all_pairs, k=max(1, int(len(all_pairs) * rng.uniform(0.05, 0.4))))
        expect = _pagerank_reference(edges)
        df = spark.createDataFrame(edges, "u: long, v: long").repartition(rng.choice([1, 3, 8]))
        got = {r.node: r.rank_fp for r in pagerank(df).collect()}
        assert got == expect, f"trial {trial} (n={n}, e={len(edges)})"


def test_pagerank_segmentation_is_invisible(spark):
    """The hot-node width cap cannot change the result: forcing
    max_seg_width=2 splits every neighbor list into many hash-assigned
    segments, and the per-segment partial sums must recombine to the
    EXACT unsegmented masses (integer addition is associative — this
    test is the executable form of that claim) on a graph with a
    deliberate hub."""
    from flinkstreametl_spark.operators.graph import pagerank

    hub = [(1, n) for n in range(2, 20)] + [(2, 3), (5, 6), (10, 11)]
    df = spark.createDataFrame(hub, "u: long, v: long")
    expect = _pagerank_reference(hub)
    wide = {r.node: r.rank_fp for r in pagerank(df).collect()}
    seg = {r.node: r.rank_fp for r in pagerank(df, max_seg_width=2).collect()}
    assert wide == expect
    assert seg == expect
    # weighted: the segments carry (dst, w) and the divisor sw(s) stays whole
    weights = [1 + (u * 7 + v) % 5 for u, v in hub]
    dfw = spark.createDataFrame([(*e, w) for e, w in zip(hub, weights)], "u: long, v: long, w: long")
    seg_w = {r.node: r.rank_fp for r in pagerank(dfw, max_seg_width=2).collect()}
    assert seg_w == _pagerank_reference(hub, weights=weights)


def test_pagerank_weights_and_seeds_match_reference(spark):
    """Seeded random weighted graphs and random seed sets: the weighted,
    the seeded and the weighted seeded paths of the one kernel equal the
    Python integer loop EXACTLY on every node."""
    import random

    from flinkstreametl_spark.operators.graph import pagerank

    rng = random.Random(0x5EED)
    for trial in range(2):
        edges = _random_graph(rng)
        weights = [rng.randint(1, 9) for _ in edges]
        nodes = sorted({x for e in edges for x in e})
        seeds = set(rng.sample(nodes, k=rng.randint(1, len(nodes))))
        plain = spark.createDataFrame(edges, "u: long, v: long").repartition(rng.choice([1, 3]))
        weighted = spark.createDataFrame(
            [(*e, w) for e, w in zip(edges, weights)], "u: long, v: long, w: long"
        ).repartition(rng.choice([1, 3]))
        seed_df = spark.createDataFrame([(n,) for n in sorted(seeds)], "node: long")
        for name, df, sd, expect in (
            ("weighted", weighted, None, _pagerank_reference(edges, weights=weights)),
            ("seeded", plain, seed_df, _pagerank_reference(edges, seeds=seeds)),
            ("both", weighted, seed_df, _pagerank_reference(edges, weights=weights, seeds=seeds)),
        ):
            got = {r.node: r.rank_fp for r in pagerank(df, sd).collect()}
            assert got == expect, f"trial {trial} {name} (e={len(edges)}, seeds={len(seeds)})"


def test_pagerank_equal_weights_and_all_seeds_are_plain(spark):
    """The two laws that make one kernel of three: all weights equal
    (floor(r·c / (deg·c)) = floor(r / deg)) and ``seeds`` = every node
    each give the unweighted ranks node for node."""
    import random

    from flinkstreametl_spark.operators.graph import pagerank

    edges = _random_graph(random.Random(0xE0A1), n_max=40)
    plain = spark.createDataFrame(edges, "u: long, v: long")
    expect = {r.node: r.rank_fp for r in pagerank(plain).collect()}
    assert expect == _pagerank_reference(edges)
    threes = plain.withColumn("w", F.lit(3).cast("long"))
    everyone = spark.createDataFrame([(n,) for n in expect], "node: long")
    assert {r.node: r.rank_fp for r in pagerank(threes).collect()} == expect
    assert {r.node: r.rank_fp for r in pagerank(plain, everyone).collect()} == expect


def test_pagerank_has_one_home():
    """``operators/graph.py`` defines the one PageRank function, the
    removed variants are named nowhere in the package, and the damping
    numerator is read only by that kernel and by the oracle builders of
    ``plans/graph_ext.py``."""
    import ast
    import os

    import flinkstreametl_spark

    pkg = os.path.dirname(flinkstreametl_spark.__file__)
    graph = os.path.join("operators", "graph.py")
    with open(os.path.join(pkg, graph)) as fh:
        defs = [n.name for n in ast.parse(fh.read()).body if isinstance(n, ast.FunctionDef)]
    assert [d for d in defs if d.startswith("pagerank")] == ["pagerank"]

    gone = {"pagerank_weighted", "pagerank_personalized"}
    named, damp = [], set()
    for root, _dirs, names in os.walk(pkg):
        for f in names:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, pkg)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for top in tree.body:
                if isinstance(top, (ast.FunctionDef, ast.ClassDef)):
                    scope = top.name
                elif isinstance(top, ast.Assign) and isinstance(top.targets[0], ast.Name):
                    scope = top.targets[0].id
                else:
                    scope = "<module>"
                for n in ast.walk(top):
                    ident = (
                        getattr(n, "id", None) or getattr(n, "attr", None)
                        or getattr(n, "name", None) or getattr(n, "asname", None)
                    )
                    if ident in gone:
                        named.append((rel, n.lineno))
                    if ident == "PR_DAMP_NUM" and isinstance(getattr(n, "ctx", None), ast.Load):
                        damp.add((rel, scope))
    assert named == []
    ext = os.path.join("plans", "graph_ext.py")
    oracle_side = {(rel, s) for rel, s in damp if rel == ext and (s.endswith("_oracle") or s == "_PR_BASE")}
    assert damp - oracle_side == {(graph, "pagerank")}


def test_cluster_hash_split_never_separates_components(spark):
    """The cluster_safe_split LAW on seeded random pair graphs: after
    min-label components, hashing the component label into split
    buckets puts EVERY member of a component in one split — zero
    cross-split pairs, for any graph shape (chains force multi-round
    label propagation, the case a one-round implementation would
    fail)."""
    import random

    from pyspark.sql import functions as F

    from flinkstreametl_spark.operators.dedup import neardup_clusters

    rng = random.Random(0x51DE)
    for trial in range(3):
        n = rng.randint(10, 60)
        edges = [(rng.randint(0, n - 1), rng.randint(0, n - 1)) for _ in range(n)]
        edges = [(u, v) for u, v in edges if u != v]
        edges = [(min(u, v), max(u, v)) for u, v in edges]
        edges = list(dict.fromkeys(edges)) + [(100 + i, 101 + i) for i in range(0, 8, 2)]
        pairs = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
        labels = neardup_clusters(pairs)
        b = (
            F.conv(F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 4), 16, 10).cast("int")
            % 100
        )
        sp = labels.select(
            F.col("doc_id"),
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
        )
        sa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
        sb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
        crossed = (
            pairs.join(sa, "doc_a").join(sb, "doc_b").filter(F.col("sa") != F.col("sb")).count()
        )
        assert crossed == 0, f"trial {trial}: {crossed} cross-split pairs"
