"""[EXT] Reusable graph kernels: degree orientation, triangle
counting and PageRank over an arbitrary undirected edge list.

plans/graph_ext.py applies these to the part co-purchase graph; the
operators themselves take any ``(u, v)`` DataFrame (near-dup pair
streams, session transition graphs, citation edges). Scale rationale —
why orientation bounds wedge work at O(E^1.5) — is documented there
and in docs/SCALE.md.

Contract: the input edge list is UNDIRECTED and canonical — one row
per edge with ``u < v``, no self-loops, no duplicates (callers with
raw pairs: ``select(least, greatest).distinct()``). Node ids must fit
in ``[0, ord_base)`` so the (degree, id) total order linearizes into
one BIGINT; pass a larger base (or pre-map ids) for wider id spaces.
``degree_orient`` enforces the id range at runtime (loud
``assert_true`` failure instead of silent corruption).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.session import pin

DEFAULT_ORD_BASE = 10_000_000

PR_SCALE = 10**9
"""Fixed-point scale for PageRank mass: rank 1.0 == PR_SCALE. Chosen
so the damped in-sum stays far inside BIGINT at any plausible node
count (total mass = |V| * PR_SCALE; 85 * 2e14 at an sf1-sized graph,
ceiling ~10^8 nodes before the 9.2e18 BIGINT limit — widen to a
smaller scale or decimal past that)."""

PR_ITERS = 6
"""Power-iteration rounds of ``pagerank``; the oracles unroll the same
count as a CTE chain."""

PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
"""Damping factor 0.85 as an exact integer ratio — the float constant
would make every iteration's rounding engine-dependent."""


def degrees(edges: DataFrame) -> DataFrame:
    """(node, deg) from a canonical undirected edge list."""
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def degree_orient(edges: DataFrame, deg: DataFrame, *, ord_base: int = DEFAULT_ORD_BASE) -> DataFrame:
    """Direct each edge from its lower-(degree, id) endpoint to the
    higher one: (src, dst, ord_dst). The degree table broadcasts — the
    edge stream is never shuffled for orientation.

    The ``node id in [0, ord_base)`` contract is ENFORCED, not just
    documented: an out-of-range id (e.g. hash-derived) would silently
    corrupt the (deg, id) linearization and thus every downstream
    triangle count, so each edge row passes through a JVM-side
    ``assert_true`` that raises loudly instead. The guard is a per-row
    comparison inside the scan filter — no extra exchange, no action."""
    in_range = (
        (F.col("u") >= 0) & (F.col("u") < ord_base) & (F.col("v") >= 0) & (F.col("v") < ord_base)
    )
    edges = edges.where(
        F.assert_true(
            in_range,
            F.concat(
                F.lit(f"degree_orient: node id outside [0, {ord_base}); "
                      "pass a larger ord_base or pre-map ids. edge=("),
                F.col("u").cast("string"), F.lit(","), F.col("v").cast("string"), F.lit(")"),
            ),
        ).isNull()
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    ord_u = F.col("du.deg") * ord_base + F.col("u")
    ord_v = F.col("dv.deg") * ord_base + F.col("v")
    u_first = ord_u < ord_v
    # No broadcast hint: the degree table is |V|-sized, not
    # parameter-sized — auto-broadcast picks it up while it fits (it
    # does at every test SF) and falls back to a shuffle join when a
    # 100 TB node set doesn't. Forcing the hint made the fit a promise.
    return (
        edges.join(du, F.col("du.node") == F.col("u"))
        .join(dv, F.col("dv.node") == F.col("v"))
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, ord_v).otherwise(ord_u).alias("ord_dst"),
        )
    )


def triangle_stats(edges: DataFrame, *, ord_base: int = DEFAULT_ORD_BASE) -> DataFrame:
    """One-row census of a canonical undirected edge list: n_nodes,
    n_edges, n_wedges_total (sum C(deg,2)), exact n_triangles, and
    transitivity = 3*triangles / wedges.

    Wedges enumerate only out-neighbor pairs of the degree-oriented
    list (out-degree <= sqrt(2E)); the closure probe is a LEFT SEMI
    join of the wedge stream against the edge list with the join
    strategy left to Catalyst/AQE: while the edge list fits the
    broadcast threshold the wedge stream is never exchanged, and past
    that the probe degrades to a partitionable, spillable shuffle semi
    join — the standard MapReduce triangle formulation. (Round 6
    removed the forced broadcast(edges): an E-sized broadcast is a
    hard executor-memory ceiling a 100 TB edge list blows through,
    which is exactly the skew-vs-salting lesson in docs/SCALE.md —
    hint only parameter-sized sides.) The oriented list is
    pinned for its three consumers."""
    deg = pin(degrees(edges))
    oriented = pin(degree_orient(edges, deg, ord_base=ord_base))

    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src")) & (F.col("o1.ord_dst") < F.col("o2.ord_dst")),
    ).select(F.col("o1.dst").alias("wa"), F.col("o2.dst").alias("wb"))
    closer = oriented.select(F.col("src").alias("wa"), F.col("dst").alias("wb"))
    tri = wedges.join(closer, ["wa", "wb"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )

    gstats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges_total"),
    )
    estats = oriented.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        gstats.crossJoin(estats)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges_total",
            "n_triangles",
            (
                F.lit(3) * F.col("n_triangles").cast("double") / F.col("n_wedges_total").cast("double")
            ).alias("transitivity"),
        )
    )


def pagerank(edges: DataFrame, seeds: DataFrame | None = None, *, max_seg_width: int = 8192) -> DataFrame:
    """Power-iteration PageRank over a canonical undirected edge list:
    returns (node, rank_fp) with rank_fp an exact BIGINT fixed-point
    mass (1.0 == PR_SCALE), after PR_ITERS rounds of

        r'(d) = base·[d ∈ seeds] + 85·Σ_s (r(s)·w(s,d) div sw(s)) div 100

    over the neighbors s of d, with ``base = (15 · PR_SCALE) div 100``
    and sw(s) the total weight at s. The inputs pick the variant; no
    option does:

    - Weighted exactly when ``edges`` has a ``w`` column (w > 0): each
      node distributes rank in proportion to edge weight. Without it,
      w = 1 and sw = deg, so the share is ``r div deg``. The identity
      is exact: with all weights equal to c, floor(r·c / (deg·c)) =
      floor(r / deg), so equal weights give the unweighted ranks node
      for node.
    - ``seeds`` (a (node) frame, parameter-sized, broadcast) restricts
      the teleport term to the seed set: personalized PageRank, where
      walks restart only at the seeds and non-seeds receive no
      teleport mass, so rank measures proximity TO the seeds instead
      of global centrality. Without it every node is a seed.

    The classic GraphX/Pregel kernel re-expressed as DataFrame joins,
    with the adjacency GROUPED into per-node neighbor arrays so each
    iteration's join touches |V|-scale ROWS, not |E|: iteration i joins
    the grouped adjacency with the current ranks on src, explodes each
    node's neighbor array into (dst, share) contributions WITHOUT any
    exchange (explode is a per-partition generator), and aggregates by
    dst — partial aggregation compacts the E-sized contribution stream
    back to at most partitions x |V| rows before the one real exchange.
    vs the flat (src, dst, deg) formulation this removes the
    per-iteration sort of E rows inside the sort-merge join (measured
    25-30% faster at sf0.1, bit-identical output — the arithmetic never
    changes, only the physical grouping).

    Row width is BOUNDED, not best-effort: a node's neighbors are
    split into ``ceil(deg / max_seg_width)`` hash-assigned segments,
    so a 10^8-degree hub becomes ~12k rows of <= 8192 entries instead
    of one 800 MB array row that no executor survives. Cold nodes
    (deg <= max_seg_width, i.e. almost all of any real graph) get
    exactly one segment — the cap costs nothing until a row would
    otherwise be dangerous. Per-segment contribution sums are partial
    sums of the same integer terms, so segmentation cannot change the
    result.

    The grouped adjacency is built ONCE and pinned:
    without the pin every iteration would replay the edge-list
    derivation from the scan up (the lazy-reuse-in-loops trap that
    cost 6x on the connected-components loop — see neardup_clusters).
    Measured caveat: the pin does NOT carry outputPartitioning
    into the planner, so the pinned adjacency is re-exchanged each
    iteration (now as |V|-scale grouped rows); on a cluster even that
    goes away by writing the grouped adjacency BUCKETED on src (the
    sources/bucketed.py path) — iterations then shuffle only the
    |V|-sized rank frame, which is the GraphX partition-reuse story in
    DataFrame terms. Per-iteration rank frames form a LINEAR lazy
    chain (each consumed exactly once by the next), so they need no
    pinning.

    Exactness, the reason this is driver-verifiable cross-engine: all
    arithmetic is integer. Shares are floor divisions of positive
    operands (Spark's truncating ``div`` == DuckDB's flooring ``//``)
    and integer sums are order-independent — no float accumulation
    anywhere, so N iterations stay bit-identical on both engines.
    Undirected edges are symmetrized, so every graph node has
    out-degree >= 1: no dangling-mass redistribution term is needed
    and the node set is closed under the update. int64 headroom: the
    widest product is r·w ~ |V|·PR_SCALE·w_max, which holds to
    |V|·w_max ~ 9×10^9 (e.g. 10^8 nodes with weights to ~90); past that
    lower PR_SCALE or widen to DECIMAL(38,0), shape unchanged.
    """
    weighted = "w" in edges.columns
    w = ["w"] if weighted else []
    # Every consumer reads the caller's edge derivation through the
    # symmetrizing union; pinning the half-size side holds half the bytes.
    edges = pin(edges.select("u", "v", *w))
    sym = edges.select(F.col("u").alias("src"), F.col("v").alias("dst"), *w).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"), *w)
    )
    # Grouped adjacency: hash-segmented neighbor arrays, <= max_seg_width
    # entries per row. Degrees (and weight sums) come from window
    # aggregates over the SAME src-hash exchange the grouping needs
    # anyway (r14 opt — a separate deg aggregate + src-keyed join cost
    # one extra pinned frame and one extra exchange+sort per build);
    # groupBy (src, seg) after the window needs no further exchange and
    # `first(deg)`/`first(sw)` is constant within a group. The weighted
    # path differs only in the neighbor entry and the divisor.
    wsrc = Window.partitionBy("src")
    sym = sym.withColumn("deg", F.count(F.lit(1)).over(wsrc))
    if weighted:
        sym = sym.withColumn("sw", F.sum("w").over(wsrc))
        nbr, norm, explode, share = F.struct("dst", "w"), "sw", F.inline("nbrs"), "(r * w) div sw"
    else:
        nbr, norm, explode, share = F.col("dst"), "deg", F.explode("nbrs").alias("dst"), "r div deg"
    n_seg = F.greatest(F.lit(1), F.ceil(F.col("deg") / F.lit(max_seg_width)))
    adj = pin(
        sym.withColumn("seg", F.pmod(F.hash("dst"), n_seg))
        .groupBy("src", "seg")
        .agg(F.collect_list(nbr).alias("nbrs"), F.first(norm).alias(norm))
        .select("src", "nbrs", norm)
    )
    teleport = f"CAST({PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN} AS BIGINT)"
    if seeds is not None:
        seed_marks = F.broadcast(seeds.select(F.col("node").alias("dst"), F.lit(1).alias("is_seed")))
        teleport += " * coalesce(is_seed, 0)"
    # Initial ranks: every node once (each src holds >= 1 adjacency
    # segment, so distinct src over the pinned adj is the node set).
    ranks = adj.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(PR_SCALE).cast("long").alias("r")
    )
    for _ in range(PR_ITERS):
        contrib = (
            adj.join(ranks, adj["src"] == ranks["node"])
            .select(explode, "r", norm)
            .select("dst", F.expr(share).alias("c"))
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        if seeds is not None:
            sums = sums.join(seed_marks, "dst", "left")
        ranks = sums.select(
            F.col("dst").alias("node"),
            F.expr(f"{teleport} + ({PR_DAMP_NUM} * s) div {PR_DAMP_DEN}").alias("r"),
        )
    return ranks.select("node", F.col("r").alias("rank_fp"))
