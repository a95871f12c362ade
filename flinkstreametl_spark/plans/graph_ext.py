"""[EXT] Graph analytics over the co-purchase graph: degree-oriented
triangle counting with global transitivity, plus market-basket
association rules (support / confidence / lift) at the pair grain.

The near-dup stack already does one graph computation — connected
components over the duplicate-pair edge list (operators/dedup.py) — and
TextRank runs PageRank over the token graph (plans/corpus_ext.py).
This module adds the third classic distributed-graph kernel, triangle
counting, on a graph the warehouse actually has: parts are nodes,
"appeared in the same order" is an edge (the market-basket projection
of the orders/lineitem star).

Why degree orientation matters at 100 TB: the naive wedge enumeration
(join edges on the shared endpoint) is sum(deg^2) — a single celebrity
node with degree 10^6 generates 10^12 wedges. Directing every edge
from its lower-(degree, id) endpoint to the higher one and enumerating
wedges only from OUT-neighbors bounds the work by O(E^1.5) total
(every node's out-degree is at most sqrt(2E)), which is the standard
MapReduce/GraphX triangle algorithm. Each undirected triangle then
appears exactly once: its three nodes have a unique (degree, id)
ordering a < b < c, and the enumeration finds it only as the wedge
(a->b, a->c) closed by the edge b->c.

Exactness: node ids, degrees, and counts are all integers; the single
double division (transitivity = 3*triangles / wedge_total) happens
once, on exact operands, in the same order as the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkstreametl_spark.operators import graph as G
from flinkstreametl_spark.plans.registry import register
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.sources.parquet import load_table

# Linearizes the (degree, node) total order into one BIGINT so the
# orientation and the wedge ordering compare a single column. Valid
# while node ids < 10^7 (TPC-H partkeys at any test SF; at larger
# scales widen the multiplier or compare a (deg, node) struct — both
# engines order structs lexicographically).
_ORD = 10_000_000


def _order_part_pairs(li: DataFrame, *, multiset: bool = False) -> DataFrame:
    """Per-order part pairs (u < v), the shared co-purchase edge
    derivation (r14 opt): groupBy(order) + an IN-ROW pair generator
    replaces the former lineitem self-join — same pair stream, one
    exchange instead of a sort-merge self-join (~25% faster measured at
    sf0.1), and the per-order fan-out is bounded (TPC-H <= 7 lineitems
    per order).

    ``multiset=False`` (default) pairs the order's DISTINCT part set —
    one (l_orderkey, u, v) row per pair per order; callers that want
    the plain edge list apply .distinct() like before. ``multiset=True``
    pairs the raw lineitem multiset, reproducing the self-join's
    multiplicity (da*db rows for parts appearing da/db times in the
    order) for multiplicity-sensitive counts — the fixtures DO carry
    duplicate (order, part) lineitems."""
    agg = F.collect_list if multiset else F.collect_set
    op = li.groupBy("l_orderkey").agg(agg("l_partkey").alias("ps"))
    pair = F.explode(
        F.flatten(
            F.transform(
                "ps",
                lambda x: F.transform(
                    F.filter("ps", lambda y: y > x),
                    lambda y: F.struct(x.alias("u"), y.alias("v")),
                ),
            )
        )
    )
    return op.select("l_orderkey", pair.alias("p")).select(
        "l_orderkey", "p.u", "p.v"
    )

# MATERIALIZED pins each stage to one evaluation (round 8): DuckDB 1.0
# re-inlines multi-referenced CTEs (oriented feeds adj/tri/estats, adj
# is probed twice in tri). sf1: 230s -> 190s uncontended; the rest is
# the genuine 12M-edge list_intersect work.
_TRI_ORACLE = f"""
WITH pairs AS MATERIALIZED (
    SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                    greatest(a.l_partkey, b.l_partkey) AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS MATERIALIZED (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
    GROUP BY node
),
oriented AS MATERIALIZED (
    SELECT CASE WHEN du.deg*{_ORD} + u < dv.deg*{_ORD} + v THEN u ELSE v END AS src,
           CASE WHEN du.deg*{_ORD} + u < dv.deg*{_ORD} + v THEN v ELSE u END AS dst,
           CASE WHEN du.deg*{_ORD} + u < dv.deg*{_ORD} + v
                THEN dv.deg*{_ORD} + v ELSE du.deg*{_ORD} + u END AS ord_dst
    FROM pairs JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
),
tri AS (
    -- Degree-oriented path join (round 8, replacing the adjacency
    -- list_intersect form): an oriented wedge u->v, u->w with
    -- ord(v) < ord(w) closes iff the oriented edge v->w exists (the
    -- orientation makes u the ord-least node and guarantees the
    -- closing edge points v->w), so each triangle is counted exactly
    -- once. Oriented wedges are Sum C(outdeg, 2) <= O(E^1.5) like the
    -- intersect form, but the intermediate rows are three BIGINTs
    -- instead of two full adjacency LISTS per edge — the wide rows
    -- were what thrashed memory when DuckDB shares the box with the
    -- Spark JVM (measured sf1: 190-580s intersect (memory-dependent)
    -- -> 77s path join, identical count).
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM oriented e1
    JOIN oriented e2 ON e2.src = e1.src AND e2.ord_dst > e1.ord_dst
    JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
gstats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges_total
    FROM deg
),
estats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM oriented
)
SELECT n_nodes, n_edges, n_wedges_total, n_triangles,
       CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges_total AS DOUBLE) AS transitivity
FROM gstats, estats, tri
"""


@register("copurchase_triangle_stats", tags=("ext", "graph"), oracle=_TRI_ORACLE)
def copurchase_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph: node/edge counts,
    total wedges (sum C(deg,2)), exact triangle count, and the global
    clustering coefficient (transitivity = 3*triangles / wedges).
    Kernel: operators/graph.py ``triangle_stats`` — reusable over ANY
    canonical undirected edge list (near-dup pairs, transition graphs);
    this query supplies the co-purchase edges.

    Plan shape (the 100 TB story is in the module docstring):
    1. Edge list: lineitem self-join on l_orderkey — per-order pair
       enumeration, quadratic only in ORDER SIZE (bounded, ~4 items),
       then one distinct.
    2. Degrees: one hash aggregate over edge endpoints; the degree
       table is |V|-sized (parts, not lineitems) and is BROADCAST onto
       the edge list to orient it — the edge stream never shuffles for
       the orientation step.
    3. Wedges: oriented self-join on src. Out-degrees are capped at
       sqrt(2E) by the orientation, so the join output is O(E^1.5)
       worst-case, not deg^2-skewed.
    4. Closure: LEFT SEMI join of wedges against the oriented edge
       list — the edge list is the SMALL side and broadcasts, so the
       wedge stream (the big intermediate) is never exchanged.
    ``pin`` materializes the oriented edge list so the three
    consumers (edge count, wedge enumeration, closure probe) reuse one
    materialization instead of replaying the self-join (same pattern
    as the connected-components loop, operators/dedup.py)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = _order_part_pairs(li).select("u", "v").distinct()
    return G.triangle_stats(pairs, ord_base=_ORD)


_LIFT_ORACLE = """
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_total FROM baskets
),
item_n AS (
    SELECT l_partkey AS item, CAST(COUNT(*) AS BIGINT) AS n_item FROM baskets GROUP BY 1
),
pair_n AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS n_pair
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)
SELECT u, v, n_pair, ia.n_item AS n_u, ib.n_item AS n_v, n_total,
       CAST(n_pair * n_total AS DOUBLE) / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift,
       CAST(n_pair AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS confidence_u_to_v
FROM pair_n
JOIN item_n ia ON ia.item = u
JOIN item_n ib ON ib.item = v
CROSS JOIN n_orders
ORDER BY n_pair DESC, u, v
LIMIT 20
"""


@register("basket_lift_top_pairs", tags=("ext", "graph", "basket"), oracle=_LIFT_ORACLE)
def basket_lift_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over the same co-purchase
    structure the triangle census uses, kept at the PAIR grain: for the
    20 most co-purchased part pairs, support counts, confidence
    P(v | u), and lift (observed co-rate vs independence).

    Exactness: lift = (n_pair * n_total) / (n_u * n_v) — both products
    are computed in BIGINT (exact) and cast to double for ONE division,
    so the doubles are bit-identical across engines and even the
    ORDER BY needs no float: top-20 ranks by (n_pair DESC, u, v), a
    total integer order.

    Plan: per-order pair enumeration (quadratic in basket size only),
    one hash aggregate per grain (pair / item / total), item counts
    broadcast onto the pair table, top-20 via TakeOrdered — no global
    sort materialization."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = pin(li.select("l_orderkey", "l_partkey").distinct())
    n_total_df = baskets.agg(F.count_distinct("l_orderkey").cast("long").alias("n_total"))
    item_n = baskets.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    # r14 opt: in-row pair generation (baskets is distinct per
    # (order, part), so set-pairing reproduces the self-join exactly).
    pair_n = (
        _order_part_pairs(baskets)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    ia = item_n.select(F.col("item").alias("u"), F.col("n_item").alias("n_u"))
    ib = item_n.select(F.col("item").alias("v"), F.col("n_item").alias("n_v"))
    joined = (
        pair_n.join(F.broadcast(ia), "u")
        .join(F.broadcast(ib), "v")
        .crossJoin(F.broadcast(n_total_df))
    )
    return (
        joined.select(
            "u",
            "v",
            "n_pair",
            "n_u",
            "n_v",
            "n_total",
            (
                (F.col("n_pair") * F.col("n_total")).cast("double")
                / (F.col("n_u") * F.col("n_v")).cast("double")
            ).alias("lift"),
            (F.col("n_pair").cast("double") / F.col("n_u").cast("double")).alias(
                "confidence_u_to_v"
            ),
        )
        .orderBy(F.col("n_pair").desc(), "u", "v")
        .limit(20)
    )


_PR_TOPK = 20
_PR_BASE = G.PR_SCALE * (G.PR_DAMP_DEN - G.PR_DAMP_NUM) // G.PR_DAMP_DEN


def _pr_steps(rank: str) -> str:
    """The unrolled power iteration r1..r{PR_ITERS} as a CTE chain;
    ``rank`` is the update over ``adj a`` and the previous step ``r``."""
    return ",\n".join(
        f"r{i} AS (\n"
        f"    SELECT a.dst AS node,\n"
        f"           {rank} AS r\n"
        f"    FROM adj a JOIN r{i - 1} r ON r.node = a.src\n"
        f"    GROUP BY a.dst\n"
        f")"
        for i in range(1, G.PR_ITERS + 1)
    )


def _pagerank_oracle() -> str:
    """Unrolled power iteration: r0..r{N} as a CTE chain (DuckDB has no
    keyed iterate-to-fixpoint; a recursive CTE can't re-aggregate per
    step, so the fixed iteration count is spelled out). `pairs`/`adj`
    are MATERIALIZED — each rank step scans adj, and without the hint
    DuckDB may inline the per-order self-join into all N steps."""
    chain = _pr_steps(f"{_PR_BASE} + ({G.PR_DAMP_NUM} * SUM(r.r // a.deg)) // {G.PR_DAMP_DEN}")
    return f"""
WITH pairs AS MATERIALIZED (
    SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                    greatest(a.l_partkey, b.l_partkey) AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
sym AS (
    SELECT u AS src, v AS dst FROM pairs
    UNION ALL
    SELECT v AS src, u AS dst FROM pairs
),
deg AS (
    SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src
),
adj AS MATERIALIZED (
    SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d USING (src)
),
r0 AS (
    SELECT src AS node, CAST({G.PR_SCALE} AS BIGINT) AS r FROM deg
),
{chain}
SELECT node AS part, CAST(r AS BIGINT) AS rank_fp, rk FROM (
    SELECT node, r, row_number() OVER (ORDER BY r DESC, node) AS rk
    FROM r{G.PR_ITERS}
) t
WHERE rk <= {_PR_TOPK}
"""


@register("pagerank_copurchase", tags=("ext", "graph", "iterative", "bench"), oracle=_pagerank_oracle())
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by PageRank over the co-purchase graph — the
    link-analysis quality signal a training-data pipeline computes over
    its document/web graph, exercised here on the graph the warehouse
    actually has (same edge list as the triangle census).

    Kernel: operators/graph.py ``pagerank`` — integer fixed-point
    power iteration (6 rounds, damping 85/100) over a width-bounded
    GROUPED adjacency (per-node neighbor arrays, hash-segmented past
    8192 entries), so each round's join moves |V|-scale rows and the
    contribution stream compacts via partial aggregation before its
    one exchange; the edge list and the grouped adjacency are
    pinned once. The DuckDB oracle replays the SAME six integer
    updates as an unrolled CTE chain, so every intermediate mass —
    not just the ranking — is hash-verified cross-engine.

    Top-k shape: ``_top_parts``."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return _top_parts(G.pagerank(_order_part_pairs(li).select("u", "v").distinct()))


def _top_parts(ranks: DataFrame) -> DataFrame:
    """The top _PR_TOPK ranks as (part, rank_fp, rk): TakeOrdered on
    (rank DESC, node) pulls 20 rows; the row_number window then runs on
    the 20-row frame, never on |V|."""
    top = ranks.orderBy(F.col("rank_fp").desc(), "node").limit(_PR_TOPK)
    w = Window.orderBy(F.col("rank_fp").desc(), "node")
    return top.select(
        F.col("node").alias("part"),
        "rank_fp",
        F.row_number().over(w).cast("long").alias("rk"),
    )


# --- link prediction ------------------------------------------------------
# The fourth classic graph kernel over the same co-purchase projection:
# score NON-edges by their common-neighborhood structure — the
# recommender / knowledge-graph-completion primitive ("parts bought
# with the same parts, never yet together"). Three standard indices at
# once, all integer-exact:
#   cn          = |N(u) ∩ N(v)|                 (common neighbors)
#   jaccard_fp  = cn * FP div (deg_u + deg_v - cn)
#   ra_fp       = SUM_{w in N(u) ∩ N(v)} FP div deg_w
# RA (resource allocation, Zhou et al. 2009) is the log-free twin of
# Adamic-Adar — 1/deg instead of 1/log(deg) — chosen BECAUSE it is
# exact in integer fixed point (ln() differs across engines in the
# last ulp; the suite\'s hash gate needs bit equality).
#
# Query shape & 100 TB judgment: ALL-pairs common-neighbor scoring is
# sum_w C(deg_w, 2) wedges — measured 13.8M at sf0.01 and ~1.4B at sf1
# (the co-purchase degree is ~constant in SF, so wedges grow linearly
# with |V|) — and unlike triangles it cannot be degree-oriented away,
# so the production query is per-SOURCE recommendation: score
# candidates FOR a bounded panel of parts (here the _LP_PANEL
# lowest-id nodes — the retrieval module\'s fixed-panel convention).
# Wedge cost is then panel x deg^2, independent of corpus size. Two
# spec\'d caps keep hubs from re-introducing the blow-up: wedge CENTERS
# with deg > _LP_HUB are excluded (their RA contribution is <= FP/deg
# noise anyway — the LSH hot-bucket-cap convention).
_LP_PANEL = 100
_LP_HUB = 1024
_LP_FP = 1_000_000
_LP_TOPK = 20

_LINKPRED_ORACLE = f"""
WITH pairs AS MATERIALIZED (
    SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                    greatest(a.l_partkey, b.l_partkey) AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
sym AS MATERIALIZED (
    SELECT u AS a, v AS b FROM pairs UNION ALL SELECT v, u FROM pairs
),
deg AS MATERIALIZED (
    SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY a
),
panel AS (SELECT node FROM deg ORDER BY node LIMIT {_LP_PANEL}),
wedge AS (
    SELECT s1.a AS u, s2.b AS v, s1.b AS w
    FROM sym s1
    JOIN panel p ON p.node = s1.a
    JOIN deg dw ON dw.node = s1.b AND dw.deg <= {_LP_HUB}
    JOIN sym s2 ON s2.a = s1.b AND s2.b <> s1.a
),
cand AS (
    SELECT w.u, w.v, CAST(COUNT(*) AS BIGINT) AS cn,
           CAST(SUM({_LP_FP} // dw.deg) AS BIGINT) AS ra_fp
    FROM wedge w JOIN deg dw ON dw.node = w.w
    GROUP BY w.u, w.v
),
nonedge AS (
    SELECT c.u, c.v, c.cn, c.ra_fp, du.deg AS deg_u, dv.deg AS deg_v,
           c.cn * {_LP_FP} // (du.deg + dv.deg - c.cn) AS jaccard_fp
    FROM cand c
    JOIN deg du ON du.node = c.u
    JOIN deg dv ON dv.node = c.v
    ANTI JOIN pairs p ON p.u = least(c.u, c.v) AND p.v = greatest(c.u, c.v)
)
SELECT u, v, cn, deg_u, deg_v, jaccard_fp, ra_fp, CAST(rk AS BIGINT) AS rk
FROM (
    SELECT *, row_number() OVER (ORDER BY ra_fp DESC, u, v) AS rk FROM nonedge
) r
WHERE rk <= {_LP_TOPK}
ORDER BY rk
"""


@register("linkpred_copurchase_scores", tags=("ext", "graph", "linkpred"), oracle=_LINKPRED_ORACLE)
def linkpred_copurchase_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the part co-purchase graph: for the fixed
    panel of the 100 lowest-id parts, the top-20 NOT-YET-ADJACENT
    (panel part, candidate part) pairs by resource-allocation score,
    with common-neighbor and Jaccard indices alongside (integer fixed
    point — the module block above gives the three indices, why RA
    replaces Adamic-Adar\'s log, and why the panel bound — not an
    all-pairs sweep — is the shape that survives 100 TB).

    Plan shape: the canonical edge list is pinned once (it feeds the
    symmetric adjacency, the degree table, AND the final anti join).
    The panel\'s neighbor rows (panel x deg — parameter-sized) come off
    one broadcast-filtered pass of the adjacency and BROADCAST into
    the wedge join against the full adjacency, so the corpus-sized
    side never shuffles; hub centers are pre-filtered by the broadcast
    degree table. The (u, v) aggregate output is panel-bounded;
    degrees join back by broadcast; existing edges leave by ANTI join
    on the canonical key; the global top-20 is TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # The pairs feed sym/deg and the final anti join.
    pairs = pin(_order_part_pairs(li).select("u", "v").distinct())
    sym = pairs.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        pairs.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    panel = deg.select("node").orderBy("node").limit(_LP_PANEL)
    pn = (
        sym.join(F.broadcast(panel), sym["a"] == panel["node"])
        .join(
            F.broadcast(deg.filter(F.col("deg") <= _LP_HUB).select(F.col("node").alias("wn"), F.col("deg").alias("deg_w"))),
            F.col("wn") == sym["b"],
        )
        .select(F.col("a").alias("u"), F.col("b").alias("w"), "deg_w")
    )
    s2 = sym.select(F.col("a").alias("w"), F.col("b").alias("v"))
    wedge = F.broadcast(pn).join(s2, "w").filter(F.col("v") != F.col("u"))
    cand = wedge.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum(F.expr(f"{_LP_FP} div deg_w")).alias("ra_fp"),
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    nonedge = (
        cand.join(
            pairs,
            (pairs["u"] == F.least(cand["u"], cand["v"]))
            & (pairs["v"] == F.greatest(cand["u"], cand["v"])),
            "left_anti",
        )
        .join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .withColumn("jaccard_fp", F.expr(f"cn * {_LP_FP} div (deg_u + deg_v - cn)"))
    )
    top = nonedge.orderBy(F.col("ra_fp").desc(), "u", "v").limit(_LP_TOPK)
    w = Window.orderBy(F.col("ra_fp").desc(), "u", "v")
    return top.select(
        "u", "v", "cn", "deg_u", "deg_v", "jaccard_fp", "ra_fp",
        F.row_number().over(w).cast("long").alias("rk"),
    ).orderBy("rk")


# --- k-core decomposition ---------------------------------------------------
# Iterative peeling: repeatedly delete nodes with degree < k until the
# fixpoint — what survives is the k-core, the standard "dense backbone"
# extraction (community seeding, spam-graph trimming, visualization).
# Like pagerank, the WHOLE trajectory is the verified output, not just
# the final core: each round's (n_nodes, n_edges) after peeling is a
# row, so the oracle hash-pins every intermediate peel. _KCORE_ROUNDS
# is a fixed unroll (both engines run the same 8 peels; rounds after
# the fixpoint repeat the fixpoint counts — deterministic, and the
# fixture converges in <= 6, asserted in tests). Distributed shape per
# round: one degree aggregate + two semi-joins of the edge list
# against the (|V|-sized, broadcastable) survivor set — E-scale work
# per round, the textbook distributed k-core.
_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    ctes = [
        """e0 AS MATERIALIZED (
    SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                    greatest(a.l_partkey, b.l_partkey) AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        p = f"e{i - 1}"
        ctes.append(
            f"d{i} AS (SELECT node, COUNT(*) AS deg FROM ("
            f"SELECT u AS node FROM {p} UNION ALL SELECT v FROM {p}) GROUP BY node)"
        )
        ctes.append(f"s{i} AS (SELECT node FROM d{i} WHERE deg >= {_KCORE_K})")
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT u, v FROM {p} "
            f"SEMI JOIN s{i} su ON su.node = {p}.u "
            f"SEMI JOIN s{i} sv ON sv.node = {p}.v)"
        )
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS round,"
        f" (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM"
        f" (SELECT u AS node FROM e{i} UNION ALL SELECT v FROM e{i})) AS n_nodes,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM e{i}) AS n_edges"
        for i in range(_KCORE_ROUNDS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + rows + "\nORDER BY round"


@register("kcore_peeling_profile", tags=("ext", "graph", "iterative"), oracle=_kcore_oracle())
def kcore_peeling_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core peeling trajectory of the part co-purchase graph: after
    each of 8 fixed peel rounds, the surviving (n_nodes, n_edges) —
    round 0 is the full graph, the tail rows sit at the fixpoint (the
    3-core itself). See the module block for why the trajectory, not
    just the core, is the output, and the per-round distributed shape.

    Plan shape: the canonical edge list is pinned once; each round
    pins its peeled edge list (one degree hash-aggregate + two
    broadcast-able semi-joins), so round i+1 consumes ROUND i's
    materialization, never a replay of the whole chain — the pagerank
    loop discipline (operators/graph.py)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = pin(_order_part_pairs(li).select("u", "v").distinct())

    def _stats(e: DataFrame, rnd: int) -> DataFrame:
        ends = e.select(F.col("u").alias("node")).unionByName(e.select(F.col("v").alias("node")))
        return (
            ends.agg(F.count_distinct("node").alias("n_nodes"))
            .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
            .select(
                F.lit(rnd).cast("long").alias("round"),
                F.col("n_nodes").cast("long").alias("n_nodes"),
                "n_edges",
            )
        )

    out = _stats(edges, 0)
    cur = edges
    for i in range(1, _KCORE_ROUNDS + 1):
        ends = cur.select(F.col("u").alias("node")).unionByName(
            cur.select(F.col("v").alias("node"))
        )
        deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("node")
        cur = pin(
            cur.join(F.broadcast(keep.withColumnRenamed("node", "u")), "u", "left_semi")
            .join(F.broadcast(keep.withColumnRenamed("node", "v")), "v", "left_semi")
            .select("u", "v")
        )
        out = out.unionByName(_stats(cur, i))
    return out.orderBy("round")


# --- weighted PageRank --------------------------------------------------------
# The co-purchase graph is genuinely WEIGHTED — two parts that share
# fifty orders are more related than two that share one — and the
# unweighted kernel throws that signal away. Given a weight column,
# G.pagerank distributes each node's rank in proportion to edge weight
# (contribution = (rank·w) div Σw — still pure integers), so the
# ranking rewards strength of association, not just breadth. Same
# unrolled-CTE verification: all six weighted updates hash-checked.


def _pagerank_weighted_oracle() -> str:
    chain = _pr_steps(f"{_PR_BASE} + ({G.PR_DAMP_NUM} * SUM((r.r * a.w) // a.sw)) // {G.PR_DAMP_DEN}")
    return f"""
WITH pairs AS MATERIALIZED (
    SELECT least(a.l_partkey, b.l_partkey) AS u,
           greatest(a.l_partkey, b.l_partkey) AS v,
           CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS w
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
sym AS (
    SELECT u AS src, v AS dst, w FROM pairs
    UNION ALL
    SELECT v AS src, u AS dst, w FROM pairs
),
stats AS (
    SELECT src, CAST(SUM(w) AS BIGINT) AS sw FROM sym GROUP BY src
),
adj AS MATERIALIZED (
    SELECT s.src, s.dst, s.w, t.sw FROM sym s JOIN stats t USING (src)
),
r0 AS (
    SELECT src AS node, CAST({G.PR_SCALE} AS BIGINT) AS r FROM stats
),
{chain}
SELECT node AS part, CAST(r AS BIGINT) AS rank_fp, rk FROM (
    SELECT node, r, row_number() OVER (ORDER BY r DESC, node) AS rk
    FROM r{G.PR_ITERS}
) t
WHERE rk <= {_PR_TOPK}
"""


@register(
    "pagerank_weighted_copurchase",
    tags=("ext", "graph", "iterative"),
    oracle=_pagerank_weighted_oracle(),
)
def pagerank_weighted_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by WEIGHTED PageRank over the co-purchase graph —
    edge weight = number of shared orders, so rank flows along strong
    associations (block comment above; the unweighted query is the
    breadth-only contrast). Plan shape identical to pagerank_copurchase
    plus one weight column through the grouped segmented adjacency:
    per-iteration work is still |V|-scale rows into one exchange, and
    every intermediate mass is integer-exact and oracle-unrolled."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # r14 opt: in-row pair generation; each (order, u, v) appears once
    # from the per-order set, so count_distinct(order) is unchanged.
    pairs = (
        _order_part_pairs(li)
        .groupBy("u", "v")
        .agg(F.count_distinct(F.col("l_orderkey")).alias("w"))
    )
    return _top_parts(G.pagerank(pairs))


# --- HITS hubs/authorities on the order-part bipartite graph ---------------

_HITS_SCALE = 1_000_000
_HITS_ITERS = 3
_HITS_TOPK = 15


def _hits_oracle() -> str:
    """Unrolled HITS power iterations (the _pagerank_oracle rationale:
    DuckDB can't re-aggregate inside a recursive CTE). Max-normalized
    each half-step — any positive rescaling preserves the HITS
    fixpoint direction, and max-normalization keeps the integer scores
    spread over 0..SCALE (sum-normalization would crush |orders|-many
    hubs into single digits and destroy the ranking)."""
    steps = []
    prev_a = "a0"
    for i in range(1, _HITS_ITERS + 1):
        # every intermediate CTE is MATERIALIZED: each is referenced
        # twice (body + MAX scalar subquery, or next half-step + final
        # select), and DuckDB INLINES non-materialized CTEs per
        # reference — the recompute compounds ~2x per half-step, and
        # at sf1 the unrolled chain spilled past the container's disk
        # (round-10 sweep). Materialization changes nothing semantically.
        steps.append(
            f"hraw{i} AS MATERIALIZED (\n"
            f"    SELECT e.o AS node, CAST(SUM(a.s) AS BIGINT) AS raw\n"
            f"    FROM e JOIN {prev_a} a ON a.node = e.p GROUP BY e.o\n"
            f"),\n"
            f"h{i} AS MATERIALIZED (\n"
            f"    SELECT node, raw * {_HITS_SCALE} // (SELECT MAX(raw) FROM hraw{i}) AS s\n"
            f"    FROM hraw{i}\n"
            f"),\n"
            f"araw{i} AS MATERIALIZED (\n"
            f"    SELECT e.p AS node, CAST(SUM(h.s) AS BIGINT) AS raw\n"
            f"    FROM e JOIN h{i} h ON h.node = e.o GROUP BY e.p\n"
            f"),\n"
            f"a{i} AS MATERIALIZED (\n"
            f"    SELECT node, raw * {_HITS_SCALE} // (SELECT MAX(raw) FROM araw{i}) AS s\n"
            f"    FROM araw{i}\n"
            f")"
        )
        prev_a = f"a{i}"
    chain = ",\n".join(steps)
    return f"""
WITH e AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
a0 AS (
    SELECT DISTINCT p AS node, CAST({_HITS_SCALE} AS BIGINT) AS s FROM e
),
{chain}
SELECT side, node, score_fp, rk FROM (
    SELECT 'authority' AS side, node, CAST(s AS BIGINT) AS score_fp,
           CAST(row_number() OVER (ORDER BY s DESC, node) AS BIGINT) AS rk
    FROM a{_HITS_ITERS}
) x WHERE rk <= {_HITS_TOPK}
UNION ALL
SELECT side, node, score_fp, rk FROM (
    SELECT 'hub' AS side, node, CAST(s AS BIGINT) AS score_fp,
           CAST(row_number() OVER (ORDER BY s DESC, node) AS BIGINT) AS rk
    FROM h{_HITS_ITERS}
) y WHERE rk <= {_HITS_TOPK}
"""


@register(
    "hits_order_part_scores",
    tags=("ext", "graph", "iterative", "bench"),
    oracle=_hits_oracle(),
)
def hits_order_part_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities on the bipartite order-part graph:
    authoritative parts are bought by hub orders, hub orders buy
    authoritative parts — the mutual-reinforcement ranking PageRank's
    single-score walk can't express on a bipartite structure (the
    complement to ``pagerank_copurchase``'s projected graph). Top-15
    per side with integer fixed-point scores.

    Exactness: pure-integer half-steps — sum, then rescale by
    score·SCALE div max (max-normalization: preserves the HITS
    direction, keeps precision; see the oracle builder). Both engines
    run the identical 3 unrolled iterations.

    Plan shape (r15): the distinct edge list is pinned once; each
    half-step BROADCASTS the node-scale score frame into the edge join
    (the edge list is never shuffled — its only exchange per half-step
    is the map-side-combined node-keyed aggregate), the normalizing max
    is a 1-row broadcast, and the raw half-step frames stay
    pinned (node-scale). Top-k per side is
    orderBy().limit() (TakeOrdered — no global single-partition
    window)."""
    li = load_table(spark, sf_dir, "lineitem")
    e = pin(
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )

    # NOT the pagerank grouped-adjacency form (r14 opt, measured):
    # building the two directional grouped adjacencies (window + two
    # collect_list pins) costs more than HITS' 3+3 half-step joins save
    # — interleaved A/B at sf0.1: edge-join 6.3-7.7s vs grouped
    # 7.1-9.5s, identical output. Six iterations over ONE direction is
    # where grouping pays (pagerank); two directions at three
    # iterations each is where it does not.
    # a0 has exactly one consumer (the first half-step's broadcast
    # build), so no pin: it folds into that job.
    a = e.select("p").distinct().select(
        F.col("p").alias("node"), F.lit(_HITS_SCALE).cast("long").alias("s")
    )
    h = None
    for _ in range(_HITS_ITERS):
        # Each half-step broadcasts the node-scale score frame, so the
        # edge list is never shuffled (tests/test_plans.py pins this).
        # The raw frame feeds the normalizing max and the next half-step.
        hraw = pin(
            e.join(F.broadcast(a.withColumnRenamed("node", "p")), "p")
            .groupBy("o")
            .agg(F.sum("s").alias("raw"))
        )
        hmax = hraw.agg(F.max("raw").alias("mx"))
        h = (
            hraw.crossJoin(F.broadcast(hmax))
            .select(F.col("o").alias("node"), F.expr(f"raw * {_HITS_SCALE} div mx").alias("s"))
        )
        araw = pin(
            e.join(F.broadcast(h.withColumnRenamed("node", "o")), "o")
            .groupBy("p")
            .agg(F.sum("s").alias("raw"))
        )
        amax = araw.agg(F.max("raw").alias("mx"))
        a = (
            araw.crossJoin(F.broadcast(amax))
            .select(F.col("p").alias("node"), F.expr(f"raw * {_HITS_SCALE} div mx").alias("s"))
        )
    def _top(df: DataFrame, side: str) -> DataFrame:
        t = df.orderBy(F.col("s").desc(), "node").limit(_HITS_TOPK)
        w = Window.orderBy(F.col("s").desc(), "node")
        return t.select(
            F.lit(side).alias("side"),
            "node",
            F.col("s").alias("score_fp"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
    return _top(a, "authority").unionByName(_top(h, "hub"))


# --- Personalized PageRank from a seed part set -----------------------------

_PPR_NSEEDS = 10


def _ppr_oracle() -> str:
    """Unrolled personalized power iteration (the _pagerank_oracle
    rationale); the teleport term is CASE-gated to the seed set — the
    _PPR_NSEEDS lowest part keys present in the co-purchase graph."""
    chain = _pr_steps(
        f"CAST({_PR_BASE} AS BIGINT)\n"
        f"             * CASE WHEN a.dst IN (SELECT node FROM seeds) THEN 1 ELSE 0 END\n"
        f"           + ({G.PR_DAMP_NUM} * SUM(r.r // a.deg)) // {G.PR_DAMP_DEN}"
    )
    return f"""
WITH pairs AS MATERIALIZED (
    SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                    greatest(a.l_partkey, b.l_partkey) AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
sym AS (
    SELECT u AS src, v AS dst FROM pairs
    UNION ALL
    SELECT v AS src, u AS dst FROM pairs
),
deg AS (
    SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src
),
adj AS MATERIALIZED (
    SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d USING (src)
),
seeds AS MATERIALIZED (
    SELECT src AS node FROM deg ORDER BY src LIMIT {_PPR_NSEEDS}
),
r0 AS (
    SELECT src AS node, CAST({G.PR_SCALE} AS BIGINT) AS r FROM deg
),
{chain}
SELECT node AS part, CAST(r AS BIGINT) AS rank_fp,
       CAST(node IN (SELECT node FROM seeds) AS BOOLEAN) AS is_seed, rk
FROM (
    SELECT node, r, row_number() OVER (ORDER BY r DESC, node) AS rk
    FROM r{G.PR_ITERS}
) t
WHERE rk <= {_PR_TOPK}
"""


@register(
    "personalized_pagerank_copurchase",
    tags=("ext", "graph", "iterative"),
    oracle=_ppr_oracle(),
)
def personalized_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the co-purchase graph, teleporting
    only to the 10 lowest part keys — "what sells NEAR this product
    family", the recommendation/candidate-expansion read the global
    ``pagerank_copurchase`` can't give (its walk restarts everywhere,
    so it measures popularity, not proximity).

    Kernel: operators/graph.py ``pagerank`` with ``seeds`` — the same
    grouped, width-bounded, pinned-adjacency integer power iteration
    with the teleport term gated to the broadcast seed set. Top-20 with
    an is_seed marker; seeds rank high (they receive all restart mass)
    but non-seed neighbors earning walk mass is the signal."""
    li = load_table(spark, sf_dir, "lineitem")
    # In-row pair generation gives u < v. The pairs feed both the
    # kernel's sym and the seed derivation.
    pairs = pin(_order_part_pairs(li.select("l_orderkey", "l_partkey")).select("u", "v").distinct())
    nodes = (
        pairs.select(F.col("u").alias("node"))
        .unionByName(pairs.select(F.col("v").alias("node")))
        .distinct()
    )
    seeds = pin(nodes.orderBy("node").limit(_PPR_NSEEDS))
    seed_mark = seeds.select(F.col("node").alias("part"), F.lit(True).alias("_s"))
    return (
        _top_parts(G.pagerank(pairs, seeds))
        .join(F.broadcast(seed_mark), "part", "left")
        .select("part", "rank_fp", F.coalesce("_s", F.lit(False)).alias("is_seed"), "rk")
    )


_ASSORT_ORACLE = """
WITH pairs AS MATERIALIZED (
    SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                    greatest(a.l_partkey, b.l_partkey) AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS MATERIALIZED (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
    GROUP BY node
),
directed AS (
    SELECT u AS a, v AS b FROM pairs UNION ALL SELECT v, u FROM pairs
),
mo AS (
    SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
           CAST(SUM(da.deg) AS DECIMAL(38,0)) AS sx,
           CAST(SUM(db.deg) AS DECIMAL(38,0)) AS sy,
           CAST(SUM(da.deg * db.deg) AS DECIMAL(38,0)) AS sxy,
           CAST(SUM(da.deg * da.deg) AS DECIMAL(38,0)) AS sxx,
           CAST(SUM(db.deg * db.deg) AS DECIMAL(38,0)) AS syy
    FROM directed JOIN deg da ON da.node = directed.a JOIN deg db ON db.node = directed.b
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       CAST(sx AS BIGINT) AS sum_deg,
       CAST(sxy AS BIGINT) AS sum_deg_prod,
       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
            ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       END AS assortativity
FROM mo
"""


@register("degree_assortativity_copurchase", tags=("ext", "graph", "stats"), oracle=_ASSORT_ORACLE)
def degree_assortativity_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph: the Pearson
    correlation of endpoint degrees over the symmetrized edge list —
    POSITIVE r means hub parts co-occur with other hubs (assortative
    mixing), NEGATIVE means hubs attach to the periphery. The standard
    one-number mixing summary (Newman 2002) the triangle census lacks,
    and the quantity that predicts whether degree-based partitioning
    salts will help a skewed self-join downstream.

    Plan shape: the same per-order pair enumeration as
    ``copurchase_triangle_stats`` (quadratic only in order size), one
    degree aggregate, degrees BROADCAST onto the doubled edge list
    (the edge stream is never shuffled), then a single global moment
    aggregate — 6 numbers cross the final exchange. Moments accumulate
    in DECIMAL(38,0) (Spark) / DECIMAL(38,0) (DuckDB): n * sxx is ~21
    digits at sf1, past int64 but exact in decimal on both engines;
    each combination term crosses to double through ONE scale-0
    conversion, then the single correlation division + sqrt happens in
    the same literal order in both engines (round 6). Zero-variance
    degenerate graphs yield NULL by explicit CASE."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = pin(_order_part_pairs(li).select("u", "v").distinct())
    deg = G.degrees(pairs)
    directed = pairs.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        pairs.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dx"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("dy"))
    joined = directed.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    dec = "decimal(38,0)"
    mo = joined.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("dx").cast(dec).alias("sx"),
        F.sum("dy").cast(dec).alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast(dec).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast(dec).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast(dec).alias("syy"),
    )
    nvar_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    nvar_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mo.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.col("sx").cast("long").alias("sum_deg"),
        F.col("sxy").cast("long").alias("sum_deg_prod"),
        F.when((nvar_x == 0) | (nvar_y == 0), F.lit(None).cast("double"))
        .otherwise(
            F.round(
                num.cast("double") / F.sqrt(nvar_x.cast("double") * nvar_y.cast("double")), 6
            )
        )
        .alias("assortativity"),
    )


_TRIPLES_MINSUP = 2

_TRIPLES_ORACLE = f"""
WITH baskets AS MATERIALIZED (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_total FROM baskets
),
tri AS (
    SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
           CAST(COUNT(*) AS BIGINT) AS n_support
    FROM baskets a
    JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    JOIN baskets c ON a.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
    GROUP BY 1, 2, 3
    HAVING COUNT(*) >= {_TRIPLES_MINSUP}
)
SELECT p1, p2, p3, n_support, n_total,
       n_support * 1000000 // n_total AS support_ppm
FROM tri CROSS JOIN n_orders
"""


@register("apriori_triple_itemsets", tags=("ext", "graph", "basket"), oracle=_TRIPLES_ORACLE)
def apriori_triple_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets (support >= 2), the level
    the pair-grain ``basket_lift_top_pairs`` stops below — the smallest
    instance of the a-priori lattice climb every market-basket /
    co-occurrence miner needs.

    The ORACLE counts triples directly (the answer is defined by the
    data); the SPARK PLAN is the scale path: a-priori pruning. Every
    frequent triple's three sub-pairs are frequent (downward closure),
    so the plan (1) counts pairs once, (2) keeps the frequent-pair set
    — 3-4 orders of magnitude smaller than the pair set at any scale —
    and (3) re-derives candidate triples ONLY from order-pair
    occurrences that are themselves frequent pairs, checking the two
    remaining sub-pairs by broadcast semi-joins before the final count.
    At 100 TB the unpruned triple join is sum C(basket, 3) rows —
    bounded per order but dominated by never-frequent junk; the pruned
    plan's intermediate is proportional to FREQUENT-pair occurrences
    (the broadcastable frequent-pair list is KBs), which is the whole
    point of a-priori. Counts and support_ppm are exact integers."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = pin(li.select("l_orderkey", "l_partkey").distinct())
    n_total_df = baskets.agg(F.count_distinct("l_orderkey").cast("long").alias("n_total"))
    a, b, c = baskets.alias("a"), baskets.alias("b"), baskets.alias("c")
    # (order, p1, p2) pair occurrences, counted once.
    occ2 = pin(a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_orderkey").alias("ok"),
        F.col("a.l_partkey").alias("p1"),
        F.col("b.l_partkey").alias("p2"),
    ))
    freq2 = (
        occ2.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _TRIPLES_MINSUP)
        .select("p1", "p2")
    )
    # Candidate stems: occurrences of FREQUENT pairs only.
    stems = occ2.join(F.broadcast(freq2), ["p1", "p2"], "left_semi")
    cand = stems.join(
        c,
        (F.col("ok") == F.col("c.l_orderkey")) & (F.col("p2") < F.col("c.l_partkey")),
    ).select("p1", "p2", F.col("c.l_partkey").alias("p3"))
    # Downward closure on the two remaining sub-pairs.
    f13 = freq2.select(F.col("p1").alias("p1"), F.col("p2").alias("p3"))
    f23 = freq2.select(F.col("p1").alias("p2"), F.col("p2").alias("p3"))
    pruned = cand.join(F.broadcast(f13), ["p1", "p3"], "left_semi").join(
        F.broadcast(f23), ["p2", "p3"], "left_semi"
    )
    tri = (
        pruned.groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_support"))
        .filter(F.col("n_support") >= _TRIPLES_MINSUP)
    )
    return tri.crossJoin(F.broadcast(n_total_df)).select(
        "p1",
        "p2",
        "p3",
        "n_support",
        "n_total",
        (F.col("n_support") * 1_000_000 / F.col("n_total")).cast("long").alias("support_ppm"),
    )


_BFS_HOPS = 6


def _bfs_oracle(max_h: int = _BFS_HOPS) -> str:
    ctes = [
        """pairs AS MATERIALIZED (
    SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                    greatest(a.l_partkey, b.l_partkey) AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)""",
        "edges AS MATERIALIZED (SELECT u AS a, v AS b FROM pairs UNION ALL SELECT v, u FROM pairs)",
        "l0 AS MATERIALIZED (SELECT CAST(MIN(u) AS BIGINT) AS node FROM pairs)",
    ]
    visited = ["SELECT node FROM l0"]
    for i in range(1, max_h + 1):
        vprev = " UNION ".join(visited)
        # MATERIALIZED is load-bearing: l{i} references l{i-1} AND the
        # union of ALL earlier levels; DuckDB inlines non-materialized
        # CTEs per reference, so the expansion compounds exponentially
        # over the hops (sf1: spilled past the container's disk before
        # the fix — same failure as the HITS chain).
        ctes.append(
            f"l{i} AS MATERIALIZED (SELECT DISTINCT e.b AS node FROM edges e"
            f" JOIN l{i - 1} p ON e.a = p.node"
            f" WHERE e.b NOT IN (SELECT node FROM ({vprev}) t))"
        )
        visited.append(f"SELECT node FROM l{i}")
    levels = " UNION ALL ".join(
        f"SELECT {i} AS level, node FROM l{i}" for i in range(0, max_h + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + f""",
lv AS ({levels})
SELECT CAST(level AS BIGINT) AS level,
       CAST(COUNT(*) AS BIGINT) AS n_first_reached,
       CAST(SUM(COUNT(*)) OVER (ORDER BY level) AS BIGINT) AS cum_reached
FROM lv GROUP BY level"""
    )


@register("bfs_hop_profile_copurchase", tags=("ext", "graph", "iterative"), oracle=_bfs_oracle())
def bfs_hop_profile_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability profile of the part co-purchase
    graph from a deterministic source (the lowest part id): how many
    nodes are FIRST reached at each hop count 0..6, with the running
    total — the distributed BFS kernel (frontier expansion) the graph
    suite lacked next to its fixed-point iterations (PageRank/HITS)
    and peeling loops (k-core). The hop histogram is the practical
    small-world/diameter readout: if cum_reached plateaus before hop
    6, the plateau IS the source's connected component.

    Plan shape: classic frontier BFS — per hop, one join of the
    CURRENT FRONTIER (shrinking) against the edge list, a distinct,
    and an anti-join against the visited set; both frontier and
    visited are node-sized (never edge-sized), and each round's
    outputs are pinned so round k+1 does not replay
    rounds 1..k (the pagerank loop discipline). Hop count is fixed at
    6 — on a co-purchase projection the frontier saturates in 2-3 hops
    (small-world), so the loop is effectively bounded regardless of
    graph size; the oracle unrolls the same 6 rounds as chained CTEs.
    All counts exact integers."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = pin(_order_part_pairs(li).select("u", "v").distinct())
    edges = pin(pairs.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ))
    frontier = pin(pairs.agg(F.min("u").alias("node")))
    visited = frontier
    out = [frontier.select(F.lit(0).cast("long").alias("level"), "node")]
    for lvl in range(1, _BFS_HOPS + 1):
        nxt = pin(
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        out.append(nxt.select(F.lit(lvl).cast("long").alias("level"), "node"))
        visited = pin(visited.unionAll(nxt))
        frontier = nxt
    lv = out[0]
    for o in out[1:]:
        lv = lv.unionAll(o)
    counts = lv.groupBy("level").agg(F.count(F.lit(1)).cast("long").alias("n_first_reached"))
    # Running total over the <=7-row hop histogram: the shared
    # parameter-sized triangle-join idiom (operators/ranks.py) instead
    # of an unpartitioned Window, keeping the single-partition-Window
    # warning out of every graph plan.
    from flinkstreametl_spark.operators.ranks import prefix_sum_small

    return prefix_sum_small(counts, "level", "n_first_reached", "cum_reached").select(
        "level", "n_first_reached", F.col("cum_reached").cast("long").alias("cum_reached")
    )
