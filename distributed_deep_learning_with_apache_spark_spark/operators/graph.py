"""Iterative graph centrality over the TPC-H purchase graph ([EXT]).

The reference's closest artifact is its iterative training loops (repeated
passes over a distributed dataset with a small global state update per
pass); PageRank is the same execution shape applied to a graph — the
canonical "iterative joins + one scalar reduce per round" Spark workload,
and the standard importance measure a data-curation pipeline uses to
weight sources (e.g. page/domain rank as a quality prior for web corpora).

Scale posture: each iteration is one key-partitioned equi-join of the
(static, checkpointed) edge list with the current rank vector plus a
map-side-combinable sum — no cartesian, no broadcast of anything
data-proportional. The dangling-mass term rides the same plan as a
broadcast singleton aggregate (one row), so each round is exactly one
Spark job with no driver sync. Lineage is truncated with an eager
localCheckpoint per round
(the standard iterative-Spark discipline — see
`connected_components_logstar` for the pitfall it avoids); on a cluster
this would be `checkpoint()` against reliable storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_table, local_frame

PR_ITERS = 10
PR_DAMPING = 0.85
PR_TOP = 20


def pagerank(edges: DataFrame, iters: int = PR_ITERS, damping: float = PR_DAMPING) -> DataFrame:
    """Power-iteration PageRank over a directed edge list ``(src, dst)``.

    Returns ``(node, rank)`` for every node. Dangling nodes (no
    out-edges) redistribute their mass uniformly each round — the
    standard formulation, which keeps ``sum(rank) == 1`` exactly (pinned
    against a numpy reference in tests/test_graph.py). Deterministic up
    to floating-point summation order; consumers round before comparing.
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return local_frame(spark, [], "node string, rank double")
    # Degree is static: attach it to the edge list once, outside the loop.
    ed = (
        e.join(out_deg, "src")
        .select("src", "dst", "deg")
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contrib = (
            ed.join(ranks, ed.src == ranks.node)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        # Dangling mass: rank held by nodes with no out-edges, folded into
        # the SAME plan as a broadcast singleton aggregate (1 row) instead
        # of a driver-side scalar reduce — one Spark job per iteration,
        # no per-round driver sync.
        dang = (
            ranks.join(out_deg, ranks.node == out_deg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left_outer")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("dmass") / F.lit(float(n))
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


PR_SCALE = 10**12  # fixed-point denominator: rank is held as rank*1e12 BIGINT
PR_D_NUM, PR_D_DEN = 85, 100  # damping 0.85 as an exact integer ratio


def pagerank_fixedpoint(
    edges: DataFrame, iters: int = PR_ITERS, scale: int = PR_SCALE
) -> DataFrame:
    """Power-iteration PageRank in integer FIXED-POINT arithmetic: ranks
    are scaled BIGINTs (rank × 1e12), every per-edge share and damping
    step is integer division, every aggregate is an exact integer sum.

    Why this variant exists alongside the float `pagerank`: float sums
    are accumulation-order-dependent, so no float power iteration can be
    hash-checked against another engine — whereas every integer op here
    is defined identically in Spark and DuckDB, making the result
    bit-exact and ORDER-INDEPENDENT (the same cross-engine discipline as
    the repo's cent-scaled revenue aggregates). The quantization error
    vs the float ranks is ≤ ~(3·iters)/scale ≈ 3e-11 absolute (pinned
    vs the float implementation in tests/test_graph.py).

    Same scale posture as `pagerank`: per round one key-partitioned
    edge⋈rank join + map-side-combinable integer sum, dangling mass as a
    broadcast singleton, localCheckpoint lineage truncation.
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return local_frame(spark, [], "node string, rank long")
    ed = e.join(out_deg, "src").select("src", "dst", "deg").localCheckpoint(eager=True)
    ranks = nodes.select("node", F.lit(scale // n).cast("long").alias("rank"))
    base = (PR_D_DEN - PR_D_NUM) * scale // (PR_D_DEN * n)
    for _ in range(iters):
        contrib = (
            ed.join(ranks, ed.src == ranks.node)
            .select("dst", F.expr("rank DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("contrib"))
        )
        dang = (
            ranks.join(out_deg, ranks.node == out_deg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dmass"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left_outer")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(f"({PR_D_NUM} * dmass) DIV ({PR_D_DEN} * {n})")
                    + F.expr(f"({PR_D_NUM} * coalesce(contrib, 0)) DIV {PR_D_DEN}")
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def _pagerank_oracle(iters: int = PR_ITERS, scale: int = PR_SCALE, top: int = PR_TOP) -> str:
    """Unrolled fixed-point power iteration as plain DuckDB SQL — one CTE
    per round (a recursive CTE can reference its working table only once
    per step, but each round here needs it three times: contrib join,
    dangling sum, rank rebuild). Arithmetic mirrors `pagerank_fixedpoint`
    op-for-op in BIGINT, so the driver hash must match exactly."""
    parts = [
        f"""
        WITH e AS MATERIALIZED (
          SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
        nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        r0 AS MATERIALIZED (
          SELECT node, CAST({scale} // (SELECT n FROM nn) AS BIGINT) AS rank
          FROM nodes
        )"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
        c{k} AS MATERIALIZED (
          SELECT e.dst AS node,
                 CAST(sum(r.rank // d.deg) AS BIGINT) AS contrib
          FROM e JOIN r{k - 1} r ON r.node = e.src
                 JOIN deg d ON d.src = e.src
          GROUP BY e.dst
        ),
        d{k} AS MATERIALIZED (
          SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) AS dmass
          FROM r{k - 1} WHERE node NOT IN (SELECT src FROM deg)
        ),
        r{k} AS MATERIALIZED (
          SELECT nodes.node,
                 CAST(({PR_D_DEN - PR_D_NUM} * {scale}) // ({PR_D_DEN} * (SELECT n FROM nn))
                      + ({PR_D_NUM} * (SELECT dmass FROM d{k})) // ({PR_D_DEN} * (SELECT n FROM nn))
                      + ({PR_D_NUM} * coalesce(c{k}.contrib, 0)) // {PR_D_DEN}
                   AS BIGINT) AS rank
          FROM nodes LEFT JOIN c{k} ON c{k}.node = nodes.node
        )"""
        )
    parts.append(
        f"""
        SELECT node,
               CAST(rank AS BIGINT) AS pagerank_e12,
               CAST(row_number() OVER (ORDER BY rank DESC, node ASC) AS INT) AS rnk
        FROM r{iters}
        ORDER BY rank DESC, node ASC
        LIMIT {top}"""
    )
    return "".join(parts)


@register(
    "pagerank_purchase_graph",
    oracle=_pagerank_oracle(),
    doc="Fixed-point PageRank over the purchase graph, hash-checked against a 10-round unrolled DuckDB power iteration (integer arithmetic — order-independent, so cross-engine bit-exact).",
    tags=("graph", "iterative", "ext", "scale"),
)
def pagerank_purchase_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer→supplier purchase graph: an edge means
    "customer bought a lineitem this supplier fulfilled" (orders ⋈
    lineitem, deduplicated). Customers endorse suppliers; suppliers are
    dangling (no out-edges), so their mass redistributes uniformly —
    ranking suppliers by how much purchase attention flows to them while
    customers stay near the uniform floor.

    Ranks are fixed-point BIGINTs (rank × 1e12, `pagerank_fixedpoint`),
    which is what makes the DuckDB oracle hash-exact: integer sums are
    accumulation-order-independent where float sums are not.

    Top-k extraction is sort+limit (TakeOrderedAndProject — executor-side
    partial top-k, no global single-partition window); the row_number
    ranks only the k survivors.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.concat(F.lit("c"), "o_custkey").alias("src"),
        F.concat(F.lit("s"), "l_suppkey").alias("dst"),
    )
    ranks = pagerank_fixedpoint(edges)
    top = ranks.orderBy(F.col("rank").desc(), F.col("node").asc()).limit(PR_TOP)
    w = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    return top.select(
        "node",
        F.col("rank").alias("pagerank_e12"),
        F.row_number().over(w).alias("rnk"),
    )


# ---------------------------------------------------------------------------
# [EXT r5] Triangle counting over the co-purchase part graph
# ---------------------------------------------------------------------------
TRI_MIN_SUPPORT = 2  # parts must co-occur in >= this many distinct orders


@register(
    "triangle_count_copurchase",
    oracle=f"""
        WITH po AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        pairs AS (
          SELECT a.p AS u, b.p AS v FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
        ),
        edges AS (
          SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= {TRI_MIN_SUPPORT}
        ),
        tri AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM edges e1
          JOIN edges e2 ON e1.v = e2.u
          JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
               (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles,
               (SELECT CAST(count(DISTINCT x) AS BIGINT) FROM (
                  SELECT a AS x FROM tri
                  UNION SELECT b FROM tri
                  UNION SELECT c FROM tri)) AS n_tri_nodes
    """,
    doc="Triangle count on the support-filtered co-purchase part graph: id-oriented edges (u<v) make each triangle enumerable exactly once by two equi-joins; support >= 2 is the density control.",
    tags=("graph", "ext"),
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count triangles in the part co-purchase graph (parts that co-occur
    in >= TRI_MIN_SUPPORT distinct orders are connected). The classic
    distributed formulation: orient every edge low-id -> high-id, join
    edges on the shared middle node to enumerate wedges (a<b<c by
    construction, so each triangle appears exactly once), then close each
    wedge with a third equi-join — three shuffle joins, no cartesian.

    Scale: the support threshold is the density control — random
    co-occurrence rarely repeats, so edges collapse from ~1.2M raw pairs
    to ~3.6k at sf0.1 and the wedge join is tiny. On a power-law graph
    the production refinement is DEGREE orientation (orient toward the
    higher-degree endpoint), which bounds per-node wedge fan-out by
    O(sqrt(m)); id orientation is used here because the support-filtered
    graph is near-uniform. The per-order pair expansion is bounded by the
    ~7 lineitems/order TPC-H shape (<= 21 pairs/order before dedup).
    """
    po = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = po.alias("a"), po.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= TRI_MIN_SUPPORT)
        .select("u", "v")
        .localCheckpoint(eager=True)  # reused three times below
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c"))
        .join(e3, (F.col("a") == F.col("e3.u")) & (F.col("c") == F.col("e3.v")))
        .select("a", "b", "c")
    )
    tri_nodes = (
        tri.select(F.col("a").alias("x"))
        .union(tri.select("b"))
        .union(tri.select("c"))
        .distinct()
    )
    return (
        edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .crossJoin(tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))
        .crossJoin(tri_nodes.agg(F.count(F.lit(1)).cast("long").alias("n_tri_nodes")))
    )


# ---------------------------------------------------------------------------
# [EXT r6] Bounded-hop BFS shortest paths over the co-purchase graph
# ---------------------------------------------------------------------------
BFS_MAX_HOPS = 4


def _bfs_oracle(hops: int = BFS_MAX_HOPS, min_support: int = TRI_MIN_SUPPORT) -> str:
    """Unrolled BFS relaxation as DuckDB SQL — MATERIALIZED per round for
    the same 3^k-inlining reason as `_pagerank_oracle` (d{k} references
    d{k-1} twice). A recursive CTE is unusable here anyway: the graph has
    cycles and Spark-portable recursion is UNION ALL only (no fixpoint
    dedup), which would loop forever."""
    parts = [
        f"""
        WITH po AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        edges AS MATERIALIZED (
          SELECT a.p AS u, b.p AS v FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
          GROUP BY a.p, b.p HAVING count(*) >= {min_support}
        ),
        sym AS MATERIALIZED (
          SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
        ),
        d0 AS MATERIALIZED (
          SELECT min(u) AS node, 0 AS dist FROM edges
        )"""
    ]
    for k in range(1, hops + 1):
        parts.append(
            f""",
        d{k} AS MATERIALIZED (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d{k - 1}
            UNION ALL
            SELECT sym.v AS node, d{k - 1}.dist + 1 AS dist
            FROM d{k - 1} JOIN sym ON sym.u = d{k - 1}.node
          ) GROUP BY node
        )"""
        )
    parts.append(
        f"""
        SELECT node AS part, CAST(dist AS BIGINT) AS dist
        FROM d{hops} WHERE (SELECT count(*) FROM edges) > 0"""
    )
    return "".join(parts)


@register(
    "shortest_paths_bfs",
    oracle=_bfs_oracle(),
    doc="Bounded-hop BFS (4 rounds of frontier relaxation) from the min-id part over the support-filtered co-purchase graph, hash-checked against an unrolled MATERIALIZED-CTE relaxation.",
    tags=("graph", "iterative", "ext", "scale"),
)
def shortest_paths_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest hop distances (≤ BFS_MAX_HOPS) from the
    lowest part id over the undirected, support-filtered co-purchase
    graph (same edge build as `triangle_count_copurchase`). Per round one
    key-partitioned frontier⋈edges join + a min-combine — integer
    distances, so the cross-engine hash is exact with no FP discipline
    needed. Bellman-Ford-style relaxation keeps the whole reachable set
    in the frame (min over old∪new), which is idempotent past
    convergence — a fixed round count can't overshoot.

    Scale: the frontier never exceeds the reachable node set; each round
    shuffles |dist| + |frontier⋈edges| rows on node id,
    localCheckpointed like the pagerank loop. The hop bound is the
    production guard for power-law graphs where hop-5 would touch the
    whole corpus (friend-of-friend queries stop at 2-3 for the same
    reason).
    """
    po = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = po.alias("a"), po.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= TRI_MIN_SUPPORT)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    if edges.limit(1).count() == 0:
        return local_frame(spark, [], "part long, dist long")
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    dist = edges.agg(F.min("u").alias("node")).select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    for _ in range(BFS_MAX_HOPS):
        relaxed = (
            dist.join(sym, dist.node == sym.u)
            .select(F.col("v").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.union(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist.select(F.col("node").alias("part"), F.col("dist").cast("long").alias("dist"))


# ---------------------------------------------------------------------------
# [EXT r7] Item-item cosine collaborative filtering: exact co-occurrence
# similarity over the co-purchase bipartite graph — the deterministic,
# hash-checkable recommender beside the iterative ALS factorization.
# ---------------------------------------------------------------------------
II_TOP_N = 3
II_MIN_CO = 2  # ignore pairs co-bought fewer than 2 times (noise floor)
II_SIM_SCALE = 1_000_000


@register(
    "item_item_cosine_recs",
    oracle=f"""
        WITH items AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        cnt AS (
          SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
          FROM items GROUP BY l_partkey
        ),
        co AS (
          SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                 CAST(count(*) AS BIGINT) AS co
          FROM items a JOIN items b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2
        ),
        sym AS (
          SELECT pa AS item, pb AS partner, co FROM co WHERE co >= {II_MIN_CO}
          UNION ALL
          SELECT pb, pa, co FROM co WHERE co >= {II_MIN_CO}
        ),
        scored AS (
          SELECT s.item, s.partner, s.co,
                 floor(s.co / sqrt(ci.c * cj.c) * {II_SIM_SCALE} + 0.5)
                   / {II_SIM_SCALE} AS sim
          FROM sym s
          JOIN cnt ci ON ci.l_partkey = s.item
          JOIN cnt cj ON cj.l_partkey = s.partner
        )
        SELECT item, partner, co, sim
        FROM scored
        QUALIFY row_number() OVER (PARTITION BY item
                                   ORDER BY sim DESC, partner ASC) <= {II_TOP_N}
    """,
    doc=f"Item-item cosine similarity over the order co-purchase graph: sim(i,j) = co(i,j)/sqrt(c_i*c_j), top-{II_TOP_N} partners per part — the exact neighborhood recommender, hash-checked (vs ALS's iterative rows-only factors).",
    tags=("graph", "recommend", "similarity", "ext", "scale"),
)
def item_item_cosine_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Amazon-style item-to-item recommender (Linden et al., IEEE
    Internet Computing '03): parts bought together in the same order get
    cosine similarity co(i,j)/sqrt(c_i·c_j) over the binary
    order-incidence vectors, and each part keeps its top-N partners.
    Complements `ml_als_recommend`: ALS generalizes (latent factors,
    rows-only check), this memorizes (exact counts, hash-checked) — the
    pairing production recommenders ship.

    Determinism: similarity is integer counts + one sqrt/divide on
    identical doubles, half-up-quantized to 1e-6 BEFORE ranking; rank
    ties break on partner key, so the top-N is engine-exact.

    Scale: the co-occurrence join is WITHIN-order (per-basket pairs, work
    ∝ Σ basket² — baskets are bounded at ~7 lineitems in TPC-H and by
    cart size in reality, never corpus-quadratic); counts are map-side
    combinable; top-N per item is WindowGroupLimit. The same plan at
    100 TB broadcast-joins the (small) per-item count table into the
    pair stream. Reference ancestry: the co-purchase edge build of
    `triangle_count_copurchase` (graph.py) reused as a scored bipartite
    projection.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a, b = items.alias("a"), items.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
        .filter(F.col("co") >= II_MIN_CO)
    )
    sym = co.select(
        F.col("pa").alias("item"), F.col("pb").alias("partner"), "co"
    ).unionByName(co.select(F.col("pb").alias("item"), F.col("pa").alias("partner"), "co"))
    ci = cnt.select(F.col("l_partkey").alias("item"), F.col("c").alias("ci"))
    cj = cnt.select(F.col("l_partkey").alias("partner"), F.col("c").alias("cj"))
    scored = (
        sym.join(ci, "item")
        .join(cj, "partner")
        .select(
            "item",
            "partner",
            "co",
            (
                F.floor(
                    F.col("co") / F.sqrt(F.col("ci") * F.col("cj")) * II_SIM_SCALE
                    + 0.5
                )
                / II_SIM_SCALE
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.col("sim").desc(), F.col("partner").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= II_TOP_N)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# [EXT r7] k-core decomposition (fixed-round peel) on the co-purchase
# graph — the density filter community detection and fraud pipelines run.
# ---------------------------------------------------------------------------
KCORE_K = 2
KCORE_ROUNDS = 4


def _kcore_peel_round(sym: DataFrame) -> DataFrame:
    """One k-core peel round: drop every edge touching a node whose
    current degree is < KCORE_K. The survivor set is UNBOUNDED (first
    rounds keep nearly every node), so the semi-joins are deliberately
    unhinted — AQE broadcasts small survivor sets at runtime and shuffles
    large ones, instead of a forced F.broadcast OOMing the driver at
    100 TB (r7 verdict finding #1)."""
    keep = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= KCORE_K)
        .select(F.col("u").alias("n"))
    )
    return sym.join(keep, sym.u == keep.n, "left_semi").join(
        keep.select(F.col("n").alias("n2")),
        F.col("v") == F.col("n2"),
        "left_semi",
    )


@register(
    "kcore_copurchase",
    oracle=f"""
        WITH po AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        pairs AS (
          SELECT a.p AS u, b.p AS v FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
        ),
        edges AS (
          SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= {TRI_MIN_SUPPORT}
        ),
        s0 AS MATERIALIZED (
          SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
        ),
        k1 AS MATERIALIZED (SELECT u AS n FROM s0 GROUP BY u
                            HAVING count(*) >= {KCORE_K}),
        s1 AS MATERIALIZED (SELECT s.u, s.v FROM s0 s
                            JOIN k1 a ON a.n = s.u JOIN k1 b ON b.n = s.v),
        k2 AS MATERIALIZED (SELECT u AS n FROM s1 GROUP BY u
                            HAVING count(*) >= {KCORE_K}),
        s2 AS MATERIALIZED (SELECT s.u, s.v FROM s1 s
                            JOIN k2 a ON a.n = s.u JOIN k2 b ON b.n = s.v),
        k3 AS MATERIALIZED (SELECT u AS n FROM s2 GROUP BY u
                            HAVING count(*) >= {KCORE_K}),
        s3 AS MATERIALIZED (SELECT s.u, s.v FROM s2 s
                            JOIN k3 a ON a.n = s.u JOIN k3 b ON b.n = s.v),
        k4 AS MATERIALIZED (SELECT u AS n FROM s3 GROUP BY u
                            HAVING count(*) >= {KCORE_K}),
        s4 AS MATERIALIZED (SELECT s.u, s.v FROM s3 s
                            JOIN k4 a ON a.n = s.u JOIN k4 b ON b.n = s.v)
        SELECT u AS part, CAST(count(*) AS BIGINT) AS core_degree
        FROM s4 GROUP BY u
    """,
    doc=f"{KCORE_K}-core of the support-filtered co-purchase graph by {KCORE_ROUNDS} fixed peel rounds (degree-<k nodes and their edges removed each round) — both engines run EXACTLY the same round count, so the hash is exact whether or not the peel has converged.",
    tags=("graph", "iterative", "ext", "scale"),
)
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition — the density filter behind community
    detection, spam/fraud ring mining, and graph sparsification: peel
    nodes with degree < k, re-check, repeat. Shares the triangle
    counter's support-filtered co-purchase edges, and the fixed-point
    family's determinism contract (pagerank/BFS, r6): BOTH engines run
    EXACTLY KCORE_ROUNDS peel rounds — equality is per-round-exact and
    independent of convergence, while tests pin that the fixture graph
    HAS converged by round {KCORE_ROUNDS} (round N == round N-1), so the
    output is the true core, not an artifact of the cap.

    Scale: each round is one degree aggregate + two semi-joins — work is
    proportional to SURVIVING edges, which shrink monotonically; the
    round count needed in practice is small (peeling is not
    diameter-bound like BFS). localCheckpoint truncates the growing
    lineage exactly as in shortest_paths_bfs.

    The survivor semi-joins carry NO broadcast hint (r7 verdict #1): the
    early rounds' survivor set is O(|V|) — at 100 TB that is hundreds of
    millions of keys, and a forced broadcast would OOM. Left unhinted,
    AQE broadcasts when the runtime size is actually small and falls back
    to a shuffled semi-join when it isn't — the decision belongs to the
    planner, not the query. tests/test_r8_fixes.py gates that the peel
    step's plan carries no user broadcast hint and still executes.
    """
    po = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = po.alias("a"), po.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= TRI_MIN_SUPPORT)
        .select("u", "v")
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    for _ in range(KCORE_ROUNDS):
        sym = _kcore_peel_round(sym).localCheckpoint(eager=True)
    return sym.groupBy(F.col("u").alias("part")).agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )
