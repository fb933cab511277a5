"""Graph analytics over relational-derived edge lists: PageRank.

Companion to the connected-components dedup resolver
(``operators/graph.py``): PageRank is the standard importance measure a
curation pipeline uses to weight interlinked documents/domains (e.g.
CommonCrawl host graphs). Here the verifiable instance is the
nation-level trade graph (customer nation → supplier nation, weighted by
line-item count), but the operator is the distributed edges⋈ranks
formulation that runs unchanged on a billion-edge host graph.

Scale notes (100 TB): each iteration = one shuffle on src (ranks join),
one on dst (contribution sum); the node set and normalized edges are
checkpointed loop invariants. No driver-side graph, no per-iteration
collect — convergence here is a fixed iteration count (the oracle-exact
choice; the components operator shows the early-exit variant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import load_table
from flu_data_pipeline_spark.operators.dedup import tokenize
from flu_data_pipeline_spark.operators.graph import bfs_hops, kcore, pagerank
from flu_data_pipeline_spark.operators.materialize import barrier
from flu_data_pipeline_spark.plans.registry import register

#: Shared oracle fragment: the sparsified supplier co-supply graph.
#: Edge = two suppliers sharing a part, kept when the shared-part count
#: exceeds 1.1x the graph mean (data-relative, SF-invariant, float-safe:
#: the comparison is count vs AVG(count) — both exact small integers /
#: their exact mean on either engine). Used by triangle counting and BFS
#: so both query the *same* graph.
_COSUPPLY_EDGES_SQL = """
    sp AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), pairs AS (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v,
               CAST(COUNT(*) AS DOUBLE) AS shared
        FROM sp a
        JOIN sp b ON a.l_partkey = b.l_partkey
                 AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
    ), m AS (
        SELECT AVG(shared) AS avg_shared FROM pairs
    ), e AS MATERIALIZED (
        SELECT u, v FROM pairs, m WHERE shared > 1.1 * avg_shared
    )"""


def _cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :data:`_COSUPPLY_EDGES_SQL`: undirected (u < v)
    supplier pairs. The per-part pair fan-out is quadratic in
    suppliers-per-part; at 100 TB cap or salt the heaviest parts first
    (skew_salted_term_counts pattern)."""
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select("l_partkey", "l_suppkey").distinct()
    a, b = sp.alias("a"), sp.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("shared"))
    )
    avg = pairs.agg(F.avg("shared").alias("avg_shared"))
    return (
        pairs.crossJoin(F.broadcast(avg))
        .filter(F.col("shared") > 1.1 * F.col("avg_shared"))
        .select("u", "v")
    )

_D = 0.85
_ITERS = 3

#: One PageRank step as SQL: prev CTE -> next CTE. Mirrors
#: operators/graph.pagerank exactly: (1-d)/n + d·Σ p·rank, rounded to
#: 8dp per iteration so float sum order can never diverge engines.
def _step_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS (
        SELECT nodes.node,
               ROUND((1.0 - {_D}) / n + {_D} * COALESCE(m.mass, 0.0), 8)
                   AS rank
        FROM nodes CROSS JOIN nn LEFT JOIN (
            SELECT dst, SUM(p * rank) AS mass
            FROM nrm JOIN {prev} ON nrm.src = {prev}.node
            GROUP BY dst
        ) m ON nodes.node = m.dst
    )"""


_ORACLE = (
    """
    WITH e AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY src, dst
    ), nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION SELECT dst FROM e
        )
    ), nn AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ), nrm AS (
        SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM e
    ), r0 AS (
        SELECT node, ROUND(1.0 / n, 8) AS rank FROM nodes, nn
    ), """
    + ", ".join(_step_sql(f"r{i}", f"r{i + 1}") for i in range(_ITERS))
    + f"""
    SELECT n_name AS nation, rank
    FROM r{_ITERS} JOIN nation ON node = n_nationkey
    ORDER BY rank DESC, nation
    """
)


@register(
    "pagerank_trade_graph",
    oracle=_ORACLE,
    doc="Weighted PageRank (3 iterations, damping 0.85) over the "
    "customer-nation → supplier-nation trade graph, edge weight = "
    "line-item count. The operator (operators/graph.py:pagerank) is "
    "the distributed formulation — per iteration one src-shuffle "
    "(ranks⋈edges) and one dst-shuffle (contribution sum), node set "
    "and out-normalized edges checkpointed as loop invariants — sized "
    "for billion-edge host graphs; the 25-node instance makes it "
    "exactly checkable. Oracle = fully unrolled DuckDB CTEs with ranks "
    "rounded to 8dp each iteration (k-means oracle pattern), so the "
    "iterative algorithm is hash-compared exactly, not statistically.",
    tags=("graph", "pagerank", "J6", "A7"),
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")

    edges = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    ranks = pagerank(edges, damping=_D, iterations=_ITERS, round_dp=8)
    return (
        ranks.join(F.broadcast(nation), ranks["node"] == nation["n_nationkey"])
        .select(F.col("n_name").alias("nation"), "rank")
        .orderBy(F.col("rank").desc(), "nation")
    )


@register(
    "triangle_count_cosupply",
    oracle="WITH "
    + _COSUPPLY_EDGES_SQL
    + """, deg AS (
        SELECT x AS node, COUNT(*) AS d FROM (
            SELECT u AS x FROM e UNION ALL SELECT v FROM e
        ) GROUP BY x
    ), tri AS (
        SELECT COUNT(*) AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST(tri.c AS BIGINT) AS n_triangles
    FROM tri
    """,
    doc="Distributed triangle counting over the supplier co-supply graph "
    "(edge = two suppliers sharing a part, kept when the shared-part "
    "count exceeds 1.1x the graph mean — a data-relative sparsifier "
    "that is SF-invariant and float-safe on both engines). The Spark "
    "side uses the degree-ordered orientation (Schank's node-iterator): "
    "orient every edge from its lower-(degree,id) endpoint, enumerate "
    "wedges by self-joining oriented edges on source, then close them "
    "against the oriented edge set — wedge work is sum(out_deg^2) with "
    "out-degree bounded by sqrt(2m) on any graph, the standard "
    "O(m^1.5) bound that survives power-law skew where the naive "
    "orientation explodes on hub nodes. The oracle counts the same "
    "triangles by id-ordering (orientation-invariant total). Scale "
    "note: the per-part pair fan-out is quadratic in suppliers-per-"
    "part; at 100 TB cap or salt the heaviest parts first "
    "(skew_salted_term_counts pattern).",
    tags=("graph", "triangle", "J6", "A7", "A8"),
)
def triangle_count_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _cosupply_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Orient u→v by (degree, id): src = lower endpoint under that key.
    ed = (
        e.join(deg.withColumnsRenamed({"node": "u", "d": "du"}), "u")
        .join(deg.withColumnsRenamed({"node": "v", "d": "dv"}), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dst_deg"),
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(
        y,
        (F.col("x.src") == F.col("y.src"))
        & (
            (F.col("x.dst_deg") < F.col("y.dst_deg"))
            | (
                (F.col("x.dst_deg") == F.col("y.dst_deg"))
                & (F.col("x.dst") < F.col("y.dst"))
            )
        ),
    ).select(F.col("x.dst").alias("w_src"), F.col("y.dst").alias("w_dst"))
    closed = wedges.join(
        oriented.alias("z"),
        (F.col("w_src") == F.col("z.src")) & (F.col("w_dst") == F.col("z.dst")),
        "left_semi",
    )
    n_tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .select("n_nodes", "n_edges", "n_triangles")
    )


#: One BFS hop as SQL: visited-so-far CTE -> next CTE. Mirrors
#: operators/graph.bfs_hops: expand only the hop-(h-1) frontier through
#: the symmetrized edges, min-merge into the visited set.
def _hop_sql(prev: str, cur: str, hop: int) -> str:
    return f"""{cur} AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT sym.dst AS node, {hop} AS dist
            FROM sym JOIN {prev} f ON sym.src = f.node AND f.dist = {hop - 1}
        ) GROUP BY node
    )"""


_BFS_HOPS = 3

_BFS_ORACLE = (
    "WITH "
    + _COSUPPLY_EDGES_SQL
    + """, sym AS (
        SELECT u AS src, v AS dst FROM e
        UNION ALL
        SELECT v AS src, u AS dst FROM e
    ), h0 AS (
        SELECT MIN(u) AS node, 0 AS dist FROM e
    ), """
    + ", ".join(_hop_sql(f"h{i}", f"h{i + 1}", i + 1) for i in range(_BFS_HOPS))
    + f"""
    SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(node) AS min_suppkey, MAX(node) AS max_suppkey
    FROM h{_BFS_HOPS}
    GROUP BY dist
    ORDER BY dist
    """
)


@register(
    "bfs_khop_cosupply",
    oracle=_BFS_ORACLE,
    doc="K-hop BFS (k=3) over the sparsified supplier co-supply graph "
    "(same edge set as triangle_count_cosupply, via the shared "
    "_cosupply_edges helper), seeded at the minimum supplier key. The "
    "operator (operators/graph.py:bfs_hops) is distributed frontier "
    "expansion: each hop joins only the newly-reached frontier against "
    "the symmetrized edge list (one shuffle on the node key) and "
    "anti-joins the visited set — per-hop work tracks the frontier "
    "boundary, not the visited volume, which is what survives a "
    "billion-edge graph. Seeds are a 1-row DataFrame (no driver-side "
    "node list). Output is per-level reach counts with min/max node "
    "pins. Oracle = unrolled DuckDB CTEs, one per hop, expanding "
    "exactly the same frontier (pagerank/k-means unrolled-iteration "
    "pattern).",
    tags=("graph", "bfs", "J1", "A10", "D3"),
)
def bfs_khop_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _cosupply_edges(spark, sf_dir)
    seeds = e.agg(F.min("u").alias("node"))
    visited = bfs_hops(e, seeds, src="u", dst="v", max_hops=_BFS_HOPS)
    return (
        visited.groupBy("dist")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_suppkey"),
            F.max("node").alias("max_suppkey"),
        )
        .orderBy("dist")
    )


_KCORE_K = 3
_KCORE_ROUNDS = 4


#: One peeling round as SQL: survivors CTE -> next survivors CTE.
#: Mirrors operators/graph.kcore: restrict edges to the surviving node
#: set (both endpoints), recount degrees, keep nodes with degree >= k.
def _peel_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS MATERIALIZED (
        SELECT node FROM (
            SELECT e.u AS node FROM e
            JOIN {prev} pa ON e.u = pa.node
            JOIN {prev} pb ON e.v = pb.node
            UNION ALL
            SELECT e.v FROM e
            JOIN {prev} pa ON e.u = pa.node
            JOIN {prev} pb ON e.v = pb.node
        ) GROUP BY node HAVING COUNT(*) >= {_KCORE_K}
    )"""


_KCORE_ORACLE = (
    "WITH "
    + _COSUPPLY_EDGES_SQL
    + """, n0 AS MATERIALIZED (
        SELECT DISTINCT node FROM (
            SELECT u AS node FROM e UNION ALL SELECT v FROM e
        )
    ), """
    + ", ".join(
        _peel_sql(f"n{i}", f"n{i + 1}") for i in range(_KCORE_ROUNDS)
    )
    + f"""
    SELECT s.node,
           CAST(COALESCE(d.core_degree, 0) AS BIGINT) AS core_degree
    FROM n{_KCORE_ROUNDS} s
    LEFT JOIN (
        SELECT node, COUNT(*) AS core_degree
        FROM (
            SELECT e.u AS node FROM e
            JOIN n{_KCORE_ROUNDS} pa ON e.u = pa.node
            JOIN n{_KCORE_ROUNDS} pb ON e.v = pb.node
            UNION ALL
            SELECT e.v FROM e
            JOIN n{_KCORE_ROUNDS} pa ON e.u = pa.node
            JOIN n{_KCORE_ROUNDS} pb ON e.v = pb.node
        ) GROUP BY node
    ) d ON s.node = d.node
    ORDER BY s.node
    """
)


@register(
    "kcore_cosupply",
    oracle=_KCORE_ORACLE,
    doc=f"k-core peeling (k={_KCORE_K}, {_KCORE_ROUNDS} fixed rounds) over "
    "the shared sparsified co-supply graph: iteratively drop nodes whose "
    "degree within the surviving subgraph is < k — the standard "
    "densest-region extractor (community cores, spam/bot rings, seed "
    "selection for curation). Operator (operators/graph.py:kcore) does "
    "one edge restriction (two semi-joins on the surviving set) + one "
    "map-side-combined degree count per round; survivors shrink "
    "monotonically so round cost decays. Fixed rounds keep it exactly "
    "replayable by the unrolled-CTE oracle (pagerank/BFS pattern). "
    "Output = ALL surviving nodes with their in-core degree; survivors "
    "whose neighbors were peeled in the same last round carry "
    "core_degree = 0 (pinned via a left join on the survivor set).",
    tags=("graph", "kcore", "A9", "A10", "D3"),
)
def kcore_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _cosupply_edges(spark, sf_dir)
    return kcore(e, k=_KCORE_K, rounds=_KCORE_ROUNDS).orderBy("node")


_SSSP_ROUNDS = 3

#: One Bellman-Ford relaxation round as SQL: prev dist CTE -> next.
#: Mirrors the Spark loop in sssp_weighted_cosupply exactly: candidate
#: distances through every edge out of the current estimates, min-merged
#: with the estimates themselves (integer weights — no float drift).
def _relax_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS MATERIALIZED (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT sym.d AS node, {prev}.dist + sym.w AS dist
            FROM {prev} JOIN sym ON {prev}.node = sym.s
        ) u GROUP BY node
    )"""


@register(
    "sssp_weighted_cosupply",
    oracle="WITH "
    + _COSUPPLY_EDGES_SQL
    + """,
    ew AS MATERIALIZED (
        SELECT u, v, CAST(CEIL(100.0 / shared) AS BIGINT) AS w
        FROM pairs, m WHERE shared > 1.1 * avg_shared
    ), sym AS MATERIALIZED (
        SELECT u AS s, v AS d, w FROM ew
        UNION ALL
        SELECT v, u, w FROM ew
    ), d0 AS (
        SELECT MIN(s) AS node, CAST(0 AS BIGINT) AS dist FROM sym
    ), """
    + _relax_sql("d0", "d1")
    + ", "
    + _relax_sql("d1", "d2")
    + ", "
    + _relax_sql("d2", "d3")
    + """
    SELECT node, dist FROM d3
    ORDER BY dist, node
    LIMIT 50
    """,
    doc="Weighted single-source shortest path (Bellman-Ford, 3 unrolled "
    "relaxation rounds) over the co-supply graph: edge cost = "
    "ceil(100/shared-parts), so strongly co-supplying pairs are "
    "'closer'; source = minimum supplier key in the edge set; output "
    "= the 50 nearest nodes by (dist, node) after round 3 (with 3 "
    "rounds every reported distance is over <=3 edges — a bounded-"
    "horizon SSSP, the same contract as the BFS query's hop cap). "
    "Costs are INTEGER so min-merges are exact on both engines. "
    "Scale shape: each round is one shuffle — current estimates join "
    "the symmetrized edges on the node key and min-merge; work per "
    "round is proportional to the reached set's out-edges, and "
    "localCheckpoint truncates plan lineage so round N's plan does "
    "not replay rounds 1..N-1 (the standard iterative-algorithm "
    "discipline from connected_components/bfs_hops). Spark-side twin "
    "of the oracle's unrolled-CTE relaxations.",
    tags=("graph", "sssp", "J6", "A10"),
)
def sssp_weighted_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select("l_partkey", "l_suppkey").distinct()
    a, b = sp.alias("a"), sp.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("shared"))
    )
    avg = pairs.agg(F.avg("shared").alias("avg_shared"))
    ew = (
        pairs.crossJoin(F.broadcast(avg))
        .filter(F.col("shared") > 1.1 * F.col("avg_shared"))
        .select(
            "u",
            "v",
            F.ceil(100.0 / F.col("shared")).cast("bigint").alias("w"),
        )
    )
    sym = ew.select(F.col("u").alias("s"), F.col("v").alias("d"), "w").unionByName(
        ew.select(F.col("v").alias("s"), F.col("u").alias("d"), "w")
    )
    sym = barrier(sym, "sym")
    dist = sym.agg(F.min("s").alias("node"), F.lit(0).cast("bigint").alias("dist"))
    for it in range(_SSSP_ROUNDS):
        cand = dist.join(sym, dist.node == sym.s).select(
            F.col("d").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = barrier(
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist")),
            f"dist{it}",
        )
    return dist.orderBy("dist", "node").limit(50)


@register(
    "graph_assortativity",
    oracle="WITH "
    + _COSUPPLY_EDGES_SQL
    + """,
    sym AS (
        SELECT u AS a, v AS b FROM e
        UNION ALL
        SELECT v, u FROM e
    ), deg AS (
        SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY a
    )
    SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,
           ROUND(corr(CAST(da.d AS DOUBLE), CAST(db.d AS DOUBLE)), 6)
               AS assortativity
    FROM sym
    JOIN deg da ON sym.a = da.node
    JOIN deg db ON sym.b = db.node
    """,
    doc="Degree assortativity of the co-supply graph: Pearson "
    "correlation of endpoint degrees over all edge orientations "
    "(each undirected edge contributes both (du,dv) and (dv,du) — "
    "the standard Newman r). Positive r = hubs link to hubs "
    "(resilient core, harder to partition); negative = hub-and-"
    "spoke (broadcast the hubs' rows). One number that tells you "
    "which join/partition strategy the graph queries should favor. "
    "Scale shape: degrees are one groupBy over the symmetrized "
    "edge list; the two degree joins are on the node key the list "
    "is already keyed by; corr is a single-pass commutative "
    "aggregate. Rounded to 6dp — corr accumulation formulas differ "
    "across engines only in final ulps.",
    tags=("graph", "A7", "A11", "J6"),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _cosupply_edges(spark, sf_dir)
    sym = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    sym = barrier(sym, "sym")
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    return (
        sym.join(da, "a")
        .join(db, "b")
        .agg(
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
            F.round(
                F.corr(F.col("da").cast("double"), F.col("db").cast("double")),
                6,
            ).alias("assortativity"),
        )
    )


@register(
    "graph_local_clustering",
    oracle="WITH "
    + _COSUPPLY_EDGES_SQL
    + """, deg AS (
        SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u AS x FROM e UNION ALL SELECT v FROM e
        ) GROUP BY x
    ), tri_nodes AS (
        SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS tri
        FROM (
            SELECT unnest([e1.u, e1.v, e2.v]) AS n
            FROM e e1
            JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
            JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
        ) GROUP BY n
    )
    SELECT deg.node, deg.d AS degree,
           CAST(COALESCE(tri_nodes.tri, 0) AS BIGINT) AS n_triangles,
           ROUND(2.0 * COALESCE(tri_nodes.tri, 0) / (deg.d * (deg.d - 1)), 6)
               AS lcc
    FROM deg LEFT JOIN tri_nodes ON deg.node = tri_nodes.node
    WHERE deg.d >= 2
    QUALIFY ROW_NUMBER() OVER (
        ORDER BY ROUND(2.0 * COALESCE(tri_nodes.tri, 0)
                       / (deg.d * (deg.d - 1)), 6) DESC, deg.node) <= 25
    ORDER BY lcc DESC, deg.node
    """,
    doc="Per-node local clustering coefficient over the co-supply graph: "
    "lcc(v) = triangles at v / C(deg(v), 2) — how close each "
    "supplier's neighborhood is to a clique (1 = its co-suppliers "
    "all co-supply each other; 0 = pure star hub). Triangles come "
    "from the same oriented u<v<w three-way join as the global "
    "count, but each found triangle CREDITS ALL THREE corners "
    "(unnest/explode of the corner array) before a per-node "
    "rollup — one extra node-keyed aggregation, no new join "
    "structure. Top-25 most clustered nodes with degree >= 2 "
    "pinned on (rounded lcc, node). The global/local pair "
    "(triangle_count_cosupply / this) is the standard two-level "
    "clustering diagnostic. Scale shape: oriented join bounds the "
    "pair fan-out by high-degree orientation; corner explode is "
    "3 rows per triangle; both aggregations key on the node id.",
    tags=("graph", "A7", "A10", "O3"),
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _cosupply_edges(spark, sf_dir)
    e = barrier(e, "edges")
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("a2"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("b3"), F.col("v").alias("c3"))
    tris = (
        e1.join(e2, (F.col("a2") == F.col("a")) & (F.col("c") > F.col("b")))
        .join(e3, (F.col("b3") == F.col("b")) & (F.col("c3") == F.col("c")))
        .select("a", "b", "c")
    )
    tri_nodes = (
        tris.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri"))
    )
    lcc = F.round(
        2.0
        * F.coalesce(F.col("tri"), F.lit(0))
        / (F.col("d") * (F.col("d") - 1)),
        6,
    )
    scored = (
        deg.join(tri_nodes, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            "node",
            F.col("d").alias("degree"),
            F.coalesce(F.col("tri"), F.lit(0)).cast("bigint")
            .alias("n_triangles"),
            lcc.alias("lcc"),
        )
    )
    w = Window.orderBy(F.desc("lcc"), "node")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .drop("rn")
        .orderBy(F.desc("lcc"), "node")
    )


_HITS_ITERS = 3


def _hits_step_sql(i: int) -> str:
    """One HITS iteration as SQL CTEs: hub h{i-1} -> raw auth -> L1-
    normalized auth a{i}n -> raw hub -> normalized hub h{i}n, every
    normalized score rounded to 8dp (pagerank oracle pattern) so float
    sum order can never diverge engines."""
    prev_hub = "h0" if i == 1 else f"h{i - 1}n"
    return f"""a{i} AS MATERIALIZED (
        SELECT dst AS node, SUM(w * hub) AS raw
        FROM e JOIN {prev_hub} ON e.src = {prev_hub}.node GROUP BY dst
    ), a{i}n AS MATERIALIZED (
        SELECT nodes.node,
               ROUND(COALESCE(raw, 0.0) / (SELECT SUM(raw) FROM a{i}), 8)
                   AS auth
        FROM nodes LEFT JOIN a{i} ON nodes.node = a{i}.node
    ), hh{i} AS MATERIALIZED (
        SELECT src AS node, SUM(w * auth) AS raw
        FROM e JOIN a{i}n ON e.dst = a{i}n.node GROUP BY src
    ), h{i}n AS MATERIALIZED (
        SELECT nodes.node,
               ROUND(COALESCE(raw, 0.0) / (SELECT SUM(raw) FROM hh{i}), 8)
                   AS hub
        FROM nodes LEFT JOIN hh{i} ON nodes.node = hh{i}.node
    )"""


_HITS_ORACLE = (
    """
    WITH e AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY src, dst
    ), nodes AS MATERIALIZED (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION SELECT dst FROM e
        )
    ), nn AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ), h0 AS MATERIALIZED (
        SELECT node, ROUND(1.0 / n, 8) AS hub FROM nodes, nn
    ), """
    + ", ".join(_hits_step_sql(i) for i in range(1, _HITS_ITERS + 1))
    + f"""
    SELECT n_name AS nation, h{_HITS_ITERS}n.hub AS hub,
           a{_HITS_ITERS}n.auth AS auth
    FROM h{_HITS_ITERS}n
    JOIN a{_HITS_ITERS}n ON h{_HITS_ITERS}n.node = a{_HITS_ITERS}n.node
    JOIN nation ON h{_HITS_ITERS}n.node = n_nationkey
    ORDER BY auth DESC, nation
    """
)


@register(
    "hits_trade_graph",
    oracle=_HITS_ORACLE,
    doc="Weighted HITS (3 iterations, L1-normalized) over the same "
    "customer-nation -> supplier-nation trade graph as pagerank: "
    "authority = weighted sum of pointing hubs, hub = weighted sum of "
    "pointed-to authorities — separating 'big buyers' (hubs) from "
    "'big suppliers' (authorities), which a single PageRank conflates "
    "on a bipartite-ish trade flow. Per half-iteration: one shuffle "
    "joining scores to edges on the matching endpoint + one grouped "
    "sum, with the L1 denominator a broadcast 1-row aggregate — the "
    "edges-x-scores formulation that runs unchanged on a billion-edge "
    "graph. Scores round to 8dp each normalization (pagerank oracle "
    "pattern) so the iterative float math is hash-compared exactly.",
    tags=("graph", "pagerank", "J6", "A7"),
)
def hits_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")

    # Loop invariants are localCheckpoint-ed (components-operator
    # pattern): every half-step references edges/nodes, and without
    # truncation the final plan would inline the fact join once per
    # reference — quadratic plan growth across the iterations.
    edges = barrier(
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w")),
        "edges",
    )
    nodes = barrier(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct(),
        "nodes",
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    hub = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.round(F.lit(1.0) / F.col("n"), 8).alias("hub")
    )

    def half_step(scores: DataFrame, score_col: str, join_on: str,
                  group_as: str, out_col: str, it: int) -> DataFrame:
        """One HITS half-iteration: push scores across edges (join on
        ``join_on``, sum per ``group_as`` endpoint), L1-normalize with a
        broadcast total, round 8dp. Nodes with no mass get 0. Its two
        barriers are labelled ``<out_col><it>_raw`` and ``<out_col><it>``,
        so a profile reads each iteration's cost on its own row."""
        raw = (
            edges.join(scores, edges[join_on] == scores["node"])
            .groupBy(F.col(group_as).alias("gnode"))
            .agg(F.sum(F.col("w") * F.col(score_col)).alias("raw"))
        )
        raw = barrier(raw, f"{out_col}{it}_raw")  # referenced twice (join + total)
        tot = raw.agg(F.sum("raw").alias("tot"))
        return barrier(
            nodes.join(raw, nodes["node"] == raw["gnode"], "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("tot"), 8
                ).alias(out_col),
            ),
            # O(nodes)-sized: eager checkpoint keeps the per-iteration
            # plan constant instead of doubling every half-step
            f"{out_col}{it}",
        )

    auth = None
    for it in range(_HITS_ITERS):
        auth = half_step(hub, "hub", "src", "dst", "auth", it)
        hub = half_step(auth, "auth", "dst", "src", "hub", it)
    return (
        hub.join(auth, "node")
        .join(F.broadcast(nation), F.col("node") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "hub", "auth")
        .orderBy(F.desc("auth"), "nation")
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (PageRank over the term co-occurrence graph)
# ---------------------------------------------------------------------------

_TR_TOKENS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_TR_TOPK = 15


@register(
    "text_textrank_keywords",
    oracle=(
        f"""
    WITH tk AS (
        SELECT {_TR_TOKENS} AS arr FROM documents
    ), bg AS (
        SELECT u.a, u.b FROM (
            SELECT unnest(list_transform(range(1, len(arr)),
                          i -> struct_pack(a := arr[i], b := arr[i + 1])))
                   AS u
            FROM tk
        ) WHERE u.a <> u.b
    ), e AS (
        SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w FROM (
            SELECT a AS src, b AS dst FROM bg
            UNION ALL SELECT b, a FROM bg
        ) GROUP BY src, dst
    ), nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION SELECT dst FROM e
        )
    ), nn AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ), nrm AS (
        SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM e
    ), r0 AS (
        SELECT node, ROUND(1.0 / n, 8) AS rank FROM nodes, nn
    ), """
        + ", ".join(_step_sql(f"r{i}", f"r{i + 1}") for i in range(_ITERS))
        + f"""
    SELECT node AS term, rank FROM r{_ITERS}
    ORDER BY rank DESC, term LIMIT {_TR_TOPK}
    """
    ),
    doc=f"TextRank keyword extraction: PageRank ({_ITERS} iterations, "
    f"damping {_D}) over the corpus term co-occurrence graph (edge = "
    "adjacent token pair, weight = corpus bigram count, symmetrized), "
    f"top-{_TR_TOPK} terms by rank. Reuses operators/graph.pagerank — "
    "the same distributed edges-join-ranks formulation as the trade "
    "graph — on a text-derived edge list; ranks rounded to 8dp per "
    "iteration so the iterative algorithm hash-compares exactly. Scale "
    "shape: bigram extraction is one scan + map-side-combined groupBy "
    "(vocabulary-bounded edge list); each iteration is one src-shuffle "
    "and one dst-shuffle on that bounded graph.",
    tags=("graph", "pagerank", "text", "O3"),
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    arr = tokenize(F.col("text"))
    pairs = (
        docs.select(arr.alias("arr"))
        .filter(F.size("arr") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(arr) - 1), "
                    "i -> struct(element_at(arr, i) AS a, "
                    "element_at(arr, i + 1) AS b))"
                )
            ).alias("u")
        )
        .filter(F.col("u.a") != F.col("u.b"))
        .select("u.a", "u.b")
    )
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    ranks = pagerank(edges, damping=_D, iterations=_ITERS, round_dp=8)
    return (
        ranks.select(F.col("node").alias("term"), "rank")
        .orderBy(F.col("rank").desc(), "term")
        .limit(_TR_TOPK)
    )


@register(
    "graph_degree_powerlaw",
    oracle="WITH "
    + _COSUPPLY_EDGES_SQL
    + """,
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY node
    ), dist AS (
        SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY degree
    ), pts AS (
        SELECT ln(CAST(degree AS DOUBLE)) AS lx,
               ln(CAST(n_nodes AS DOUBLE)) AS ly
        FROM dist WHERE degree >= 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(regr_slope(ly, lx), 6) AS powerlaw_exponent,
           ROUND(regr_intercept(ly, lx), 6) AS log_c0,
           ROUND(corr(ly, lx) * corr(ly, lx), 6) AS r_squared
    FROM pts
    """,
    doc="Degree-distribution power-law fit over the co-supply graph: OLS "
    "of log(node count) on log(degree) — scale-free networks land near "
    "a straight line (exponent ~ -2..-3), while the r-squared flags "
    "whether a hub-aware strategy (salting PageRank's hot nodes, "
    "degree-capped sampling) is worth it for THIS graph. Same "
    "cross-engine regression machinery as text_zipf_fit, applied to the "
    "graph domain; the fit runs over distinct-degree cardinality rows, "
    "so the only graph-sized work is the degree count itself (one "
    "shuffle over the edge endpoints).",
    tags=("graph", "stats", "A7", "A11"),
)
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _cosupply_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    dist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
    pts = dist.filter(F.col("degree") >= 1).select(
        F.log(F.col("degree").cast("double")).alias("lx"),
        F.log(F.col("n_nodes").cast("double")).alias("ly"),
    )
    return pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.round(F.regr_slope("ly", "lx"), 6).alias("powerlaw_exponent"),
        F.round(F.regr_intercept("ly", "lx"), 6).alias("log_c0"),
        F.round(F.corr("ly", "lx") * F.corr("ly", "lx"), 6).alias("r_squared"),
    )
