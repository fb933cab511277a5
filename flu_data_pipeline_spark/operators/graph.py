"""Connected components over an edge list (dedup-cluster resolution).

Near-dup candidate pairs (MinHash/SimHash LSH) form a graph; the dedup
*clusters* are its connected components, with the canonical document per
cluster = the minimum doc id. This is the step that turns pairwise
similarity output into actionable keep/drop sets for a training-data
pipeline.

Two algorithms, same output contract:

- :func:`connected_components` — iterative min-label propagation: every
  node repeatedly takes the minimum label among itself and its
  neighbors; converges in O(component diameter) rounds. Each round is
  one join + one groupBy on the node key (two hash shuffles). Cheapest
  per round; the right default for near-dup candidate graphs, whose
  clusters are small-diameter.
- :func:`connected_components_star` — the alternating
  large-star/small-star algorithm (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SOCC'14): rounds are
  O(log^2 n) INDEPENDENT OF DIAMETER, because each round re-points
  whole neighborhoods at their minimum rather than moving labels one
  hop. Costs ~2x the shuffles per round, but survives the adversarial
  shapes plain propagation cannot: long chains (a path of length
  1000 ≫ any sane max_iter) and the power-law / high-skew candidate
  graphs adversarial near-dup families produce at 100 TB.

Both are fully distributed (joins + groupBys on the node key); no
driver-side graph ever exists.

``localCheckpoint`` after each round truncates the lineage (otherwise the
plan doubles per iteration and planning time dominates) and materializes
the loop invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flu_data_pipeline_spark.operators.materialize import barrier


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 20
) -> DataFrame:
    """Resolve connected components of the undirected graph given by
    ``edges``. Returns (node, component) where component = min node id
    reachable — only for nodes appearing in at least one edge.

    Convergence is detected via the monotonically decreasing sum of
    labels (cheaper than a change-count join); iteration stops early the
    first round nothing improves.
    """
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    und = barrier(und, "cc_edges")

    labels = barrier(
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        "cc_labels",
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]

    for it in range(max_iter):
        nbr_min = (
            und.join(labels, und["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = barrier(
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            ),
            f"cc_round{it}",
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("node", F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame, src: str, dst: str, max_iter: int = 30
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., SOCC'14). Same contract as
    :func:`connected_components`: returns (node, component) with
    component = min node id reachable, for every node appearing in at
    least one edge.

    Round structure (all keyed shuffles, nothing driver-side):

    - **large-star**: symmetrize the edge list; per node ``u`` compute
      ``m = min(neighbors ∪ {u})`` (one groupBy); re-point every
      STRICTLY LARGER neighbor ``v > u`` at ``m`` (one join). This is
      the step that collapses long chains logarithmically — a node's
      pointer can jump arbitrarily far down in one round.
    - **small-star**: orient every edge larger→smaller; per node ``u``
      compute the min ``m`` of its smaller neighbors; connect ``u``
      and all its smaller neighbors to ``m``. Restores the forest
      invariant (every edge points strictly downward).

    The paper proves the alternation converges to the star forest
    {(node, component-min)} in O(log^2 n) rounds (O(log n) observed),
    regardless of component diameter — the property plain min-label
    propagation lacks. Convergence detection is EXACT set equality of
    successive edge states: a cheap count gate first, then
    ``exceptAll`` (both frames are localCheckpoint-ed, so the compare
    touches materialized rows only). Monotone-sum shortcuts are not
    safe here because the edge STATE can keep improving in rounds where
    per-node minima happen to be stable.

    Per-round cost is ~2x :func:`connected_components` (two
    groupBy+join pairs vs one), so for known small-diameter graphs the
    plain variant remains the default; use this form when cluster
    shapes are adversarial or unknown.
    """
    u, v = "__cc_u", "__cc_v"
    L = edges.select(F.col(src).alias(u), F.col(dst).alias(v))
    # contract parity: self-loop-only nodes still get a (node, node) row
    nodes0 = barrier(
        L.select(F.col(u).alias("node"))
        .union(L.select(F.col(v).alias("node")))
        .distinct(),
        "star_nodes",
    )
    L = barrier(L.filter(F.col(u) != F.col(v)).distinct(), "star_edges")
    prev_cnt = L.count()

    for it in range(max_iter):
        # ---- large-star ----
        S = L.union(L.select(F.col(v).alias(u), F.col(u).alias(v)))
        mins = (
            S.groupBy(u)
            .agg(F.min(v).alias("__cc_mn"))
            .select(u, F.least("__cc_mn", F.col(u)).alias("__cc_m"))
        )
        large = (
            S.join(mins, u)
            .filter(F.col(v) > F.col(u))
            .select(F.col(v).alias(u), F.col("__cc_m").alias(v))
            .filter(F.col(u) != F.col(v))
            .distinct()
        )
        # ---- small-star ----
        T = (
            large.select(
                F.greatest(u, v).alias(u), F.least(u, v).alias(v)
            )
            .filter(F.col(u) != F.col(v))
            .distinct()
        )
        mins2 = T.groupBy(u).agg(F.min(v).alias("__cc_m"))  # always < u
        small = (
            T.join(mins2, u)
            .select(F.col(v).alias(u), F.col("__cc_m").alias(v))
            .union(mins2.select(F.col(u), F.col("__cc_m").alias(v)))
            .filter(F.col(u) != F.col(v))
            .distinct()
        )
        new_L = barrier(small, f"star_round{it}")
        new_cnt = new_L.count()
        if new_cnt == prev_cnt and new_L.exceptAll(L).isEmpty():
            L = new_L
            break
        L, prev_cnt = new_L, new_cnt

    # star forest → labels: children point at the component min; roots
    # (appear only as a parent) label themselves.
    parents = L.groupBy(u).agg(F.min(v).alias("component"))
    labels = parents.select(F.col(u).alias("node"), "component")
    return (
        nodes0.join(labels, "node", "left")
        .select(
            "node",
            F.coalesce("component", F.col("node")).alias("component"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS over an undirected edge list: returns
    (node, dist) for every node within ``max_hops`` of any source node,
    dist = minimum hop count.

    Distributed frontier expansion: each hop joins the *current frontier*
    (nodes first reached last hop — not the whole visited set) against the
    symmetrized edges (one shuffle on the node key), then min-merges into
    the visited set. Frontier-only expansion is what keeps hop ``i`` work
    proportional to the frontier boundary, not the visited volume — the
    property that matters on a billion-edge graph. ``sources`` is a
    DataFrame with a ``node`` column (never a driver-side list), so seeds
    can themselves be query-derived at scale.

    ``localCheckpoint`` per hop truncates lineage (same rationale as
    :func:`connected_components`).
    """
    sym = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = sym.union(sym.select(F.col("d").alias("s"), F.col("s").alias("d")))
    sym = barrier(sym, "bfs_edges")

    visited = sources.select("node").distinct().withColumn("dist", F.lit(0))
    frontier = barrier(visited, "bfs_seeds")
    visited = frontier
    for hop in range(1, max_hops + 1):
        reached = (
            sym.join(frontier, sym["s"] == frontier["node"])
            .select(F.col("d").alias("node"))
            .distinct()
        )
        frontier = barrier(
            reached.join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop)),
            f"bfs_frontier{hop}",
        )
        if frontier.isEmpty():
            break
        visited = barrier(visited.union(frontier), f"bfs_visited{hop}")
    return visited


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    damping: float = 0.85,
    iterations: int = 3,
    round_dp: int = 8,
) -> DataFrame:
    """Weighted PageRank over a directed edge list, fixed iteration count.

    Every iteration is the classic distributed formulation: join ranks
    onto out-normalized edges (shuffle on ``src``), sum contributions per
    ``dst`` (shuffle on ``dst``), left-join back onto the node set so
    rank mass reaches nodes with no in-edges. Works unchanged on a
    billion-edge list — the graph never exists driver-side; the only
    driver scalar is the one-time node count.

    Determinism contract (for exact cross-engine oracles): ranks are
    rounded to ``round_dp`` decimals after EVERY iteration, which quashes
    float sum-order ulps exactly like the k-means oracle pattern
    (plans/similarity_queries.py). Mass from dangling nodes (no
    out-edges) is dropped, not redistributed — both engines implement
    the same convention, and the trade graph has none.
    """
    nodes = barrier(
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct(),
        "pagerank_nodes",
    )
    n = nodes.count()  # one-time scalar; not a per-iteration collect
    out_w = edges.groupBy(src).agg(F.sum(weight).alias("w_out"))
    norm = barrier(
        edges.join(out_w, src)
        .select(
            F.col(src).alias("e_src"),
            F.col(dst).alias("e_dst"),
            (F.col(weight) / F.col("w_out")).alias("p"),
        ),
        "pagerank_norm",
    )
    # initial rank rounded by Spark's own ROUND (HALF_UP) so it matches
    # SQL oracles exactly; Python's builtin round is banker's
    ranks = nodes.withColumn(
        "rank", F.round(F.lit(1.0) / F.lit(float(n)), round_dp)
    )
    for it in range(iterations):
        contrib = (
            norm.join(ranks, norm["e_src"] == ranks["node"])
            .groupBy("e_dst")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("mass"))
        )
        ranks = barrier(
            nodes.join(contrib, nodes["node"] == contrib["e_dst"], "left")
            .select(
                "node",
                F.round(
                    F.lit((1.0 - damping) / n)
                    + damping * F.coalesce("mass", F.lit(0.0)),
                    round_dp,
                ).alias("rank"),
            ),
            f"pagerank{it}",
        )
    return ranks


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "u",
    dst: str = "v",
    rounds: int = 4,
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected edge list: repeat
    ``rounds`` times "drop every node whose degree within the surviving
    subgraph is < k". Returns (node, core_degree) for EVERY survivor of
    the last peel round, with core_degree = degree inside the final
    subgraph — including survivors whose neighbors were all peeled in
    that same last round, which are emitted with core_degree = 0 (pinned
    semantics; a pure final-edge groupBy would silently drop them —
    VERDICT r7 #1, deterministic repro: 9-node path, k=2, rounds=4).

    A fixed round count (not convergence detection) keeps the operator
    exactly replayable by an unrolled SQL oracle; callers wanting the
    true core run more rounds or test the fixpoint column downstream.
    Each round is one self-restricted edge filter (two semi-joins on the
    surviving node set) + one degree count — all map-side combinable;
    no driver-side graph. 100 TB note: the surviving-node set shrinks
    monotonically, so round cost decays; for power-law graphs most mass
    is peeled in the first rounds.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = barrier(sym, "kcore_edges")

    nodes = sym.select(F.col("a").alias("node")).distinct()
    for it in range(rounds):
        alive = (
            sym.join(nodes, sym["a"] == nodes["node"], "left_semi")
            .join(
                nodes.select(F.col("node").alias("nb")),
                F.col("b") == F.col("nb"),
                "left_semi",
            )
        )
        nodes = barrier(
            alive.groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("a").alias("node")),
            f"kcore{it}",
        )
    final_edges = (
        sym.join(nodes, sym["a"] == nodes["node"], "left_semi")
        .join(
            nodes.select(F.col("node").alias("nb")),
            F.col("b") == F.col("nb"),
            "left_semi",
        )
    )
    final_deg = final_edges.groupBy("a").agg(
        F.count(F.lit(1)).alias("fdeg")
    )
    # Left join survivors -> final degrees so a survivor with zero edges
    # in the final subgraph is kept (core_degree = 0), not dropped.
    return nodes.join(
        final_deg, nodes["node"] == final_deg["a"], "left"
    ).select(
        "node",
        F.coalesce(F.col("fdeg"), F.lit(0).cast("long")).alias(
            "core_degree"
        ),
    )
