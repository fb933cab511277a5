"""Iterative clustering (Lloyd's k-means) as a Spark-first operator.

The reference class for "iterative algorithm on a distributed engine":
each iteration is one declarative assignment+aggregation pass; the only
driver-side data is the k×dim centroid matrix (collected per iteration —
k·dim doubles, NOT a hot-path collect), re-broadcast into the next pass
as literal arrays, exactly how MLlib's own KMeans drives Lloyd's.

Determinism contract (so a SQL oracle can replay it bit-for-bit):
- init = embeddings of the k smallest ids, components rounded to 6dp;
- distance = left-fold of (x_i - c_i)^2 in array order, double math;
- argmin ties break to the lowest cluster index;
- new centroids = per-dimension AVG rounded to 6dp in-engine (rounding
  quashes ulp-level sum-order differences between engines/partitionings);
- empty clusters keep their previous centroid.

Scale notes (100 TB): centroids travel as a k-row BROADCAST DataFrame —
the assignment plan contains ONE distance-fold expression regardless of
k (a per-centroid literal-array formulation was tried first and spent
~7 s/iteration in plan analysis at k=8; it also caps k at what the
expression tree tolerates). Per pass: broadcast-nested-loop against k
rows (map-only), per-row argmin via min(struct(dist, cluster)) — a
partial-aggregating groupBy on the id — then one groupBy(cluster, dim)
average. Iterations add passes, not shuffled state; only the k×dim
centroid matrix ever reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flu_data_pipeline_spark.operators.materialize import barrier


def sqdist(vec: Column, centroid: Column) -> Column:
    """Σ (x_i - c_i)² as a native left-fold in array order (double math)."""
    return F.aggregate(
        F.zip_with(
            vec,
            centroid,
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def centroid_df(spark: SparkSession, centroids: list[list[float]]):
    """k-row (cluster, c) DataFrame from a centroid matrix."""
    return spark.createDataFrame(
        [(ci, [float(x) for x in c]) for ci, c in enumerate(centroids)],
        "cluster int, c array<double>",
    )


def assign_best(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    keep_vec: bool = False,
) -> DataFrame:
    """(id, cluster, dist[, vec]) of the nearest centroid per row. Ties
    go to the lowest cluster index: min over struct(dist, cluster) is
    lexicographic, identical to the oracle's ``ORDER BY dist, cluster``
    pick. ``keep_vec`` rides the input vector through the aggregation
    (it cannot affect the argmin — (dist, cluster) is unique within an
    id's group) so callers avoid re-joining ``df`` on the id: the
    partial-aggregating min already shrinks the shuffle to one row per
    id per map partition, so carrying the vector costs the same bytes
    the re-join would shuffle anyway, minus the join (r11, guide §2.4 —
    same shape twolevel_assign has used since round 9)."""
    spark = df.sparkSession
    cdf = centroid_df(spark, centroids)
    fields = [F.col("dist"), F.col("cluster")]
    if keep_vec:
        fields.append(F.col(vec_col).alias("v"))
    out = [
        id_col,
        F.col("best.cluster").alias("cluster"),
        F.col("best.dist").alias("dist"),
    ]
    if keep_vec:
        out.append(F.col("best.v").alias(vec_col))
    return (
        df.select(id_col, vec_col)
        .join(F.broadcast(cdf))
        .select(
            id_col,
            "cluster",
            vec_col,
            sqdist(F.col(vec_col), F.col("c")).alias("dist"),
        )
        .groupBy(id_col)
        .agg(F.min(F.struct(*fields)).alias("best"))
        .select(*out)
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    round_dp: int = 6,
    init_every: int | None = None,
) -> list[list[float]]:
    """Run ``iters`` Lloyd iterations; returns the centroid matrix.

    Deterministic init, two modes:
    - default: the ``k`` rows with the smallest ids;
    - ``init_every=s``: every row with ``id % s == 0`` (``k`` is IGNORED
      in this mode — the cluster count is derived from the data; raises
      if no id satisfies the modular rule, e.g. a sparse/offset id
      space or a corpus smaller than the stride) — k then GROWS
      WITH THE CORPUS (k ≈ N/s), the data-adaptive form SemDeDup-style
      cluster-bounded algorithms need (fixed k makes within-cluster
      pair work quadratic in N). The modular rule keeps the init
      expressible as a static WHERE clause in the SQL oracle, where a
      data-dependent LIMIT could not be.

    Components rounded to ``round_dp``. Each iteration collects exactly
    k·dim rounded doubles to the driver (the centroid matrix) — the
    canonical Spark iterative-algorithm shape.
    """
    init = (
        df.filter((F.col(id_col) % init_every) == 0)
        if init_every is not None
        else df.orderBy(id_col).limit(k)
    )
    init_rows = (
        init.orderBy(id_col)
        .select(F.transform(vec_col, lambda x: F.round(x.cast("double"), round_dp)).alias("c"))
        .collect()
    )
    centroids = [list(r["c"]) for r in init_rows]
    if not centroids:
        raise ValueError(
            f"kmeans_fit init produced no centroids"
            + (
                f": no row has {id_col} % {init_every} == 0 "
                "(sparse/offset id space or corpus smaller than the "
                "stride?)"
                if init_every is not None
                else ""
            )
        )
    k = len(centroids)  # actual count (init_every mode derives it from data)
    for _ in range(iters):
        # mean update (r11, guide §2.4): the assignment carries the
        # vector through its partial-aggregating argmin (keep_vec), so
        # the old re-join of df on the id (a second shuffle of the
        # vectors + a sort-merge join per iteration) is gone. The
        # per-dim averages stay in the posexplode + groupBy(cluster,
        # dim) shape: a measured A/B showed the "dim parallel
        # aggregates in one groupBy" alternative 2.2x SLOWER here
        # (2.37 s vs 1.10 s per pass at sf0.1 — wide-agg codegen falls
        # off a cliff), the opposite of what it does for
        # twolevel_assign's k-row fine-centroid frame. Addend sets per
        # (cluster, dim) are unchanged, so the round_dp rounding
        # yields the same centroids.
        new = (
            assign_best(df, vec_col, id_col, centroids, keep_vec=True)
            .select("cluster", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg(F.col("x").cast("double")), round_dp).alias("av"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in new:
            by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["av"]
        centroids = [
            [by_cluster[ci][d] for d in range(len(centroids[ci]))]
            if ci in by_cluster
            else centroids[ci]  # empty cluster keeps previous centroid
            for ci in range(k)
        ]
    return centroids


# --------------------------------------------------------------------------
# Unrolled DuckDB oracle: the same iterations as plain SQL CTE chain
# --------------------------------------------------------------------------

_SQDIST_SQL = (
    "list_reduce(list_transform(range(1, {dim} + 1), "
    "i -> (CAST({v}[i] AS DOUBLE) - {c}[i]) * (CAST({v}[i] AS DOUBLE) - {c}[i])), "
    "(x, y) -> x + y)"
)


def kmeans_oracle_sql(
    table: str,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    round_dp: int = 6,
    init_every: int | None = None,
    pre_ctes: str = "",
) -> str:
    """DuckDB CTE chain replaying :func:`kmeans_fit` exactly: same init
    (``init_every`` selects the modular-id adaptive-k mode), same fold
    order, same tie-break (ORDER BY dist, cluster), same 6dp centroid
    rounding, same empty-cluster carry-over. Yields the final
    per-vector assignment as ``asg{iters}(id, cluster, dist)``.
    ``pre_ctes`` injects caller CTEs right after WITH (e.g. a filtered
    ``base`` view to train on), so ``table`` may name one of them."""
    sq = _SQDIST_SQL
    init_src = (
        f"(SELECT * FROM {table} WHERE {id_col} % {init_every} = 0)"
        if init_every is not None
        else f"(SELECT * FROM {table} ORDER BY {id_col} LIMIT {k})"
    )
    parts = [
        f"""c0 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY {id_col}) - 1 AS cluster,
               list_transform({vec_col},
                              x -> round(CAST(x AS DOUBLE), {round_dp})) AS c
        FROM {init_src}
    )"""
    ]
    for it in range(iters):
        dist = sq.format(dim=dim, v=f"e.{vec_col}", c=f"c{it}.c")
        parts.append(f"""asg{it + 1} AS (
        SELECT e.{id_col} AS id, c{it}.cluster, {dist} AS dist
        FROM {table} e CROSS JOIN c{it}
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY e.{id_col} ORDER BY {dist}, c{it}.cluster) = 1
    )""")
        if it + 1 < iters:
            parts.append(f"""avg{it + 1} AS (
        SELECT a.cluster, t.i,
               round(AVG(CAST(e.{vec_col}[t.i] AS DOUBLE)), {round_dp}) AS av
        FROM asg{it + 1} a
        JOIN {table} e ON e.{id_col} = a.id
        CROSS JOIN (SELECT unnest(range(1, {dim} + 1)) AS i) t
        GROUP BY a.cluster, t.i
    )""")
            parts.append(f"""c{it + 1} AS (
        SELECT p.cluster,
               COALESCE(n.c, p.c) AS c
        FROM c{it} p LEFT JOIN (
            SELECT cluster, list(av ORDER BY i) AS c
            FROM avg{it + 1} GROUP BY cluster
        ) n ON n.cluster = p.cluster
    )""")
    head = "WITH " + (pre_ctes + ",\n    " if pre_ctes else "")
    return head + ",\n    ".join(parts)


# ==========================================================================
# Two-level (IVF-quantized) k-means: the scale path for adaptive k ∝ N
# ==========================================================================
#
# kmeans_fit above is the textbook Lloyd loop: brute-force N·k assignment
# plus a k-row driver collect per iteration. Fine for fixed small k; fatal
# when k grows with the corpus (SemDeDup needs k ∝ N to bound cluster
# sizes — then assignment is N²/stride and the collect is O(N)). The
# two-level form below is the FAISS-IVF answer, end to end in DataFrames:
#
# - FINE centroids (k_f = N/stride of them) live in a DataFrame for the
#   whole fit — they are NEVER collected to the driver.
# - A COARSE quantizer of k_c = floor(sqrt(k_f)) cells (every
#   ceil(k_f/k_c)-th fine seed) is the only thing that behaves like a
#   broadcast table — O(√k) rows, the per-level optimum for two levels.
# - Assignment per pass: each fine centroid maps to its nearest coarse
#   cell (k_f·k_c work on a k_f-row frame); each vector ranks the coarse
#   cells that currently HOLD fine centroids (broadcast of ≤k_c rows,
#   WindowGroupLimit top-nprobe) and argmins over fine centroids in its
#   probed cells via an EQUI-join on the cell id. No N·k_f stage exists
#   in the plan, and the only scalar the driver ever sees is the fine
#   seed count (one integer, to derive the coarse stride).
#
# With nprobe < k_c the assignment is the standard IVF approximation:
# the chosen fine centroid is exact within the probed cells, and equals
# the global argmin whenever the true nearest fine centroid lies in one
# of the nprobe nearest coarse cells (always true when nprobe ≥ k_c —
# property-tested equality against assign_best in tests/test_operators).
# Every tie breaks deterministically ((dist, cell) / (dist, fcl)), so a
# DuckDB CTE chain replays the whole fit bit-for-bit.

def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


def twolevel_params(k_f: int) -> tuple[int, int]:
    """(k_c, coarse_stride): k_c = floor(sqrt(k_f)) coarse cells, one
    coarse seed per ceil(k_f/k_c) fine seeds. Pure integer math — the
    oracle derives the same numbers in SQL."""
    import math

    k_c = max(1, int(math.floor(math.sqrt(k_f))))
    return k_c, _ceil_div(k_f, k_c)


def fine_seeds(
    df: DataFrame, vec_col: str, id_col: str, stride: int, round_dp: int = 6
) -> DataFrame:
    """(fcl, c): one fine seed per ``stride`` ids, fcl = id div stride
    (deterministic, oracle-replayable), components rounded."""
    return df.filter((F.col(id_col) % stride) == 0).select(
        F.expr(f"{id_col} div {stride}").alias("fcl"),
        F.transform(
            vec_col, lambda x: F.round(x.cast("double"), round_dp)
        ).alias("c"),
    )


def twolevel_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    fine: DataFrame,
    coarse: DataFrame,
    nprobe: int = 2,
    keep_vec: bool = False,
) -> DataFrame:
    """(id, cluster, dist[, vec]): IVF two-level nearest-fine-centroid
    assignment. ``fine`` = (fcl, c) stays distributed; ``coarse`` =
    (ccl, c) is the broadcast level. Vectors probe the ``nprobe``
    nearest NON-EMPTY coarse cells (cells currently holding at least
    one fine centroid — emptiness is decided by the fine→coarse map,
    so assignment is total), then argmin over fine centroids in the
    probed cells via an EQUI-join on ccl. Plan shape: the only
    broadcast-nested-loop is against the O(√k) coarse table; the
    top-nprobe rank is a WindowGroupLimit (map-side pruned to nprobe
    rows/vector); both argmins are partial-aggregating
    min(struct(dist, id, …)) — ties cannot reach the trailing struct
    fields because (dist, id) is unique within a group (each fine
    centroid lives in exactly one cell). ``keep_vec`` rides the input
    vector through the aggregation so callers avoid a re-join."""
    from pyspark.sql import Window

    cvec = coarse.select("ccl", F.col("c").alias("_cvec"))
    fcell = (
        fine.join(F.broadcast(cvec))
        .select(
            "fcl",
            "ccl",
            "c",
            sqdist(F.col("c"), F.col("_cvec")).alias("_d"),
        )
        .groupBy("fcl")
        .agg(F.min(F.struct("_d", "ccl", "c")).alias("b"))
        .select(
            "fcl",
            F.col("b.ccl").alias("ccl"),
            F.col("b.c").alias("_fc"),
        )
    )
    nonempty = cvec.join(fcell.select("ccl").distinct(), "ccl")
    w = Window.partitionBy(id_col).orderBy(F.asc("_d"), F.asc("ccl"))
    probes = (
        df.select(id_col, vec_col)
        .join(F.broadcast(nonempty))
        .select(
            id_col,
            vec_col,
            "ccl",
            sqdist(F.col(vec_col), F.col("_cvec")).alias("_d"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select(id_col, vec_col, "ccl")
    )
    best = F.min(
        F.struct(
            F.col("_fd").alias("dist"),
            F.col("fcl").alias("cluster"),
            F.col(vec_col).alias("v"),
        )
    ).alias("b")
    out = [
        id_col,
        F.col("b.cluster").alias("cluster"),
        F.col("b.dist").alias("dist"),
    ]
    if keep_vec:
        out.append(F.col("b.v").alias(vec_col))
    return (
        probes.join(fcell, "ccl")
        .select(
            id_col,
            "fcl",
            vec_col,
            sqdist(F.col(vec_col), F.col("_fc")).alias("_fd"),
        )
        .groupBy(id_col)
        .agg(best)
        .select(*out)
    )


def twolevel_kmeans_assigned(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    stride: int,
    iters: int = 3,
    nprobe: int = 2,
    round_dp: int = 6,
    keep_vec: bool = False,
    dim: int = 64,
    return_model: bool = False,
) -> DataFrame:
    """Adaptive-k Lloyd fit with two-level assignment; returns the FINAL
    assignment frame (id, cluster, dist[, vec]) under the
    ``iters``-times refined fine centroids. Fine centroids are a
    DataFrame end to end (update = groupBy(cluster, dim) average
    rebuilt into arrays natively; empty clusters carry their previous
    centroid); each refined generation is lazily localCheckpoint-ed so
    downstream branches share one materialization instead of
    re-deriving a compounding lineage.

    ``return_model=True`` additionally returns the trained quantizer as
    DataFrames — ``(assignment, fine, coarse)`` with fine = the final
    refined (fcl, c) generation and coarse = (ccl, c) — so callers can
    FREEZE it and assign later batches under the identical model via
    :func:`twolevel_assign` (the crawl-refresh shape: centroids still
    never touch the driver)."""
    fine = barrier(
        fine_seeds(df, vec_col, id_col, stride, round_dp), "fine_seeds", eager=False
    )
    # The ONE driver-side collect: seed count folded together with a
    # dim check (min/max seed-vector length) so a mismatched `dim`
    # fails loudly instead of averaging out-of-range indexes to NULL
    # and emitting null-padded centroids.
    stats = fine.agg(
        F.count("*").alias("k_f"),
        F.min(F.size("c")).alias("mn"),
        F.max(F.size("c")).alias("mx"),
    ).first()
    k_f = stats["k_f"]
    if k_f == 0:
        raise ValueError(
            f"no fine seeds: no row has {id_col} % {stride} == 0"
        )
    if stats["mn"] != dim or stats["mx"] != dim:
        raise ValueError(
            f"vector length mismatch: dim={dim} but seed vectors span "
            f"[{stats['mn']}, {stats['mx']}]"
        )
    k_c, sc = twolevel_params(k_f)
    coarse = fine.filter((F.col("fcl") % sc) == 0).select(
        F.expr(f"fcl div {sc}").alias("ccl"), "c"
    )
    for it in range(iters):
        asg = twolevel_assign(
            df, vec_col, id_col, fine, coarse, nprobe, keep_vec=True
        )
        # per-dim averages via posexplode + groupBy(cluster, dim),
        # rebuilt into arrays natively (r11). This REPLACES the "dim
        # parallel aggregates in one groupBy" form used through r10: a
        # measured A/B inside the full fit showed the wide-agg form
        # 1.7x slower end to end (7.3 s vs 4.3 s at sf0.1, identical
        # assignments) — codegen falls off a cliff at `dim` aggregate
        # expressions. The old shape's "N rows vs N*dim rows" shuffle
        # argument does not survive partial aggregation: BOTH forms
        # reduce map-side to per-(cluster[, dim]) partials, so the
        # shuffle is k_f-bounded either way. Addend sets match the
        # oracle's per-(cluster, dim) AVG; the round_dp rounding
        # quashes ulp-level sum-order differences, same as
        # kmeans_fit's contract.
        upd = (
            asg.select(
                "cluster", F.posexplode(vec_col).alias("i", "x")
            )
            .groupBy("cluster", "i")
            .agg(
                F.round(
                    F.avg(F.col("x").cast("double")), round_dp
                ).alias("av")
            )
            .groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("i", "av"))
                ).alias("pairs")
            )
            .select(
                "cluster",
                F.transform("pairs", lambda p: p["av"]).alias("nc"),
            )
        )
        fine = barrier(
            fine.join(
                upd.withColumnRenamed("cluster", "fcl"), "fcl", "left"
            )
            .select("fcl", F.coalesce("nc", "c").alias("c")),
            f"lloyd{it}",
            eager=False,
        )
    asg = twolevel_assign(
        df, vec_col, id_col, fine, coarse, nprobe, keep_vec=keep_vec
    )
    if return_model:
        return asg, fine, coarse
    return asg


def twolevel_kmeans_oracle_sql(
    table: str,
    vec_col: str,
    id_col: str,
    stride: int,
    iters: int = 3,
    dim: int = 64,
    nprobe: int = 2,
    round_dp: int = 6,
    prefix: str = "",
    pre_ctes: str = "",
) -> str:
    """DuckDB CTE chain replaying :func:`twolevel_kmeans_assigned`
    exactly — same seeds, same data-derived coarse stride (integer
    ceil-div, exact on both engines), same nonempty-cell probing, same
    (dist, id) tie-breaks, same per-iteration 6dp centroid rounding and
    empty-cluster carry-over. Final assignment is ``asg{iters + 1}``
    with columns (id, cluster, dist). ``pre_ctes`` injects caller CTEs
    right after WITH (e.g. a filtered ``base`` view to train on), so
    ``table`` may name one of them — the kmeans_oracle_sql pattern.
    The frozen quantizer for later-batch assignment is
    ``{prefix}coarse`` + ``{prefix}fcell{iters}`` (fcl, ccl, c): replay
    the probe/argmin CTE pair against those to mirror a Spark-side
    :func:`twolevel_assign` under the returned model."""
    sq = _SQDIST_SQL
    parts = [
        f"""{prefix}fine0 AS (
        SELECT {id_col} // {stride} AS fcl,
               list_transform({vec_col},
                              x -> round(CAST(x AS DOUBLE), {round_dp})) AS c
        FROM {table} WHERE {id_col} % {stride} = 0
    )""",
        f"""{prefix}params AS (
        SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS kc,
               (COUNT(*) + GREATEST(1, CAST(FLOOR(SQRT(COUNT(*)))
                    AS BIGINT)) - 1)
                   // GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))
                   AS sc
        FROM {prefix}fine0
    )""",
        f"""{prefix}coarse AS (
        SELECT f.fcl // p.sc AS ccl, f.c
        FROM {prefix}fine0 f CROSS JOIN {prefix}params p
        WHERE f.fcl % p.sc = 0
    )""",
    ]
    for it in range(iters + 1):
        fine = f"{prefix}fine{it}"
        fdist = sq.format(dim=dim, v="f.c", c="co.c")
        parts.append(f"""{prefix}fcell{it} AS (
        SELECT f.fcl, co.ccl, f.c
        FROM {fine} f CROSS JOIN {prefix}coarse co
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY f.fcl ORDER BY {fdist}, co.ccl) = 1
    )""")
        pdist = sq.format(dim=dim, v=f"e.{vec_col}", c="co.c")
        parts.append(f"""{prefix}probe{it} AS (
        SELECT e.{id_col} AS id, co.ccl
        FROM {table} e CROSS JOIN {prefix}coarse co
        WHERE co.ccl IN (SELECT DISTINCT ccl FROM {prefix}fcell{it})
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY e.{id_col} ORDER BY {pdist}, co.ccl) <= {nprobe}
    )""")
        adist = sq.format(dim=dim, v=f"e.{vec_col}", c="fc.c")
        parts.append(f"""{prefix}asg{it + 1} AS (
        SELECT e.{id_col} AS id, fc.fcl AS cluster, {adist} AS dist
        FROM {table} e
        JOIN {prefix}probe{it} p ON p.id = e.{id_col}
        JOIN {prefix}fcell{it} fc ON fc.ccl = p.ccl
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY e.{id_col} ORDER BY {adist}, fc.fcl) = 1
    )""")
        if it < iters:
            parts.append(f"""{prefix}avg{it + 1} AS (
        SELECT a.cluster, t.i,
               round(AVG(CAST(e.{vec_col}[t.i] AS DOUBLE)), {round_dp}) AS av
        FROM {prefix}asg{it + 1} a
        JOIN {table} e ON e.{id_col} = a.id
        CROSS JOIN (SELECT unnest(range(1, {dim} + 1)) AS i) t
        GROUP BY a.cluster, t.i
    )""")
            parts.append(f"""{prefix}fine{it + 1} AS (
        SELECT p.fcl, COALESCE(n.c, p.c) AS c
        FROM {prefix}fine{it} p LEFT JOIN (
            SELECT cluster AS fcl, list(av ORDER BY i) AS c
            FROM {prefix}avg{it + 1} GROUP BY cluster
        ) n ON n.fcl = p.fcl
    )""")
    head = "WITH " + (pre_ctes + ",\n    " if pre_ctes else "")
    return head + ",\n    ".join(parts)
