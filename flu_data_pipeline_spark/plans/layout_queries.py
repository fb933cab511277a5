"""Data-layout operators: Z-order (Morton) clustering for scan pruning.

At 100 TB the fastest query is the one that never reads the data: file
formats keep per-file min/max column statistics, so a write-time layout
that clusters rows into tight multi-dimensional rectangles lets readers
prune files on predicates over ANY clustered dimension. Sorting by a
single key gives perfect pruning on that key and none on the others;
interleaving the bits of several keys (Z-order / Morton curve — the
layout behind Delta/Iceberg ``OPTIMIZE ZORDER BY``) trades a little
per-key locality for pruning on all of them.

These queries compute the layout and PROVE the trade numerically from
per-bucket min/max spans — the same statistics a reader's pruning
decision uses. Write-side realization in Spark is
``df.repartitionByRange(N, zcol).sortWithinPartitions(zcol)`` followed by
a parquet write; the physical write is exercised in
``tests/test_sources.py`` patterns, while the layout math below is
oracle-checked (pure integer arithmetic — exact on both engines).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import derived_table, load_table, read_parquet
from flu_data_pipeline_spark.operators.materialize import barrier
from flu_data_pipeline_spark.plans.registry import register
from flu_data_pipeline_spark.sources.writers import write_bucketed

_BITS = 8  # 8 bits/dim → 16-bit Morton code, 256 z-buckets of 256 cells


def _morton_sql(bx: str, by: str, spark_side: bool) -> str:
    """16-bit Morton interleave of two 8-bit bin columns as pure integer
    arithmetic. Spark spells shifts as functions, DuckDB as operators —
    same math, bit-identical results."""
    terms = []
    for i in range(_BITS):
        if spark_side:
            terms.append(
                f"shiftleft(shiftright({bx}, {i}) & 1, {2 * i + 1})"
                f" + shiftleft(shiftright({by}, {i}) & 1, {2 * i})"
            )
        else:
            terms.append(
                f"((({bx} >> {i}) & 1) << {2 * i + 1})"
                f" + ((({by} >> {i}) & 1) << {2 * i})"
            )
    return " + ".join(terms)


#: 0..255 equi-width bin of a key given its (broadcast) min/max — the
#: LEAST guard keeps the max value inside the top bin.
def _bin_sql(col: str, lo: str, hi: str) -> str:
    return (
        f"CAST(LEAST(255, "
        f"FLOOR(({col} - {lo}) * 256.0 / ({hi} - {lo} + 1))) AS INT)"
    )


_ORACLE_BINNED = f"""
    WITH bounds AS (
        SELECT MIN(l_partkey) AS pk_lo, MAX(l_partkey) AS pk_hi,
               MIN(l_suppkey) AS sk_lo, MAX(l_suppkey) AS sk_hi
        FROM lineitem
    ), binned AS (
        SELECT {_bin_sql("l_partkey", "pk_lo", "pk_hi")} AS bx,
               {_bin_sql("l_suppkey", "sk_lo", "sk_hi")} AS by_
        FROM lineitem, bounds
    ), coded AS (
        SELECT bx, by_, {_morton_sql("bx", "by_", spark_side=False)} AS z
        FROM binned
    )
"""


def _binned_coded(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bounds = li.agg(
        F.min("l_partkey").alias("pk_lo"),
        F.max("l_partkey").alias("pk_hi"),
        F.min("l_suppkey").alias("sk_lo"),
        F.max("l_suppkey").alias("sk_hi"),
    )
    # 1-row bounds broadcast onto the scan — no shuffle of the fact
    binned = li.join(F.broadcast(bounds)).select(
        F.expr(_bin_sql("l_partkey", "pk_lo", "pk_hi")).alias("bx"),
        F.expr(_bin_sql("l_suppkey", "sk_lo", "sk_hi")).alias("by_"),
    )
    return binned.withColumn(
        "z", F.expr(_morton_sql("bx", "by_", spark_side=True))
    )


@register(
    "zorder_layout",
    oracle=_ORACLE_BINNED
    + """
    SELECT CAST(z >> 8 AS INT) AS bucket_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(bx) AS min_bx, MAX(bx) AS max_bx,
           MIN(by_) AS min_by, MAX(by_) AS max_by
    FROM coded
    GROUP BY bucket_id
    ORDER BY bucket_id
    """,
    doc="Z-order layout statistics: lineitem keys binned to 8 bits per "
    "dimension, Morton-interleaved to a 16-bit code, grouped into 256 "
    "z-buckets (code >> 8) — each bucket is one would-be file under "
    "OPTIMIZE ZORDER BY (l_partkey, l_suppkey). Emits per-bucket "
    "min/max of both bin coordinates: the file-statistics rectangle a "
    "reader prunes against. Buckets cover ≤16×16 of the 256×256 grid, "
    "so a point predicate on EITHER key eliminates ≥15/16 of files. "
    "Pure integer arithmetic end-to-end (floor bins, bit interleave) — "
    "bit-identical across engines; the 1-row bounds aggregate "
    "broadcasts onto the scan, so the fact never shuffles except for "
    "the 256-group aggregate.",
    tags=("layout", "zorder", "A10", "F8"),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    coded = _binned_coded(spark, sf_dir)
    return (
        coded.groupBy(
            F.shiftright("z", 8).cast("int").alias("bucket_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("bx").alias("min_bx"),
            F.max("bx").alias("max_bx"),
            F.min("by_").alias("min_by"),
            F.max("by_").alias("max_by"),
        )
        .orderBy("bucket_id")
    )


@register(
    "zorder_pruning_gain",
    oracle=_ORACLE_BINNED
    + f"""
    , z_spans AS (
        SELECT CAST(z >> 8 AS INT) AS b,
               MAX(bx) - MIN(bx) + 1 AS span_x,
               MAX(by_) - MIN(by_) + 1 AS span_y
        FROM coded GROUP BY b
    ), lin_spans AS (
        SELECT CAST(bx AS INT) AS b,
               MAX(bx) - MIN(bx) + 1 AS span_x,
               MAX(by_) - MIN(by_) + 1 AS span_y
        FROM coded GROUP BY b
    )
    SELECT layout, n_buckets, avg_span_x, avg_span_y FROM (
        SELECT 'zorder' AS layout,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               ROUND(AVG(span_x), 6) AS avg_span_x,
               ROUND(AVG(span_y), 6) AS avg_span_y
        FROM z_spans
        UNION ALL
        SELECT 'single_key', CAST(COUNT(*) AS BIGINT),
               ROUND(AVG(span_x), 6), ROUND(AVG(span_y), 6)
        FROM lin_spans
    ) ORDER BY layout
    """,
    doc="Quantifies the Z-order trade against a single-key sort layout "
    "over the same 256-cell bin grid: average per-bucket span (max-min+1 "
    "of the bin coordinate, i.e. the fraction of the key range a "
    "reader must consider) in each dimension. Single-key layout: "
    "span_x = 1 (perfect on the sort key) but span_y ≈ 256 (useless on "
    "the other). Z-order: both ≈ 16 — balanced pruning on every "
    "clustered dimension, the reason ZORDER BY exists.",
    tags=("layout", "zorder", "A7"),
)
def zorder_pruning_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    coded = barrier(_binned_coded(spark, sf_dir), "coded")
    z_spans = coded.groupBy(
        F.shiftright("z", 8).cast("int").alias("b")
    ).agg(
        (F.max("bx") - F.min("bx") + 1).alias("span_x"),
        (F.max("by_") - F.min("by_") + 1).alias("span_y"),
    )
    lin_spans = coded.groupBy(F.col("bx").cast("int").alias("b")).agg(
        (F.max("bx") - F.min("bx") + 1).alias("span_x"),
        (F.max("by_") - F.min("by_") + 1).alias("span_y"),
    )

    def summarize(spans: DataFrame, label: str) -> DataFrame:
        return spans.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.round(F.avg("span_x"), 6).alias("avg_span_x"),
            F.round(F.avg("span_y"), 6).alias("avg_span_y"),
        ).select(
            F.lit(label).alias("layout"),
            "n_buckets",
            "avg_span_x",
            "avg_span_y",
        )

    return (
        summarize(z_spans, "zorder")
        .unionByName(summarize(lin_spans, "single_key"))
        .orderBy("layout")
    )


@register(
    "compaction_plan_by_month",
    oracle="""
    WITH part AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT l_suppkey % 16) AS BIGINT)
                   AS current_files
        FROM lineitem
        GROUP BY strftime(l_shipdate, '%Y-%m')
    )
    SELECT ship_month, n_rows, current_files,
           CAST(n_rows * 120 AS BIGINT) AS est_bytes,
           CAST(GREATEST(1, CEIL(n_rows * 120.0 / (128 * 1024 * 1024)))
                AS BIGINT) AS target_files,
           CAST(CEIL(CAST(n_rows AS DOUBLE)
                     / GREATEST(1, CEIL(n_rows * 120.0
                                        / (128 * 1024 * 1024))))
                AS BIGINT) AS rows_per_file,
           CAST(current_files
                - GREATEST(1, CEIL(n_rows * 120.0 / (128 * 1024 * 1024)))
                AS BIGINT) AS files_saved
    FROM part
    ORDER BY ship_month
    """,
    doc="Small-file compaction planner per ship-month partition — the "
    "table-maintenance pass every large parquet/Delta deployment "
    "schedules: per partition, current file count (modeled here as "
    "distinct writer-task buckets, l_suppkey%16 — each shuffle task "
    "that touched the partition left a file), estimated bytes from a "
    "fixed 120 B/row model, the target file count at a 128 MB goal "
    "size, rows per compacted file, and files saved. The 120 B/row "
    "width is a stated model constant (real deployments read it from "
    "file footers); all math is integer/half-even-free so both "
    "engines agree exactly. Scale shape: one groupBy(month) over "
    "map-side-combined counts; the plan output is "
    "partition-cardinality and drives `coalesce`/rewrite jobs sized "
    "per partition — the standard OPTIMIZE loop. At 100 TB the same "
    "query runs on the file-metadata table instead of raw rows, "
    "making it metadata-only.",
    tags=("warehouse", "layout", "A10", "A8"),
)
def compaction_plan_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    goal = 128 * 1024 * 1024
    part = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(F.col("l_suppkey") % 16).alias("current_files"),
    )
    target = F.greatest(F.lit(1), F.ceil(F.col("n_rows") * 120.0 / goal))
    return part.select(
        "ship_month",
        "n_rows",
        "current_files",
        (F.col("n_rows") * 120).cast("bigint").alias("est_bytes"),
        target.cast("bigint").alias("target_files"),
        F.ceil(F.col("n_rows").cast("double") / target)
        .cast("bigint")
        .alias("rows_per_file"),
        (F.col("current_files") - target).cast("bigint").alias("files_saved"),
    ).orderBy("ship_month")


def _hilbert_step_exprs(i: int, b: int, spark_side: bool) -> tuple[str, str, str]:
    """Expressions for one unrolled step of the classic Hilbert xy->d walk
    (Wikipedia's ``xy2d``: quadrant digit + rotate/flip), from state
    ``(x{i}, y{i}, d{i})`` to ``(x{i+1}, y{i+1}, d{i+1})``. rx/ry are the
    bit-``b`` quadrant flags; the (3*rx) XOR ry digit is spelled as a CASE
    over the four rx/ry combinations because XOR spellings differ across
    engines while CASE text is shared."""
    if spark_side:
        rx = f"(shiftright(x{i}, {b}) & 1)"
        ry = f"(shiftright(y{i}, {b}) & 1)"
    else:
        rx = f"((x{i} >> {b}) & 1)"
        ry = f"((y{i} >> {b}) & 1)"
    digit = (
        f"CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0"
        f" WHEN {rx} = 0 AND {ry} = 1 THEN 1"
        f" WHEN {rx} = 1 AND {ry} = 1 THEN 2 ELSE 3 END"
    )
    x_new = (
        f"CASE WHEN {ry} = 1 THEN x{i}"
        f" WHEN {rx} = 1 THEN 255 - y{i} ELSE y{i} END"
    )
    y_new = (
        f"CASE WHEN {ry} = 1 THEN y{i}"
        f" WHEN {rx} = 1 THEN 255 - x{i} ELSE x{i} END"
    )
    d_new = f"d{i} + {1 << (2 * b)} * ({digit})"
    return x_new, y_new, d_new


def _hilbert_sql_ctes() -> str:
    """DuckDB CTE chain appended after ``coded``: adds ``hcoded`` with the
    16-bit Hilbert index ``h`` of (bx, by_). Step states use distinct
    column names (x0..x8) so alias/lateral-reference resolution can never
    diverge between engines."""
    parts = [
        ", h0 AS (SELECT bx, by_, z, bx AS x0, by_ AS y0, 0 AS d0"
        " FROM coded)"
    ]
    for i, b in enumerate(range(7, -1, -1)):
        x_new, y_new, d_new = _hilbert_step_exprs(i, b, spark_side=False)
        parts.append(
            f", h{i + 1} AS (SELECT bx, by_, z, {x_new} AS x{i + 1},"
            f" {y_new} AS y{i + 1}, {d_new} AS d{i + 1} FROM h{i})"
        )
    parts.append(", hcoded AS (SELECT bx, by_, z, d8 AS h FROM h8)")
    return "".join(parts)


def _hilbert_coded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bx/by_/z plus the 16-bit Hilbert index ``h`` — Spark twin of
    :func:`_hilbert_sql_ctes`, all whole-stage-codegen integer math."""
    df = _binned_coded(spark, sf_dir).select(
        "bx",
        "by_",
        "z",
        F.col("bx").alias("x0"),
        F.col("by_").alias("y0"),
        F.lit(0).alias("d0"),
    )
    for i, b in enumerate(range(7, -1, -1)):
        x_new, y_new, d_new = _hilbert_step_exprs(i, b, spark_side=True)
        df = df.select(
            "bx",
            "by_",
            "z",
            F.expr(x_new).alias(f"x{i + 1}"),
            F.expr(y_new).alias(f"y{i + 1}"),
            F.expr(d_new).alias(f"d{i + 1}"),
        )
    return df.select("bx", "by_", "z", F.col("d8").alias("h"))


@register(
    "hilbert_layout",
    oracle=_ORACLE_BINNED
    + _hilbert_sql_ctes()
    + """
    SELECT CAST(h >> 8 AS INT) AS bucket_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(bx) AS min_bx, MAX(bx) AS max_bx,
           MIN(by_) AS min_by, MAX(by_) AS max_by
    FROM hcoded
    GROUP BY bucket_id
    ORDER BY bucket_id
    """,
    doc="Hilbert-curve layout statistics on the same 256x256 bin grid as "
    "zorder_layout: per curve-bucket (h >> 8, one would-be file) row "
    "count and min/max rectangle of both bin coordinates. The xy->d "
    "transform is the classic quadrant-digit + rotate/flip walk, "
    "unrolled into 8 integer CASE steps that run identically (and "
    "fully inside whole-stage codegen) on both engines. Hilbert is "
    "what Iceberg/Databricks use beyond ZORDER because consecutive "
    "curve positions are always grid-adjacent — no Z jump — so bucket "
    "rectangles stay tight everywhere. Scale shape identical to "
    "zorder_layout: broadcast 1-row bounds onto the scan, one "
    "256-group aggregate; the curve math adds zero shuffles.",
    tags=("layout", "zorder", "A10", "F8"),
)
def hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    coded = _hilbert_coded(spark, sf_dir)
    return (
        coded.groupBy(F.shiftright("h", 8).cast("int").alias("bucket_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("bx").alias("min_bx"),
            F.max("bx").alias("max_bx"),
            F.min("by_").alias("min_by"),
            F.max("by_").alias("max_by"),
        )
        .orderBy("bucket_id")
    )


@register(
    "hilbert_vs_zorder_locality",
    oracle=_ORACLE_BINNED
    + _hilbert_sql_ctes()
    + """
    , h_spans AS (
        SELECT CAST(h >> 8 AS INT) AS b,
               MAX(bx) - MIN(bx) + 1 AS span_x,
               MAX(by_) - MIN(by_) + 1 AS span_y
        FROM hcoded GROUP BY b
    ), z_spans AS (
        SELECT CAST(z >> 8 AS INT) AS b,
               MAX(bx) - MIN(bx) + 1 AS span_x,
               MAX(by_) - MIN(by_) + 1 AS span_y
        FROM hcoded GROUP BY b
    )
    SELECT layout, n_buckets, avg_span_x, avg_span_y, max_span_x,
           max_span_y FROM (
        SELECT 'hilbert' AS layout,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               ROUND(AVG(span_x), 6) AS avg_span_x,
               ROUND(AVG(span_y), 6) AS avg_span_y,
               MAX(span_x) AS max_span_x, MAX(span_y) AS max_span_y
        FROM h_spans
        UNION ALL
        SELECT 'zorder', CAST(COUNT(*) AS BIGINT),
               ROUND(AVG(span_x), 6), ROUND(AVG(span_y), 6),
               MAX(span_x), MAX(span_y)
        FROM z_spans
    ) ORDER BY layout
    """,
    doc="Head-to-head locality of the two space-filling curves over "
    "identical bins and bucket sizes: per-bucket bounding-rectangle "
    "spans (avg and max) for Hilbert vs Z-order. Average spans come "
    "out similar, but Z-order's worst buckets straddle the curve's "
    "power-of-two jumps and can span half the grid in one dimension, "
    "while Hilbert's adjacency guarantee keeps the MAX span tight — "
    "max_span is exactly the tail-latency risk a reader's file-pruning "
    "faces, and the reason Hilbert clustering exists as an OPTIMIZE "
    "option. Same zero-extra-shuffle shape as the layout queries.",
    tags=("layout", "zorder", "A7", "A10"),
)
def hilbert_vs_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    coded = barrier(_hilbert_coded(spark, sf_dir), "coded")

    def spans(bucket_col: str) -> DataFrame:
        return coded.groupBy(
            F.shiftright(bucket_col, 8).cast("int").alias("b")
        ).agg(
            (F.max("bx") - F.min("bx") + 1).alias("span_x"),
            (F.max("by_") - F.min("by_") + 1).alias("span_y"),
        )

    def summarize(sp: DataFrame, label: str) -> DataFrame:
        return sp.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.round(F.avg("span_x"), 6).alias("avg_span_x"),
            F.round(F.avg("span_y"), 6).alias("avg_span_y"),
            F.max("span_x").alias("max_span_x"),
            F.max("span_y").alias("max_span_y"),
        ).select(
            F.lit(label).alias("layout"),
            "n_buckets",
            "avg_span_x",
            "avg_span_y",
            "max_span_x",
            "max_span_y",
        )

    return (
        summarize(spans("h"), "hilbert")
        .unionByName(summarize(spans("z"), "zorder"))
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# Consistent-hashing shard rebalance audit
# ---------------------------------------------------------------------------

from flu_data_pipeline_spark.functions.hashing import hash64, hash64_sql

_VNODES = 4
_SHARDS_OLD = 8
_SHARDS_NEW = 10

_RING_SQL = f"""
    ring AS (
        SELECT s.s AS shard,
               {hash64_sql("'shard:' || CAST(s.s AS VARCHAR) || ':' "
                           "|| CAST(v.v AS VARCHAR)")} AS pt
        FROM range(0, {_SHARDS_NEW}) s(s), range(0, {_VNODES}) v(v)
    )"""


def _ASSIGN_SQL(name: str, nshards: int) -> str:
    return f"""
    r{nshards} AS (SELECT * FROM ring WHERE shard < {nshards}),
    m{nshards} AS (
        SELECT d.doc_id,
               COALESCE(MIN(CASE WHEN r.pt >= d.p THEN r.pt END),
                        (SELECT MIN(pt) FROM r{nshards})) AS apt
        FROM docs d CROSS JOIN r{nshards} r
        GROUP BY d.doc_id
    ),
    {name} AS (
        SELECT m.doc_id, r.shard
        FROM m{nshards} m JOIN r{nshards} r ON m.apt = r.pt
    )"""


@register(
    "shard_rebalance_audit",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id,
               {hash64_sql('CAST(doc_id AS VARCHAR)')} AS p
        FROM documents
    ),
    {_RING_SQL},
    {_ASSIGN_SQL('a_old', _SHARDS_OLD)},
    {_ASSIGN_SQL('a_new', _SHARDS_NEW)},
    ringcmp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN o.shard <> n.shard THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_moved
        FROM a_old o JOIN a_new n ON o.doc_id = n.doc_id
    ),
    modcmp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN p % {_SHARDS_OLD} <> p % {_SHARDS_NEW}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
        FROM docs
    )
    SELECT 'modulo' AS scheme, n_docs, n_moved,
           ROUND(CAST(n_moved AS DOUBLE) / n_docs, 6) AS moved_pct
    FROM modcmp
    UNION ALL
    SELECT 'ring', n_docs, n_moved,
           ROUND(CAST(n_moved AS DOUBLE) / n_docs, 6)
    FROM ringcmp
    ORDER BY scheme
    """,
    doc=f"Shard-rebalance audit for scaling {_SHARDS_OLD} -> "
    f"{_SHARDS_NEW} shards: under modulo placement (hash % N) almost "
    "every document moves when N changes, while a consistent-hash ring "
    f"({_VNODES} virtual points per shard on the 56-bit hash circle, "
    "clockwise-successor assignment with wraparound) moves only the "
    "documents on the new shards' arcs — the placement-stability "
    "argument behind every distributed KV/cache/shard layer, proven "
    "here numerically from the portable hash. Scale shape: the ring is "
    f"{_SHARDS_NEW * _VNODES} broadcast rows; assignment is a "
    "conditional-min aggregation over the doc x ring fan-out (40x "
    "map-side rows, no shuffle beyond the doc-keyed agg), and the "
    "old/new comparison joins two doc-keyed frames.",
    tags=("layout", "ops", "A10"),
)
def shard_rebalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", hash64(F.col("doc_id").cast("string")).alias("p")
    )
    ring = spark.createDataFrame(
        [(s, v) for s in range(_SHARDS_NEW) for v in range(_VNODES)],
        "shard int, v int",
    ).select(
        "shard",
        hash64(
            F.concat(
                F.lit("shard:"),
                F.col("shard").cast("string"),
                F.lit(":"),
                F.col("v").cast("string"),
            )
        ).alias("pt"),
    )

    def assign(nshards: int, out: str) -> DataFrame:
        r = ring.filter(F.col("shard") < nshards)
        gmin = r.agg(F.min("pt").alias("gmin"))
        m = (
            docs.crossJoin(F.broadcast(r))
            .groupBy("doc_id")
            .agg(
                F.min(
                    F.when(F.col("pt") >= F.col("p"), F.col("pt"))
                ).alias("mp")
            )
            .crossJoin(F.broadcast(gmin))
            .select(
                "doc_id", F.coalesce("mp", "gmin").alias("apt")
            )
        )
        return m.join(
            F.broadcast(r), m.apt == r.pt
        ).select("doc_id", F.col("shard").alias(out))

    a_old = assign(_SHARDS_OLD, "shard_old")
    a_new = assign(_SHARDS_NEW, "shard_new")
    ringcmp = (
        a_old.join(a_new, "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("shard_old") != F.col("shard_new"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_moved"),
        )
        .select(
            F.lit("ring").alias("scheme"),
            "n_docs",
            "n_moved",
            F.round(F.col("n_moved").cast("double") / F.col("n_docs"), 6)
            .alias("moved_pct"),
        )
    )
    modcmp = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.when(
                F.col("p") % _SHARDS_OLD != F.col("p") % _SHARDS_NEW, 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_moved"),
    ).select(
        F.lit("modulo").alias("scheme"),
        "n_docs",
        "n_moved",
        F.round(F.col("n_moved").cast("double") / F.col("n_docs"), 6).alias(
            "moved_pct"
        ),
    )
    return modcmp.union(ringcmp).orderBy("scheme")


def _dpp_fact_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf) a ship-month-partitioned copy of
    lineitem — the physical layout SURVEY §7's design rule prescribes
    for the fact table (partition by coarse time prefix so
    dimension-derived filters prune at the directory level). One file
    per month partition (repartition on the partition column before the
    write), so file counts are deterministic."""

    def build(target: str) -> None:
        (
            load_table(spark, sf_dir, "lineitem")
            .withColumn(
                "ship_month", F.date_format("l_shipdate", "yyyy-MM")
            )
            .repartition("ship_month")
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(target)
        )

    return derived_table(
        "dpp", sf_dir, "lineitem_by_month", ("lineitem",), build
    )


@register(
    "dpp_pruning_gain",
    oracle="""
    WITH m AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY 1
    ), sel AS (
        SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= DATE '1995-01-01'
          AND o_orderdate < DATE '1995-04-01'
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS months_total,
               CAST(SUM(n_rows) AS BIGINT) AS rows_total
        FROM m
    ), scanned AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS months_scanned,
               CAST(SUM(m.n_rows) AS BIGINT) AS rows_scanned
        FROM m JOIN sel USING (ship_month)
    )
    SELECT m.ship_month, m.n_rows,
           tot.months_total, scanned.months_scanned,
           CAST(tot.months_total - scanned.months_scanned AS BIGINT)
               AS files_skipped,
           CAST(tot.rows_total - scanned.rows_scanned AS BIGINT)
               AS rows_skipped,
           ROUND(100.0 * (tot.rows_total - scanned.rows_scanned)
                 / tot.rows_total, 6) AS pct_rows_skipped
    FROM m JOIN sel USING (ship_month)
    CROSS JOIN tot CROSS JOIN scanned
    ORDER BY m.ship_month
    """,
    doc="Dynamic partition pruning, REGISTERED AND SELF-PROVING: the "
    "builder materializes lineitem partitioned by ship_month (one "
    "parquet file per month — the SURVEY §7 'facts partitioned by "
    "epiweek/time prefix' layout), joins it to a dimension whose "
    "filter (urgent-priority orders placed in 1995 Q1 → 3 of 83 "
    "months) reaches the fact ONLY through the join key, and then "
    "ASSERTS the physical plan carries a dynamicpruning expression in "
    "the fact scan's PartitionFilters — if Spark ever stops planning "
    "DPP here, the query raises and the correctness gate records it "
    "red. Output quantifies the gain a reader gets at the directory "
    "level: per scanned month row counts plus files/rows skipped "
    "(80/83 partitions — ~96%% of fact rows never read). The oracle "
    "computes identical arithmetic from the unpartitioned table, so "
    "the numbers are engine-checked while the pruning itself is "
    "plan-checked. Scale shape: the dim aggregate is 3 rows "
    "(broadcast; DPP reuses the broadcast exchange as the partition "
    "filter), the fact-side aggregate is per-month partial agg.",
    tags=("layout", "dpp", "S8", "A10", "scale-proof"),
    bench=True,
)
def dpp_pruning_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = read_parquet(spark, _dpp_fact_path(spark, sf_dir))
    sel = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("date"))
        )
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("ship_month")
        )
        .distinct()
    )
    scanned_months = fact.join(F.broadcast(sel), "ship_month").groupBy(
        "ship_month"
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    # Living DPP proof: the fact scan must carry a dynamicpruning
    # partition filter (Spark reuses the dim broadcast as the filter).
    plan = (
        scanned_months._jdf.queryExecution().executedPlan().toString()
    )
    if "dynamicpruning" not in plan.lower():
        raise AssertionError(
            "dynamic partition pruning did not engage on the "
            "ship_month-partitioned fact scan; plan:\n" + plan[:2000]
        )
    totals = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("m"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("months_total"),
            F.sum("n").cast("bigint").alias("rows_total"),
        )
    )
    scanned_tot = scanned_months.agg(
        F.count(F.lit(1)).cast("bigint").alias("months_scanned"),
        F.sum("n_rows").cast("bigint").alias("rows_scanned"),
    )
    return (
        scanned_months.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(scanned_tot))
        .select(
            "ship_month",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            "months_total",
            "months_scanned",
            (F.col("months_total") - F.col("months_scanned"))
            .cast("bigint")
            .alias("files_skipped"),
            (F.col("rows_total") - F.col("rows_scanned"))
            .cast("bigint")
            .alias("rows_skipped"),
            F.round(
                100.0
                * (F.col("rows_total") - F.col("rows_scanned"))
                / F.col("rows_total"),
                6,
            ).alias("pct_rows_skipped"),
        )
        .orderBy("ship_month")
    )


def _probe_once(
    spark: SparkSession,
    name: str,
    conf_keys: tuple[str, ...],
    fn,
) -> None:
    """Run an executed-probe assertion ONCE per (session, conf state).

    Self-proving queries pay their probe inside the builder, so a bench
    that times a query 6 times would re-pay the probe 6 times — this
    memoizes a green probe on the session (a custom runtime conf keyed
    to the probe name), fingerprinted by the conf values the probe's
    outcome depends on. Flipping a gating conf (the negative tests do)
    changes the fingerprint, so the probe re-runs and still RAISES —
    memoization never caches across the conf states it is sensitive
    to, only across repeat runs in the same state."""
    def _val(k: str) -> str:
        # no string default: Spark 4 type-validates defaults of typed
        # confs; a bare get returns the conf's own default instead
        try:
            return str(spark.conf.get(k))
        except Exception:
            return "<unset>"

    fp = "|".join(f"{k}={_val(k)}" for k in conf_keys) or "<none>"
    marker = f"spark.flu_data_pipeline.probe.{name}.provenFor"
    if spark.conf.get(marker, None) == fp:
        return
    fn()
    spark.conf.set(marker, fp)


def _assert_exchange_reuse(spark: SparkSession, symmetric: bool = True) -> None:
    """AQE-era plan canary: ReusedExchange only appears in the FINAL
    adaptive plan, which exists only after execution — a builder cannot
    collect its own output to inspect it. So this probe executes a
    TINY synthetic query of the same shape (aggregate self-joined to
    itself) and asserts the planner reused the shuffle. ~100k synthetic
    rows, sub-second, scale-independent; the one collect() moves a
    handful of aggregate rows.

    Reuse requires the branches to be COLUMN-SYMMETRIC: with
    ``symmetric=True`` the join condition references (k, n) on both
    sides, the pruned subtrees are identical, and Spark 4.1 reuses the
    exchange under every conf combination we could construct (AQE
    stage cache and the static rule both ignore
    spark.sql.exchange.reuse.enabled=false here — measured). With
    ``symmetric=False`` (the negative-test arm) the join needs only
    ``k`` from the build side, column pruning differentiates the
    subtrees, and the aggregate genuinely executes twice — the
    real-world regression this canary guards: an innocent projection
    change un-sharing a dedup query's heaviest stage."""
    probe = spark.range(0, 100_000, 1, 8).select(
        (F.col("id") % 100).alias("k"), F.col("id")
    )
    r = probe.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    a, b = r.alias("a"), r.alias("b")
    if symmetric:
        cond = (F.col("a.n") == F.col("b.n")) & (
            F.col("a.k") < F.col("b.k")
        )
    else:
        cond = F.col("a.k") == F.col("b.k")
    j = (
        a.join(b, cond)
        .groupBy(F.col("a.n").alias("n"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    if "ReusedExchange" not in plan:
        raise AssertionError(
            "shared-subtree self-join did not reuse its exchange (the "
            "aggregate would execute twice); final plan:\n" + plan[:2000]
        )


@register(
    "exchange_reuse_selfjoin",
    oracle="""
    WITH r AS (
        SELECT l_orderkey, l_orderkey // 1000 AS blk,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT a.n, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM r a JOIN r b
      ON a.blk = b.blk AND a.n = b.n AND a.l_orderkey < b.l_orderkey
    GROUP BY a.n
    ORDER BY a.n
    """,
    doc="Exchange reuse, REGISTERED AND SELF-PROVING: counts blocked "
    "pairs of equal-size orders where BOTH join sides derive from the "
    "same per-order aggregate — the shared-subtree self-join shape "
    "every inverted-index dedup query in this repo leans on. Spark "
    "executes the aggregate's shuffle ONCE and feeds the second side "
    "a ReusedExchange; because that node only exists in the final "
    "adaptive plan (post-execution), the builder proves it on an "
    "executed synthetic probe of the identical shape "
    "(_assert_exchange_reuse) rather than on the returned frame — "
    "the AQE analogue of the static-plan assertions (DPP, bucketed, "
    "WindowGroupLimit). Raises, and goes red in the correctness "
    "gate, if reuse regresses; negative-tested via the "
    "column-ASYMMETRIC arm of the probe, where pruning "
    "differentiates the subtrees and the aggregate genuinely runs "
    "twice — the documented pitfall this canary guards (an innocent "
    "projection change un-sharing a dedup query's heaviest stage; "
    "cousin of the brand_affinity_lift expr-id-drift lesson).",
    tags=("layout", "A10", "J6", "scale-proof"),
    bench=True,
)
def exchange_reuse_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    _probe_once(
        spark,
        "exchangeReuse",
        ("spark.sql.adaptive.enabled",),
        lambda: _assert_exchange_reuse(spark),
    )
    li = load_table(spark, sf_dir, "lineitem")
    r = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    r = r.select(
        "l_orderkey", F.expr("l_orderkey div 1000").alias("blk"), "n"
    )
    a, b = r.alias("a"), r.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.n") == F.col("b.n"))
            & (F.col("a.l_orderkey") < F.col("b.l_orderkey")),
        )
        .groupBy(F.col("a.n").alias("n"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("n")
    )


def _assert_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> None:
    """Executed-probe canary for Spark's runtime bloom-filter join
    pruning (InjectRuntimeFilter): a selective filter on the dim side
    of a shuffle join makes Spark build a bloom filter of the surviving
    join keys and apply ``might_contain`` on the fact side BELOW its
    exchange — at 100 TB the probe-side shuffle then moves only rows
    that can possibly match, the runtime analogue of static partition
    pruning. The rule is size-gated (application side must scan >10 GB
    by default — correct in production, unreachable on test data), so
    the probe temporarily lowers the size thresholds and disables
    broadcast (bloom injection targets shuffle joins; the tiny dim
    would otherwise broadcast), executes the join, and asserts BOTH
    halves of the optimization in the final plan: the
    ``bloom_filter_agg`` build on the dim side and the
    ``might_contain`` filter on the fact side. Confs are restored in
    a finally, so the session the driver shares is untouched; the
    ``...bloomFilter.enabled`` master switch is deliberately NOT set,
    so the probe raises if the feature is disabled or regresses
    (negative-tested in tests/test_plans.py)."""
    probe_confs = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in probe_confs}
    for k, v in probe_confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
        dim = (
            load_table(spark, sf_dir, "part")
            .filter(F.col("p_size") == 1)
            .select("p_partkey")
        )
        j = (
            li.join(dim, li.l_partkey == dim.p_partkey)
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        if "might_contain" not in plan or "bloom_filter_agg" not in plan:
            raise AssertionError(
                "selective-dim shuffle join did not plan a runtime "
                "bloom filter (bloom_filter_agg build + might_contain "
                "probe-side prune); plan:\n" + plan[:2000]
            )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@register(
    "runtime_bloom_filter_join",
    oracle="""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size = 1
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    doc="Runtime bloom-filter join pruning, REGISTERED AND "
    "SELF-PROVING: revenue by brand for size-1 parts — the "
    "selective-dim/fact join shape where Spark's InjectRuntimeFilter "
    "builds a bloom filter of surviving dim keys at runtime and "
    "prunes the fact side BELOW its shuffle (``might_contain`` over "
    "xxhash64 of the join key), the runtime sibling of DPP for "
    "non-partition join columns. The rule is size-gated for real "
    "clusters (application side >10 GB), so the builder proves it on "
    "an executed probe of the identical shape with the thresholds "
    "temporarily lowered (_assert_runtime_bloom_filter, conf-restored "
    "in a finally) — the same executed-probe style as "
    "exchange_reuse_selfjoin. Raises, and goes red in the correctness "
    "gate, if Spark stops injecting the filter; negative-tested with "
    "spark.sql.optimizer.runtime.bloomFilter.enabled=false "
    "(tests/test_plans.py). bloom_semi_prune is the hand-built "
    "sketch twin; this query gates the engine-native path. Returned "
    "values are conf-independent (exact integer cents).",
    tags=("layout", "J6", "A10", "scale-proof"),
    bench=True,
)
def runtime_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    _probe_once(
        spark,
        "runtimeBloomFilter",
        ("spark.sql.optimizer.runtime.bloomFilter.enabled",),
        lambda: _assert_runtime_bloom_filter(spark, sf_dir),
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 1)
        .select("p_partkey", "p_brand")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("p_brand")
    )


@register(
    "topk_window_group_limit",
    oracle="""
    SELECT c_nationkey, c_name, c_acctbal, rk
    FROM (
        SELECT c_nationkey, c_name, c_acctbal,
               row_number() OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_acctbal DESC, c_custkey
               ) AS rk
        FROM customer
    )
    WHERE rk <= 3
    ORDER BY c_nationkey, rk
    """,
    doc="Top-k-per-group window, REGISTERED AND SELF-PROVING: top-3 "
    "customers per nation by balance via row_number <= 3, ASSERTING "
    "the physical plan carries WindowGroupLimit in BOTH Partial and "
    "Final mode. Partial prunes each map partition to its local top-3 "
    "BEFORE the shuffle, so the exchange moves O(groups * k) rows "
    "instead of the whole table — at 100 TB this is the difference "
    "between shuffling kilobytes and shuffling the fact table; rank "
    "semantics are untouched (the Final pass re-ranks within the true "
    "group). If Spark ever stops inserting the limit pushdown here "
    "(the optimization is conf-gated: "
    "spark.sql.optimizer.windowGroupLimitThreshold), the query raises "
    "and the correctness gate records it red; negative-tested with "
    "the threshold set to -1 (tests/test_plans.py). Ordering is "
    "total (balance desc, custkey tiebreak), so output is "
    "deterministic and the oracle compares exactly.",
    tags=("layout", "O3", "W1", "scale-proof"),
    bench=True,
)
def topk_window_group_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_name", "c_acctbal"
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    topk = cust.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 3
    )
    plan = topk._jdf.queryExecution().executedPlan().toString()
    wgl_lines = [l for l in plan.splitlines() if "WindowGroupLimit" in l]
    if not (
        any("Partial" in l for l in wgl_lines)
        and any("Final" in l for l in wgl_lines)
    ):
        raise AssertionError(
            "top-k window did not plan WindowGroupLimit (Partial + "
            "Final map-side pruning); plan:\n" + plan[:2000]
        )
    return topk.select(
        "c_nationkey", "c_name", "c_acctbal", "rk"
    ).orderBy("c_nationkey", "rk")


def _bucketed_table(
    spark: SparkSession, sf_dir: str, src: str, key: str, buckets: int = 8
) -> str:
    """Materialize (once per sf) a bucketed, bucket-sorted copy of
    ``src`` keyed on ``key`` — the at-rest co-location layout that lets
    every subsequent join/aggregate on the key run WITHOUT a shuffle.
    External table (explicit path) so the data survives across
    sessions; a stale copy is dropped before its rebuild. The bucket
    spec Spark's planner reads lives in the session catalog, not in the
    files, so a session that finds a fresh copy it has no catalog entry
    for registers one over the existing files instead of rewriting
    them."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    name = f"bkt_{src}_{tag}"

    def build(path: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_bucketed(
            load_table(spark, sf_dir, src), name, path, buckets, (key,)
        )

    path = derived_table("bucketed", sf_dir, src, (src,), build, tag=tag)
    if not spark.catalog.tableExists(name):
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in load_table(spark, sf_dir, src).schema
        )
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {buckets} BUCKETS "
            f"LOCATION '{path}'"
        )
    return name


@register(
    "bucketed_join_no_shuffle",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Bucketed co-located join, REGISTERED AND SELF-PROVING: the "
    "builder materializes orders and lineitem bucketed (8 buckets, "
    "bucket-sorted) on the join key — the at-rest layout SURVEY §7 "
    "prescribes for repeated fact-fact joins — joins them under a "
    "MERGE hint, and ASSERTS the physical plan contains a "
    "SortMergeJoin with NO Exchange on either side: the bucket spec "
    "satisfies the join's hashpartitioning requirement, so the "
    "shuffle every unbucketed big-big join pays simply disappears. If "
    "Spark ever stops honoring the bucket layout here, the query "
    "raises and the correctness gate records it red. At 100 TB this "
    "is the difference between re-shuffling the fact table per query "
    "and paying the layout cost ONCE at write time. Output is a "
    "priority-level revenue rollup the oracle verifies from the "
    "unbucketed views (bucketing must not change results, only "
    "plans).",
    tags=("layout", "bucketing", "J6", "A10", "scale-proof"),
    bench=True,
)
def bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    to = _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    tl = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    o = spark.table(to).select("o_orderkey", "o_orderpriority")
    li = spark.table(tl).select("l_orderkey", "l_extendedprice")
    j = o.join(
        li.hint("merge"), o.o_orderkey == li.l_orderkey
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    if "SortMergeJoin" not in plan or "Exchange hashpartitioning" in plan:
        raise AssertionError(
            "bucketed co-located join did not plan shuffle-free; plan:\n"
            + plan[:2000]
        )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )
