"""Warehouse-modeling operators: SCD Type-2, unpivot, binning, robust stats.

The reference's star schema is SCD Type-1 (full overwrite daily —
dags/flu_data_airflow_v2.py:481-547 drops and recreates; 'No additional
versioning logic is needed' per its documentation PDF). These queries add
the standard warehouse surface beyond that: change-history dimensions
(SCD2), wide→long reshaping (unpivot), equi-width histograms, and
winsorized robust aggregates — all single-pass declarative plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import load_table
from flu_data_pipeline_spark.operators.materialize import barrier
from flu_data_pipeline_spark.plans.registry import register


#: SCD2 history of order priority per customer — shared by the history
#: build and the as-of snapshot oracle.
_SCD2_HISTORY_SQL = """
    h AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey,
               o_orderpriority,
               LAG(o_orderpriority) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev
        FROM orders
    ), chg AS (
        SELECT o_custkey, d, o_orderkey, o_orderpriority
        FROM h WHERE prev IS NULL OR prev <> o_orderpriority
    ), scd2 AS (
        SELECT o_custkey, o_orderpriority AS priority,
               d AS valid_from,
               LEAD(d) OVER (
                   PARTITION BY o_custkey ORDER BY d, o_orderkey
               ) AS valid_to,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey ORDER BY d, o_orderkey
               ) AS INT) AS version_num
        FROM chg
    )
"""


@register(
    "scd2_priority_history",
    oracle=f"""
    WITH {_SCD2_HISTORY_SQL}
    SELECT o_custkey, priority, valid_from, valid_to, version_num
    FROM scd2
    """,
    doc="SCD Type-2 dimension build from an ordered change stream: per "
    "customer, collapse consecutive equal attribute values (lag-compare) "
    "into versioned rows with [valid_from, valid_to) intervals "
    "(lead-close; open current version has NULL valid_to). Two windows "
    "over the SAME partitioning key — Spark reuses one shuffle+sort for "
    "both, so the whole history build costs a single exchange. Ordering "
    "pinned by (date, orderkey) — orderkey unique breaks date ties "
    "identically on both engines.",
    tags=("scd2", "window", "W1"),
    bench=True,
)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey",
        "o_orderpriority",
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    chg = (
        orders.withColumn("prev", F.lag("o_orderpriority").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority")))
        .drop("prev")
    )
    return chg.select(
        "o_custkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("d").alias("valid_from"),
        F.lead("d").over(w).alias("valid_to"),
        F.row_number().over(w).alias("version_num"),
    )


@register(
    "unpivot_measures",
    oracle="""
    SELECT measure,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(val), 6) AS avg_val,
           ROUND(MAX(val), 6) AS max_val
    FROM (SELECT l_quantity, l_extendedprice, l_discount FROM lineitem)
    UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
    GROUP BY measure
    ORDER BY measure
    """,
    doc="Wide→long reshape (unpivot / melt): three lineitem measures into "
    "(measure, val) rows, then per-measure stats. Spark's native "
    "unpivot is an Expand node — one scan, rows×3 generated in the "
    "same stage, no join or shuffle before the final aggregate.",
    tags=("unpivot", "pivot", "A7"),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount"
    )
    long = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return (
        long.groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("val"), 6).alias("avg_val"),
            F.round(F.max("val"), 6).alias("max_val"),
        )
        .orderBy("measure")
    )


@register(
    "histogram_equiwidth",
    oracle="""
    WITH b AS (
        SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    )
    SELECT LEAST(CAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 10.0)) AS INT),
                 9) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS bucket_min,
           ROUND(MAX(o_totalprice), 2) AS bucket_max
    FROM orders, b
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Equi-width histogram: 10 buckets over the observed [min, max] "
    "price range. The 1-row bounds aggregate broadcasts into the "
    "binning expression (no second full-table pass materialized to the "
    "driver); identical double arithmetic on both engines makes bucket "
    "assignment exact, no tolerance needed.",
    tags=("histogram", "binning", "A7", "A11"),
)
def histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    bucket = F.least(
        F.floor(
            (F.col("o_totalprice") - F.col("lo"))
            / ((F.col("hi") - F.col("lo")) / 10.0)
        ).cast("int"),
        F.lit(9),
    )
    return (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("bucket_min"),
            F.round(F.max("o_totalprice"), 2).alias("bucket_max"),
        )
        .orderBy("bucket")
    )


@register(
    "winsorize_stats",
    oracle="""
    WITH q AS (
        SELECT ROUND(quantile_cont(o_totalprice, 0.01), 4) AS p01,
               ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(LEAST(GREATEST(o_totalprice, p01), p99)), 6)
               AS avg_winsorized,
           CAST(SUM(CASE WHEN o_totalprice < p01 OR o_totalprice > p99
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM orders, q
    """,
    doc="Winsorized mean: clamp to the exact [p1, p99] interpolated "
    "percentiles, then average — the robust-statistics pattern for "
    "outlier-heavy measures. Thresholds rounded to 4dp in-query on "
    "both engines so interpolation-order ulps can't flip a clamp "
    "decision at the boundary. Spark computes exact percentile as a "
    "single aggregate (no sort of the full table), broadcast into the "
    "clamp expression.",
    tags=("percentile", "stats", "A7", "A11"),
)
def winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    q = orders.agg(
        F.round(F.expr("percentile(o_totalprice, 0.01)"), 4).alias("p01"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99"))
    return orders.crossJoin(F.broadcast(q)).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(clamped), 6).alias("avg_winsorized"),
        F.sum(
            F.when(
                (F.col("o_totalprice") < F.col("p01"))
                | (F.col("o_totalprice") > F.col("p99")),
                1,
            ).otherwise(0)
        ).alias("n_clamped"),
    )


@register(
    "argmax_battery",
    oracle="""
    SELECT o_custkey,
           o_orderkey AS best_order,
           ROUND(o_totalprice, 2) AS best_price
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_custkey
        ORDER BY o_totalprice DESC, o_orderkey DESC
    ) = 1
    """,
    doc="argmax as a single-pass aggregate: max_by with a composite "
    "(value, key) struct pins ties exactly like an ordered window's "
    "first row — but costs one hash aggregate (partial map-side, then "
    "one shuffle of one row per customer) instead of a full "
    "shuffle+sort of the table. The oracle deliberately uses the "
    "window formulation: two different algorithms must produce "
    "identical rows.",
    tags=("argmax", "A6", "A7"),
)
def argmax_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))").alias(
            "best_order"
        ),
        F.round(F.max("o_totalprice"), 2).alias("best_price"),
    )


#: Equi-depth bucket oracle — shared by ntile_equidepth (window form)
#: and ntile_equidepth_scale (distributed exact-rank form).
_NTILE_EQUIDEPTH_ORACLE = """
    WITH b AS (
        SELECT o_totalprice,
               NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        FROM orders
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM b
    GROUP BY bucket
    ORDER BY bucket
    """


def _equidepth_report(binned: DataFrame) -> DataFrame:
    return (
        binned.groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "ntile_equidepth",
    oracle=_NTILE_EQUIDEPTH_ORACLE,
    doc="Equi-depth (quantile) binning via NTILE(10): near-equal bucket "
    "populations with data-driven edges — the complement of "
    "histogram_equiwidth's fixed-width bins. Deterministic because the "
    "global ordering is pinned by the unique orderkey. Scale note: a "
    "global NTILE is a single-partition sort; ntile_equidepth_scale is "
    "the registered cluster-scale twin (operators/ranking.py "
    "global_ntile — range shuffle + per-partition rank, no "
    "single-partition window) with bit-identical buckets; this entry "
    "pins the small-data semantics.",
    tags=("histogram", "binning", "window", "A7"),
)
def ntile_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return _equidepth_report(
        orders.select("o_totalprice", F.ntile(10).over(w).alias("bucket"))
    )


@register(
    "ntile_equidepth_scale",
    oracle=_NTILE_EQUIDEPTH_ORACLE,
    doc="Cluster-scale twin of ntile_equidepth: the global NTILE(10) "
    "window (every order row through one sorting task) is replaced by "
    "operators/ranking.py global_ntile — range shuffle on "
    "(o_totalprice, o_orderkey), per-partition row_number, broadcast "
    "cumulative offsets over the per-partition counts, exact NTILE "
    "bucket formula map-side in integer arithmetic. Bit-identical "
    "buckets (shared oracle), zero single-partition exchanges.",
    tags=("histogram", "binning", "A7", "scale-twin"),
)
def ntile_equidepth_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flu_data_pipeline_spark.operators.ranking import global_ntile

    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey"
    )
    binned = global_ntile(
        orders, [F.asc("o_totalprice"), F.asc("o_orderkey")], 10, "bucket"
    )
    return _equidepth_report(binned)


@register(
    "custdist_orders_per_customer",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust
    GROUP BY n_orders
    """,
    doc="TPC-H Q13 shape: order-count distribution over ALL customers, "
    "including zero-order ones. The filter lives in the LEFT JOIN's ON "
    "clause (a WHERE would silently drop the never-ordered customers — "
    "the classic outer-join bug this entry pins). Plan: one shuffle on "
    "custkey shared by the join and the first aggregation (co-partitioned "
    "— Catalyst reuses the exchange), then a second aggregation over the "
    "tiny count-histogram. Both stages are partial-agg (map-side combine) "
    "so the final shuffle carries one row per (custkey) / (n_orders).",
    tags=("warehouse", "A7", "A10", "J2"),
)
def custdist_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    joined = cust.join(
        orders,
        (orders.o_custkey == cust.c_custkey)
        & (orders.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_orders")
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "bitmask_active_quarters",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(bit_or(1 << (CAST(quarter(o_orderdate) AS INT) - 1))
                    AS INT) AS quarter_mask
        FROM orders GROUP BY o_custkey
    )
    SELECT quarter_mask,
           CAST(bit_count(quarter_mask) AS INT) AS n_quarters,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM per_cust GROUP BY quarter_mask ORDER BY quarter_mask
    """,
    doc="Bitmap presence encoding: per customer, OR together one bit per "
    "calendar quarter with orders (bit i = Qi+1), then histogram the "
    "16 possible masks with their popcounts. The bitmap-index idiom for "
    "set-membership rollups: bit_or is associative/commutative, so the "
    "per-customer mask map-side combines like any sum — presence over "
    "an arbitrary category set costs ONE int column instead of a "
    "count-distinct expand, and mask algebra (AND/OR of cohorts) stays "
    "cheap downstream at 100 TB. Both engines compute identical "
    "shiftleft/bit_or/bit_count integer semantics.",
    tags=("warehouse", "A10", "F8", "bitmap"),
)
def bitmask_active_quarters(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.expr(
            "cast(bit_or(shiftleft(1, cast(quarter(o_orderdate) as int) - 1))"
            " as int)"
        ).alias("quarter_mask")
    )
    return (
        per_cust.groupBy("quarter_mask")
        .agg(
            F.bit_count("quarter_mask").cast("int").alias("n_quarters"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .select("quarter_mask", "n_quarters", "n_customers")
        .orderBy("quarter_mask")
    )


@register(
    "yoy_weekly_revenue",
    oracle="""
    WITH wk AS (
        SELECT CAST(YEAR(l_shipdate) AS INT) AS yr,
               CAST((dayofyear(l_shipdate) - 1) // 7 AS INT) AS wk,
               CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000)
                    AS BIGINT) AS rev4
        FROM lineitem
        WHERE CAST(YEAR(l_shipdate) AS INT) IN (1996, 1997)
    ), agg AS (
        SELECT yr, wk, CAST(SUM(rev4) AS BIGINT) AS r4
        FROM wk GROUP BY yr, wk
    )
    SELECT a.wk AS wk,
           a.r4 / 10000.0 AS rev_1996,
           b.r4 / 10000.0 AS rev_1997,
           ROUND(CAST(b.r4 AS DOUBLE) / a.r4, 6) AS yoy_ratio
    FROM agg a JOIN agg b ON b.wk = a.wk AND a.yr = 1996 AND b.yr = 1997
    ORDER BY wk
    """,
    doc="Year-over-year weekly revenue (TPC-DS Q2 shape): per-week "
    "revenue for two ship years joined on week number, emitting the "
    "YoY ratio. Week = (dayofyear-1) div 7 — pure integer arithmetic, "
    "identical on both engines (ISO week() semantics differ subtly at "
    "year boundaries across engines, so the portable bucketing is "
    "deliberate). Revenue is the exact fixed-point int64 sum; the one "
    "double division happens on identical exact values. Plan: one "
    "scan (year predicate pushed), one partial-final aggregate, and a "
    "self-join over ~53-row-per-year aggregates — AQE reuses the "
    "aggregation exchange for both sides.",
    tags=("warehouse", "timeseries", "A7", "J6"),
)
def yoy_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev4 = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    agg = (
        li.filter(F.year("l_shipdate").isin(1996, 1997))
        .groupBy(
            F.year("l_shipdate").cast("int").alias("yr"),
            ((F.dayofyear("l_shipdate") - 1) / 7)
            .cast("int")
            .alias("wk"),
        )
        .agg(F.sum(rev4).cast("long").alias("r4"))
    )
    a = agg.filter(F.col("yr") == 1996).select("wk", F.col("r4").alias("r96"))
    b = agg.filter(F.col("yr") == 1997).select(
        F.col("wk").alias("wk_b"), F.col("r4").alias("r97")
    )
    return (
        a.join(b, a.wk == b.wk_b)
        .select(
            "wk",
            (F.col("r96") / 10000.0).alias("rev_1996"),
            (F.col("r97") / 10000.0).alias("rev_1997"),
            F.round(F.col("r97").cast("double") / F.col("r96"), 6).alias(
                "yoy_ratio"
            ),
        )
        .orderBy("wk")
    )


@register(
    "weighted_median_price",
    oracle="""
    WITH expanded AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS price2
        FROM lineitem
        CROSS JOIN UNNEST(range(CAST(l_quantity AS BIGINT))) AS t(i)
    )
    SELECT l_returnflag,
           ROUND(quantile_cont(price2, 0.5) / 100.0, 6)
               AS weighted_median_price,
           CAST(COUNT(*) AS BIGINT) AS total_units
    FROM expanded
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Quantity-weighted exact median price per return flag: Spark's "
    "percentile(col, 0.5, frequency) computes the exact interpolated "
    "median of each price repeated quantity times — ONE aggregate, no "
    "window over a 3-partition sort (the naive cumulative-sum window "
    "formulation funnels every group through one task; the frequency-"
    "weighted aggregate keeps partial state per executor instead). The "
    "oracle pins the semantics by literally materializing the "
    "duplication (unnest(range(qty))) and taking quantile_cont — "
    "proving frequency == row-multiplicity. Prices are fixed-pointed "
    "to int64 cents first so both engines interpolate over identical "
    "integers; quantities are integral by construction "
    "(dq_constraint_report checks them).",
    tags=("warehouse", "percentile", "A7", "A11"),
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price2"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.round(
                F.expr("percentile(price2, 0.5, qty)") / 100.0, 6
            ).alias("weighted_median_price"),
            F.sum("qty").cast("long").alias("total_units"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "scd2_asof_snapshot",
    oracle=f"""
    WITH {_SCD2_HISTORY_SQL}
    SELECT o_custkey, priority, valid_from, version_num
    FROM scd2
    WHERE valid_from <= DATE '1997-06-01'
      AND (valid_to IS NULL OR valid_to > DATE '1997-06-01')
    ORDER BY o_custkey
    """,
    doc="Point-in-time reconstruction (time travel) from the SCD2 "
    "history: each customer's priority version in force on 1997-06-01 "
    "— the half-open [valid_from, valid_to) interval containing the "
    "date, with the open current version (NULL valid_to) matching "
    "forward. This is the AS OF query every bitemporal warehouse "
    "serves from its dimension history; together with "
    "cdc_snapshot_diff and incremental_state_merge it completes the "
    "change-data story: build history, diff snapshots, reconstruct "
    "any past state. Costs the same single exchange as the history "
    "build plus a map-side interval filter — at scale the snapshot "
    "predicate prunes history partitions when valid_from partitions "
    "the table.",
    tags=("scd2", "warehouse", "window", "P6"),
)
def scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    asof = F.lit("1997-06-01").cast("date")
    hist = scd2_priority_history(spark, sf_dir)
    return (
        hist.filter(
            (F.col("valid_from") <= asof)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > asof))
        )
        .select("o_custkey", "priority", "valid_from", "version_num")
        .orderBy("o_custkey")
    )


@register(
    "bom_subtree_rollup",
    oracle="""
    WITH nodes AS (
        SELECT p_partkey,
               CAST(FLOOR(p_retailprice * 100) AS BIGINT) AS price2
        FROM part
    ), contrib AS (
        SELECT p_partkey // 10 AS anc, 1 AS lvl, price2 FROM nodes
        UNION ALL
        SELECT p_partkey // 100, 2, price2 FROM nodes
        UNION ALL
        SELECT p_partkey // 1000, 3, price2 FROM nodes
    ), rolled AS (
        SELECT anc,
               CAST(COUNT(*) AS BIGINT) AS n_descendants,
               CAST(SUM(price2) AS BIGINT) AS subtree2,
               CAST(MAX(lvl) AS INT) AS max_depth
        FROM contrib GROUP BY anc
    )
    SELECT n.p_partkey AS p_partkey,
           r.n_descendants,
           r.subtree2 / 100.0 AS subtree_value,
           r.max_depth,
           (n.price2 + r.subtree2) / 100.0 AS total_value
    FROM rolled r
    JOIN nodes n ON n.p_partkey = r.anc
    ORDER BY total_value DESC, p_partkey
    LIMIT 50
    """,
    doc="Hierarchical (bill-of-materials-style) subtree rollup, depth 3: "
    "every part's ancestor chain is derived from its key (parent = key "
    "div 10 — a synthetic but deterministic 10-ary hierarchy over the "
    "real part table), and each node's subtree value is the exact "
    "fixed-point sum over all descendants within 3 levels. Spark has "
    "no recursive CTE; the scalable forms are (a) bounded-depth "
    "unrolling — here, each row EMITS its <=3 ancestor contributions "
    "map-side and ONE groupBy(ancestor) does the whole rollup, no "
    "joins in the accumulation at all — or (b) frontier iteration "
    "with localCheckpoint for unbounded depth (operators/graph.py's "
    "connected-components/BFS pattern). Existing ancestors attach by "
    "one equi-join; top-50 by total value compiles to "
    "TakeOrderedAndProject.",
    tags=("warehouse", "graph", "A7", "O2"),
)
def bom_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("price2"),
    )
    contrib = nodes.select(
        F.explode(
            F.array(
                F.struct(
                    F.expr("p_partkey div 10").alias("anc"),
                    F.lit(1).alias("lvl"),
                ),
                F.struct(
                    F.expr("p_partkey div 100").alias("anc"),
                    F.lit(2).alias("lvl"),
                ),
                F.struct(
                    F.expr("p_partkey div 1000").alias("anc"),
                    F.lit(3).alias("lvl"),
                ),
            )
        ).alias("a"),
        "price2",
    ).select(F.col("a.anc").alias("anc"), F.col("a.lvl").alias("lvl"), "price2")
    rolled = contrib.groupBy("anc").agg(
        F.count(F.lit(1)).alias("n_descendants"),
        F.sum("price2").cast("long").alias("subtree2"),
        F.max("lvl").cast("int").alias("max_depth"),
    )
    return (
        rolled.join(nodes, rolled.anc == nodes.p_partkey)
        .select(
            "p_partkey",
            "n_descendants",
            (F.col("subtree2") / 100.0).alias("subtree_value"),
            "max_depth",
            ((F.col("price2") + F.col("subtree2")) / 100.0).alias("total_value"),
        )
        .orderBy(F.desc("total_value"), F.asc("p_partkey"))
        .limit(50)
    )


#: weekdays in [epoch, epoch+D): 5 per complete week + CASE over the
#: remainder (day 0 = Thursday). Identical literal arithmetic on both
#: engines — no engine dayofweek() (Spark is 1-7 Sunday-first, DuckDB
#: 0-6 Sunday-first; this formula sidesteps the mismatch entirely).
_WEEKDAYS_CASE = (
    "(5 * ({d} // 7) + CASE {d} % 7 WHEN 0 THEN 0 WHEN 1 THEN 1 "
    "WHEN 2 THEN 2 WHEN 3 THEN 2 WHEN 4 THEN 2 WHEN 5 THEN 3 "
    "WHEN 6 THEN 4 END)"
)
_WEEKDAYS_CASE_SPARK = (
    "(5 * ({d} div 7) + CASE {d} % 7 WHEN 0 THEN 0 WHEN 1 THEN 1 "
    "WHEN 2 THEN 2 WHEN 3 THEN 2 WHEN 4 THEN 2 WHEN 5 THEN 3 "
    "WHEN 6 THEN 4 END)"
)


@register(
    "business_day_lag",
    oracle=f"""
    WITH firstship AS (
        SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS ship_d
        FROM lineitem GROUP BY l_orderkey
    ), lagged AS (
        SELECT o.o_orderpriority,
               {_WEEKDAYS_CASE.format(d="(datediff('day', DATE '1970-01-01', f.ship_d) + 1)")}
             - {_WEEKDAYS_CASE.format(d="(datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) + 1)")}
                   AS bd_lag
        FROM orders o JOIN firstship f ON f.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(bd_lag) AS BIGINT) AS total_bd,
           ROUND(CAST(SUM(bd_lag) AS DOUBLE) / COUNT(*), 6) AS avg_bd_lag
    FROM lagged
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Order-to-first-shipment lag in BUSINESS days per priority: "
    "weekdays in the half-open (order_date, ship_date] counted by a "
    "closed-form integer formula over days-since-epoch (5 per complete "
    "week + a literal CASE over the remainder, epoch day 0 = Thursday) "
    "— deliberately avoiding engine dayofweek(), whose numbering "
    "differs between Spark (1-7, Sunday first) and DuckDB (0-6), the "
    "classic cross-engine calendar trap. Exact int64 end to end until "
    "the final average. Plan: first-ship is one groupBy on orderkey "
    "feeding an equi-join with orders (same key — co-partitioned "
    "shuffle), then a tiny priority rollup. The SLA/fulfillment "
    "reporting shape.",
    tags=("warehouse", "temporal", "F8", "A7"),
)
def business_day_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    firstship = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("ship_d")
    )
    d_ship = "(datediff(ship_d, DATE '1970-01-01') + 1)"
    d_ord = "(datediff(cast(o_orderdate as date), DATE '1970-01-01') + 1)"
    bd_lag = F.expr(
        _WEEKDAYS_CASE_SPARK.format(d=d_ship)
        + " - "
        + _WEEKDAYS_CASE_SPARK.format(d=d_ord)
    )
    return (
        orders.join(firstship, orders.o_orderkey == firstship.l_orderkey)
        .select("o_orderpriority", bd_lag.alias("bd_lag"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("bd_lag").cast("long").alias("total_bd"),
            F.round(
                F.sum("bd_lag").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_bd_lag"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "pareto_customers_80pct",
    oracle="""
    WITH cust_rev AS (
        SELECT c.c_nationkey, o.o_custkey,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS r2
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_nationkey, o.o_custkey
    ), ranked AS (
        SELECT c_nationkey, o_custkey, r2,
               SUM(r2) OVER (
                   PARTITION BY c_nationkey
                   ORDER BY r2 DESC, o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum2,
               SUM(r2) OVER (PARTITION BY c_nationkey) AS tot2
        FROM cust_rev
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN (cum2 - r2) * 10 < tot2 * 8
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_top80,
           ROUND(CAST(SUM(CASE WHEN (cum2 - r2) * 10 < tot2 * 8
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS cust_share,
           ROUND(CAST(SUM(CASE WHEN (cum2 - r2) * 10 < tot2 * 8
                               THEN r2 ELSE 0 END) AS DOUBLE)
                 / SUM(r2), 6) AS rev_share
    FROM ranked
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    doc="Pareto / ABC analysis: per nation, the minimal set of customers "
    "(ranked by revenue, ties pinned by custkey) whose cumulative "
    "revenue reaches 80% of the nation total — how concentrated the "
    "book of business is. Membership is the exact integer predicate "
    "(cum_before)*10 < total*8 on fixed-point cents (no float "
    "cumulative drift, no 0.8 literal), so the cut is bit-identical "
    "on both engines. One shuffle to per-customer aggregates, then "
    "nation-partitioned running and total windows share a single "
    "sort; per-partition row counts are customer-per-nation sized, "
    "never order-sized. Bounds: cum2*10 needs total nation revenue "
    "< 9.2e17 cents — beyond that, scale the fixed point down.",
    tags=("warehouse", "window", "A7", "W1"),
)
def pareto_customers_80pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cust_rev = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("r2")
        )
    )
    w_run = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.desc("r2"), F.asc("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("c_nationkey")
    ranked = cust_rev.select(
        "c_nationkey",
        "o_custkey",
        "r2",
        F.sum("r2").over(w_run).alias("cum2"),
        F.sum("r2").over(w_all).alias("tot2"),
    )
    needed = (F.col("cum2") - F.col("r2")) * 10 < F.col("tot2") * 8
    return (
        ranked.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(needed.cast("long")).alias("n_top80"),
            F.round(
                F.sum(needed.cast("long")).cast("double") / F.count(F.lit(1)), 6
            ).alias("cust_share"),
            F.round(
                F.sum(F.when(needed, F.col("r2")).otherwise(0)).cast("double")
                / F.sum("r2"),
                6,
            ).alias("rev_share"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "gini_revenue_concentration",
    oracle="""
    WITH cust_rev AS (
        SELECT c.c_nationkey, o.o_custkey,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS r2
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_nationkey, o.o_custkey
    ), ranked AS (
        SELECT c_nationkey, r2,
               ROW_NUMBER() OVER (
                   PARTITION BY c_nationkey ORDER BY r2, o_custkey
               ) AS i
        FROM cust_rev
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(r2) AS BIGINT) AS total_r2,
           ROUND(2.0 * SUM(i * r2) / (COUNT(*) * SUM(r2))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM ranked
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    doc="Gini coefficient of customer-revenue concentration per nation — "
    "the scalar inequality companion to pareto_customers_80pct, via the "
    "rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over "
    "ascending-sorted fixed-point revenues (ties pinned by custkey; "
    "equal-valued ties permute i within an equal-x run, leaving "
    "sum(i*x) unchanged, so the result is order-stable). Both "
    "sum(i*x_i) and sum(x) are exact int64 (bounds: rank x cents x "
    "rows < 2^63 up to ~10^4x this scale); the two divisions happen "
    "once on identical exact values. One shuffle to per-customer "
    "aggregates, one keyed rank window, one rollup.",
    tags=("warehouse", "window", "A7", "A11"),
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cust_rev = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("r2")
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy(F.asc("r2"), F.asc("o_custkey"))
    ranked = cust_rev.select(
        "c_nationkey", "r2", F.row_number().over(w).alias("i")
    )
    n = F.count(F.lit(1))
    return (
        ranked.groupBy("c_nationkey")
        .agg(
            n.alias("n_customers"),
            F.sum("r2").cast("long").alias("total_r2"),
            F.round(
                F.lit(2.0)
                * F.sum(F.col("i") * F.col("r2"))
                / (n * F.sum("r2"))
                - (n + F.lit(1.0)) / n,
                6,
            ).alias("gini"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "hhi_market_concentration",
    oracle="""
    WITH cust_rev AS (
        SELECT c.c_nationkey, o.o_custkey,
               CAST(SUM(CAST(FLOOR(o.o_totalprice) AS BIGINT))
                    AS BIGINT) AS rd
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_nationkey, o.o_custkey
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rd) AS BIGINT) AS total_rd,
           CAST(SUM(rd * rd) AS BIGINT) AS sumsq_rd,
           ROUND(10000.0 * SUM(rd * rd) / (SUM(rd) * SUM(rd)), 6)
               AS hhi
    FROM cust_rev
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    doc="Herfindahl-Hirschman concentration index per nation (0-10000 "
    "antitrust scale): HHI = 10000 * sum(share_i^2) computed as "
    "10000*sum(r_i^2)/sum(r_i)^2 where r_i is each customer's revenue "
    "in whole dollars — summing EXACT integer squares instead of "
    "squared float shares, because a float sum over hundreds of "
    "share^2 terms is aggregation-order-dependent and would diverge "
    "between engines in the last ulps. Dollar (not cent) fixed point "
    "keeps r^2 sums inside int64 (r ~ 1e7 dollars/customer => r^2 ~ "
    "1e14, x10^4 customers ~ 1e18 < 2^63; rescale again beyond). "
    "Completes the concentration trio with pareto_customers_80pct and "
    "gini_revenue_concentration on the same one-aggregate-plus-rollup "
    "plan — no window needed at all for HHI.",
    tags=("warehouse", "A7", "A11"),
)
def hhi_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cust_rev = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice")).cast("long"))
            .cast("long")
            .alias("rd")
        )
    )
    return (
        cust_rev.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rd").cast("long").alias("total_rd"),
            F.sum(F.col("rd") * F.col("rd")).cast("long").alias("sumsq_rd"),
            F.round(
                F.lit(10000.0)
                * F.sum(F.col("rd") * F.col("rd"))
                / (F.sum("rd") * F.sum("rd")),
                6,
            ).alias("hhi"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "brand_affinity_lift",
    oracle="""
    WITH basket AS (
        SELECT DISTINCT l.l_orderkey AS orderkey, p.p_brand AS brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), norders AS (
        SELECT CAST(COUNT(DISTINCT orderkey) AS DOUBLE) AS n FROM basket
    ), brand_n AS (
        SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_brand
        FROM basket GROUP BY brand
    ), pair_n AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS support_ab
        FROM basket a JOIN basket b
          ON a.orderkey = b.orderkey AND a.brand < b.brand
        GROUP BY a.brand, b.brand
    )
    SELECT brand_a, brand_b, support_ab,
           na.n_brand AS n_a, nb.n_brand AS n_b,
           ROUND(CAST(support_ab AS DOUBLE) / na.n_brand, 6)
               AS confidence_a_b,
           ROUND(CAST(support_ab AS DOUBLE) * norders.n
                 / (na.n_brand * nb.n_brand), 6) AS lift
    FROM pair_n
    JOIN brand_n na ON pair_n.brand_a = na.brand
    JOIN brand_n nb ON pair_n.brand_b = nb.brand
    CROSS JOIN norders
    WHERE support_ab >= 5
    QUALIFY ROW_NUMBER() OVER (
        ORDER BY ROUND(CAST(support_ab AS DOUBLE) * norders.n
                       / (na.n_brand * nb.n_brand), 6) DESC,
                 brand_a, brand_b) <= 25
    ORDER BY lift DESC, brand_a, brand_b
    """,
    doc="Market-basket affinity mining over order baskets: which brand "
    "PAIRS co-occur in the same order more than independence predicts. "
    "Basket = distinct (order, brand) presence; per-pair support from "
    "a basket self-join (a.brand < b.brand kills mirror/self pairs); "
    "confidence(a->b) = support/n_a and lift = P(ab)/(P(a)P(b)) from "
    "the brand margins; min-support 5 then top-25 pinned on (rounded "
    "lift, brand pair). The a-priori trick at scale: the pair "
    "self-join runs AFTER distinct-per-order collapse, so its size is "
    "bounded by sum_orders C(brands_in_order, 2) — per-order brand "
    "breadth, not raw lineitem rows; heavy-hitter brands can be "
    "further pre-pruned by min-support on the margins before the "
    "join (downstream-equivalent because pair support <= margin). "
    "Scale shape: broadcast part dim into the scan join, ONE "
    "(orderkey, brand) distinct shuffle, self-join co-partitioned on "
    "orderkey, then brand-pair-cardinality aggregation; margins and "
    "N are broadcast scalars at the end.",
    tags=("warehouse", "mining", "J6", "A8", "A10", "O3"),
    bench=True,
)
def brand_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE orderkey shuffle builds the per-order brand set (collect_set
    # dedups in the aggregate, so no separate distinct exchange); the
    # basket count N, the per-brand margins, and the pair counts all
    # derive from this grouped frame. Catalyst does NOT recognize the
    # three consumer branches as a reusable exchange (expr-id drift across
    # the branches defeats canonicalization — verified executedPlan showed
    # the join+aggregate FOUR times), so materialize the basket frame once
    # with an eager localCheckpoint; order-count rows are tiny (1 row per
    # order, few-byte brand arrays).
    baskets = barrier(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("p_brand").alias("brand"),
        )
        .groupBy("orderkey")
        .agg(F.array_sort(F.collect_set("brand")).alias("brands")),
        "baskets",
    )
    norders = baskets.agg(F.count(F.lit(1)).cast("double").alias("n"))
    brand_n = (
        baskets.select(F.explode("brands").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n_brand"))
    )
    # pair generation is MAP-SIDE: per-order sorted brand set -> all
    # ascending pairs via nested transform (b_i < b_j by construction).
    # Equivalent to the oracle's basket self-join but with ONE shuffle
    # (orderkey) + pair-count aggregation instead of a join shuffle of
    # the whole basket relation against itself (measured ~4x on bench).
    pair_n = (
        baskets.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(brands, (x, i) -> "
                        "transform(slice(brands, i + 2, size(brands) - i - 1), "
                        "y -> struct(x AS brand_a, y AS brand_b)))"
                    )
                )
            ).alias("pair")
        )
        .select("pair.brand_a", "pair.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("support_ab"))
        .filter(F.col("support_ab") >= 5)
    )
    na = brand_n.select(
        F.col("brand").alias("brand_a"), F.col("n_brand").alias("n_a")
    )
    nb = brand_n.select(
        F.col("brand").alias("brand_b"), F.col("n_brand").alias("n_b")
    )
    lift = F.round(
        F.col("support_ab").cast("double") * F.col("n")
        / (F.col("n_a") * F.col("n_b")),
        6,
    )
    scored = (
        pair_n.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .crossJoin(F.broadcast(norders))
        .select(
            "brand_a",
            "brand_b",
            "support_ab",
            "n_a",
            "n_b",
            F.round(F.col("support_ab").cast("double") / F.col("n_a"), 6)
            .alias("confidence_a_b"),
            lift.alias("lift"),
        )
    )
    w = Window.orderBy(F.desc("lift"), "brand_a", "brand_b")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .drop("rn")
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
    )


#: RFM 5x5x5 cell oracle — shared verbatim by customer_rfm_segments
#: (window-NTILE form) and customer_rfm_segments_scale (distributed
#: exact-rank form): both produce bit-identical cells.
_RFM_ORACLE = """
    WITH anchor AS (
        SELECT MAX(o_orderdate) AS max_date FROM orders
    ), rfm AS (
        SELECT o.o_custkey AS custkey,
               CAST(date_diff('day', CAST(MAX(o.o_orderdate) AS DATE),
                              CAST(anchor.max_date AS DATE)) AS BIGINT)
                   AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders o CROSS JOIN anchor
        GROUP BY o.o_custkey, anchor.max_date
    ), scored AS (
        SELECT custkey, recency_days, frequency, monetary_cents,
               NTILE(5) OVER (ORDER BY recency_days ASC, custkey) AS r_score,
               NTILE(5) OVER (ORDER BY frequency DESC, custkey) AS f_score,
               NTILE(5) OVER (ORDER BY monetary_cents DESC, custkey)
                   AS m_score
        FROM rfm
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CASE WHEN r_score <= 2 AND f_score <= 2 THEN 'champion'
                WHEN r_score <= 2 THEN 'recent'
                WHEN f_score <= 2 THEN 'loyal-lapsing'
                ELSE 'hibernating' END AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(monetary_cents) / (100.0 * COUNT(*)), 6)
               AS avg_monetary,
           ROUND(AVG(recency_days), 6) AS avg_recency_days
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """


def _rfm_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer R/F/M metrics (shared by both RFM query forms):
    days since last order (anchored at the corpus max date so the query
    is reproducible), order count, and lifetime spend in EXACT integer
    cents (float sums could flip rounding/ties at the quintile edges)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    anchor = orders.agg(F.max("o_orderdate").alias("max_date"))
    return (
        orders.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey", "max_date")
        .agg(
            F.datediff(F.first("max_date"), F.max("o_orderdate"))
            .cast("bigint")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
    )


def _rfm_cells(scored: DataFrame) -> DataFrame:
    """Collapse a scored per-customer frame (r/f/m_score columns) into
    the 5x5x5 segment-cell report — at most 125 rows at any scale."""
    seg = (
        F.when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "champion")
        .when(F.col("r_score") <= 2, "recent")
        .when(F.col("f_score") <= 2, "loyal-lapsing")
        .otherwise("hibernating")
    )
    return (
        scored.groupBy(
            F.col("r_score").cast("int").alias("r_score"),
            F.col("f_score").cast("int").alias("f_score"),
            F.col("m_score").cast("int").alias("m_score"),
        )
        .agg(
            F.first(seg).alias("segment"),
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum("monetary_cents") / (100.0 * F.count(F.lit(1))), 6
            ).alias("avg_monetary"),
            F.round(F.avg("recency_days"), 6).alias("avg_recency_days"),
        )
        .select(
            "r_score", "f_score", "m_score", "segment", "n_customers",
            "avg_monetary", "avg_recency_days",
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "customer_rfm_segments",
    oracle=_RFM_ORACLE,
    doc="RFM (recency / frequency / monetary) customer segmentation — "
    "the classic CRM scoring grid: per customer, days since last "
    "order (anchored at the corpus max date so the query is "
    "reproducible), order count, and lifetime spend; each dimension "
    "quintile-scored with NTILE(5) over a TIE-PINNED ordering "
    "(metric, custkey — ntile on bare metric would split equal "
    "values nondeterministically); cells of the 5x5x5 score cube "
    "reported with a coarse segment label and per-cell averages. "
    "Scale shape: one groupBy(custkey) over orders, then three "
    "GLOBAL ntile windows — the single-partition small-data form. "
    "customer_rfm_segments_scale is the registered cluster-scale "
    "twin: operators/ranking.py global_ntile (range shuffle + "
    "per-partition rank + broadcast offsets) with bit-identical "
    "cells and ZERO single-partition windows; the cube output is "
    "at most 125 rows regardless of corpus size.",
    tags=("warehouse", "W1", "A10", "O4"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    rfm = _rfm_per_customer(spark, sf_dir)
    scored = rfm.select(
        F.ntile(5)
        .over(Window.orderBy(F.asc("recency_days"), "o_custkey"))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("frequency"), "o_custkey"))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_cents"), "o_custkey"))
        .alias("m_score"),
        "monetary_cents",
        "recency_days",
    )
    return _rfm_cells(scored)


@register(
    "customer_rfm_segments_scale",
    oracle=_RFM_ORACLE,
    doc="Cluster-scale twin of customer_rfm_segments: the three global "
    "NTILE(5) windows (Exchange SinglePartition — one task sorts every "
    "customer, three times) are replaced by operators/ranking.py "
    "global_ntile — a range shuffle, per-partition row_number, and a "
    "broadcast cumulative-offset join over the per-partition counts "
    "(one row per partition), applying the exact SQL NTILE bucket "
    "formula map-side with integer arithmetic. Output cells are "
    "bit-identical to the window form (shared oracle). Cost at scale: "
    "three parallel range shuffles of the per-customer frame instead "
    "of three serial single-partition sorts; the per-customer frame is "
    "localCheckpoint-ed per ranking pass so partition counts and rank "
    "assignment observe one materialization of the sampled range "
    "partitioner.",
    tags=("warehouse", "W1", "A10", "O4", "scale-twin"),
    bench=True,
)
def customer_rfm_segments_scale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from flu_data_pipeline_spark.operators.ranking import global_ntile

    rfm = _rfm_per_customer(spark, sf_dir)
    scored = global_ntile(
        rfm, [F.asc("recency_days"), F.asc("o_custkey")], 5, "r_score"
    )
    scored = global_ntile(
        scored, [F.desc("frequency"), F.asc("o_custkey")], 5, "f_score"
    )
    scored = global_ntile(
        scored, [F.desc("monetary_cents"), F.asc("o_custkey")], 5, "m_score"
    )
    return _rfm_cells(scored)


@register(
    "abc_xyz_matrix",
    oracle="""
    WITH weekly AS (
        SELECT l_partkey,
               CAST((CAST(l_shipdate AS DATE) - DATE '1970-01-01') // 7
                    AS BIGINT) AS wk,
               SUM(l_quantity) AS qty,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM lineitem
        GROUP BY 1, 2
    ), per_part AS (
        SELECT l_partkey,
               CASE WHEN COUNT(*) >= 2 AND AVG(qty) > 0
                    THEN STDDEV_SAMP(qty) / AVG(qty) END AS cv,
               CAST(SUM(rev_cents) AS BIGINT) AS rev_cents
        FROM weekly GROUP BY l_partkey
    ), ranked AS (
        SELECT l_partkey, cv, rev_cents,
               SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                                    ROWS UNBOUNDED PRECEDING) AS cum_rev,
               SUM(rev_cents) OVER () AS tot_rev
        FROM per_part
    ), classed AS (
        SELECT CASE WHEN CAST(cum_rev AS DOUBLE) / tot_rev <= 0.7 THEN 'A'
                    WHEN CAST(cum_rev AS DOUBLE) / tot_rev <= 0.9 THEN 'B'
                    ELSE 'C' END AS abc_class,
               CASE WHEN cv IS NULL THEN 'Z'
                    WHEN cv < 0.5 THEN 'X'
                    WHEN cv < 1.0 THEN 'Y' ELSE 'Z' END AS xyz_class,
               rev_cents, tot_rev
        FROM ranked
    )
    SELECT abc_class, xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(CAST(rev_cents AS DOUBLE)) / MAX(tot_rev), 6)
               AS revenue_share
    FROM classed
    GROUP BY abc_class, xyz_class
    ORDER BY abc_class, xyz_class
    """,
    doc="ABC-XYZ inventory classification matrix — the planner's "
    "two-axis part segmentation: ABC = cumulative-revenue Pareto "
    "class (A <= 70% of revenue, B <= 90%, C tail; ranked on EXACT "
    "integer cent totals so the cut order is deterministic) x XYZ = "
    "demand-variability class from the coefficient of variation of "
    "WEEKLY shipped quantity (X steady cv<0.5, Y cv<1, Z erratic or "
    "single-week history). Cells report part counts and revenue "
    "share — the A-X corner is what deserves tight stocking; C-Z is "
    "the discontinue list. Scale shape: one (part, week) aggregate, "
    "one per-part rollup, then the ordered cumulative window over "
    "PART-cardinality rows (the vocab_coverage_cutoff prefix-sum "
    "swap applies beyond that); output is a fixed 3x3 grid.",
    tags=("warehouse", "A10", "A11", "W1"),
)
def abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_quantity", "l_extendedprice"
    )
    weekly = li.groupBy(
        "l_partkey",
        F.floor(
            F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01"))
            / 7
        )
        .cast("bigint")
        .alias("wk"),
    ).agg(
        F.sum("l_quantity").alias("qty"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )
    per_part = weekly.groupBy("l_partkey").agg(
        F.when(
            (F.count(F.lit(1)) >= 2) & (F.avg("qty") > 0),
            F.stddev_samp("qty") / F.avg("qty"),
        ).alias("cv"),
        F.sum("rev_cents").cast("bigint").alias("rev_cents"),
    )
    w_cum = Window.orderBy(F.desc("rev_cents"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = per_part.select(
        "cv",
        "rev_cents",
        F.sum("rev_cents").over(w_cum).alias("cum_rev"),
        F.sum("rev_cents").over(Window.partitionBy()).alias("tot_rev"),
    )
    share = F.col("cum_rev").cast("double") / F.col("tot_rev")
    classed = ranked.select(
        F.when(share <= 0.7, "A").when(share <= 0.9, "B").otherwise("C")
        .alias("abc_class"),
        F.when(F.col("cv").isNull(), "Z")
        .when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
        "rev_cents",
        "tot_rev",
    )
    return (
        classed.groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(
                F.sum(F.col("rev_cents").cast("double")) / F.max("tot_rev"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class", "xyz_class")
    )


@register(
    "capacity_waterfall_allocation",
    oracle="""
    WITH demand AS (
        SELECT l_suppkey,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(500 + (l_suppkey % 10) * 100 AS BIGINT) AS capacity,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING
               ) AS cum_qty
        FROM lineitem
    ), alloc AS (
        SELECT l_suppkey, capacity, qty,
               LEAST(qty, GREATEST(capacity - (cum_qty - qty), 0))
                   AS allocated
        FROM demand
    )
    SELECT l_suppkey, capacity,
           CAST(SUM(qty) AS BIGINT) AS total_demand,
           CAST(SUM(allocated) AS BIGINT) AS total_allocated,
           CAST(SUM(CASE WHEN allocated = qty THEN 1 ELSE 0 END) AS BIGINT)
               AS n_filled,
           CAST(SUM(CASE WHEN allocated > 0 AND allocated < qty
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
           CAST(SUM(CASE WHEN allocated = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_starved
    FROM alloc
    GROUP BY l_suppkey, capacity
    ORDER BY l_suppkey
    LIMIT 25
    """,
    doc="Greedy capacity-waterfall allocation per supplier — the "
    "first-come-first-served fill every fulfillment/budget system "
    "runs: line demands queue in (shipdate, orderkey, linenumber) "
    "order against a per-supplier capacity (modeled here as "
    "500 + 100*(suppkey mod 10) units; real deployments join a "
    "capacity dimension), and each line receives "
    "min(demand, remaining). The greedy scan is NOT iterative: "
    "remaining-before-line is capacity minus the EXCLUSIVE running "
    "demand sum, so one partitioned cumulative window allocates "
    "every line exactly — integer arithmetic throughout, no loop, "
    "no UDF. Per supplier: filled / partial (the waterline line) / "
    "starved line counts. Scale shape: one window partitioned on "
    "the supplier key (each partition sorts its own lines), then a "
    "supplier-keyed rollup — both shuffle on the same key.",
    tags=("warehouse", "window", "W1", "A10"),
)
def capacity_waterfall_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_quantity", "l_shipdate", "l_orderkey", "l_linenumber"
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    qty = F.col("l_quantity").cast("bigint")
    capacity = (500 + (F.col("l_suppkey") % 10) * 100).cast("bigint")
    demand = li.select(
        "l_suppkey",
        qty.alias("qty"),
        capacity.alias("capacity"),
        F.sum(qty).over(w).alias("cum_qty"),
    )
    allocated = F.least(
        F.col("qty"),
        F.greatest(
            F.col("capacity") - (F.col("cum_qty") - F.col("qty")), F.lit(0)
        ),
    )
    alloc = demand.select("l_suppkey", "capacity", "qty", allocated.alias("allocated"))
    return (
        alloc.groupBy("l_suppkey", "capacity")
        .agg(
            F.sum("qty").cast("bigint").alias("total_demand"),
            F.sum("allocated").cast("bigint").alias("total_allocated"),
            F.sum(F.when(F.col("allocated") == F.col("qty"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_filled"),
            F.sum(
                F.when(
                    (F.col("allocated") > 0)
                    & (F.col("allocated") < F.col("qty")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_partial"),
            F.sum(F.when(F.col("allocated") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_starved"),
        )
        .orderBy("l_suppkey")
        .limit(25)
    )


@register(
    "median_exact_twopass",
    oracle="""
    WITH cents AS (
        SELECT CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS c
        FROM lineitem
    ), s AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn,
               COUNT(*) OVER () AS n
        FROM cents
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST((n + 1) // 2 AS BIGINT) AS k,
           CAST(c AS BIGINT) AS median_cents,
           ROUND(c / 100.0, 2) AS median_price
    FROM s WHERE rn = (n + 1) // 2
    """,
    doc="Exact median by two-pass bucketed selection — the algorithm "
    "that replaces 'sort everything' when n is 100 TB: pass 1 "
    "aggregates counts per 2^16-cent bucket (bucket cardinality, "
    "not row cardinality), a cumulative scan over the FEW buckets "
    "locates the one containing the k-th smallest (k = (n+1)/2, "
    "lower median), and pass 2 sorts ONLY that bucket's rows to "
    "pick the exact element. Total cost: two scans + one "
    "bucket-local sort, no global ordering ever materializes "
    "(recursing into the bucket with narrower sub-buckets handles "
    "adversarially hot buckets). The oracle is the straightforward "
    "full-sort selection in DuckDB — same element, different "
    "algorithm, proving the distributed selection exact. Prices "
    "are integer cents so bucket boundaries and the k-th element "
    "are unambiguous.",
    tags=("warehouse", "percentile", "A11", "O3"),
)
def median_exact_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("c")
    )
    # pass 1: bucket histogram (bucket = high bits; ~hundreds of buckets)
    buckets = li.groupBy((F.col("c") / 65536).cast("bigint").alias("b")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = buckets.select(
        "b",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    k = ((F.col("n") + 1) / 2).cast("bigint")
    target = cum.filter(
        (F.col("cum") >= k) & ((F.col("cum") - F.col("cnt")) < k)
    ).select(
        "b", (F.col("cum") - F.col("cnt")).alias("cum_before"), "n",
        k.alias("k"),
    )
    # pass 2: order only the target bucket's rows
    in_bucket = li.join(
        F.broadcast(target), (F.col("c") / 65536).cast("bigint") == F.col("b")
    )
    w_in = Window.partitionBy("b").orderBy("c")
    picked = in_bucket.select(
        "c", "n", "k", F.row_number().over(w_in).alias("rn_in"),
        (F.col("k") - F.col("cum_before")).alias("offset"),
    ).filter(F.col("rn_in") == F.col("offset"))
    return picked.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("k").cast("bigint").alias("k"),
        F.col("c").cast("bigint").alias("median_cents"),
        F.round(F.col("c") / 100.0, 2).alias("median_price"),
    )


@register(
    "supplier_scorecard",
    oracle="""
    WITH per_supp AS (
        SELECT l.l_suppkey AS suppkey,
               ROUND(AVG(CASE WHEN CAST(l.l_shipdate AS DATE)
                                   - CAST(o.o_orderdate AS DATE) <= 30
                              THEN 1.0 ELSE 0.0 END), 6) AS ontime_rate,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents,
               CAST(COUNT(DISTINCT l.l_partkey) AS BIGINT) AS n_parts
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_suppkey
    ), stats AS (
        SELECT ROUND(AVG(ontime_rate), 6) AS m_ontime,
               ROUND(STDDEV_SAMP(ontime_rate), 6) AS s_ontime,
               ROUND(AVG(rev_cents), 6) AS m_rev,
               ROUND(STDDEV_SAMP(rev_cents), 6) AS s_rev,
               ROUND(AVG(n_parts), 6) AS m_parts,
               ROUND(STDDEV_SAMP(n_parts), 6) AS s_parts
        FROM per_supp
    )
    SELECT suppkey, ontime_rate, rev_cents, n_parts,
           ROUND(0.4 * ((ontime_rate - m_ontime) / s_ontime)
                 + 0.4 * ((rev_cents - m_rev) / s_rev)
                 + 0.2 * ((n_parts - m_parts) / s_parts), 6)
               AS composite_z
    FROM per_supp CROSS JOIN stats
    QUALIFY ROW_NUMBER() OVER (
        ORDER BY ROUND(0.4 * ((ontime_rate - m_ontime) / s_ontime)
                       + 0.4 * ((rev_cents - m_rev) / s_rev)
                       + 0.2 * ((n_parts - m_parts) / s_parts), 6) DESC,
                 suppkey) <= 25
    ORDER BY composite_z DESC, suppkey
    """,
    doc="Composite vendor scorecard — the weighted multi-metric ranking "
    "every procurement dashboard runs: per supplier, on-time rate "
    "(shipped within 30 days of order), exact-cent revenue, and "
    "part-assortment breadth, each z-scored against the supplier "
    "population and blended 40/40/20. Population means and stddevs "
    "are pre-rounded to 6dp before the z-arithmetic so "
    "engine-internal variance-accumulation ulps cannot move a "
    "composite past a rank boundary; the top-25 cut is pinned on "
    "(rounded composite, suppkey). Scale shape: one FK join + "
    "supplier-keyed aggregate, a 1-row stats broadcast, and "
    "TakeOrderedAndProject — the metric list extends by adding "
    "aggregate columns, never new passes.",
    tags=("warehouse", "A7", "A11", "O3"),
)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_partkey", "l_shipdate", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.round(
                F.avg(
                    F.when(
                        F.datediff(
                            F.col("l_shipdate").cast("date"),
                            F.col("o_orderdate").cast("date"),
                        )
                        <= 30,
                        1.0,
                    ).otherwise(0.0)
                ),
                6,
            ).alias("ontime_rate"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )
    stats = per_supp.agg(
        F.round(F.avg("ontime_rate"), 6).alias("m_ontime"),
        F.round(F.stddev_samp("ontime_rate"), 6).alias("s_ontime"),
        F.round(F.avg("rev_cents"), 6).alias("m_rev"),
        F.round(F.stddev_samp("rev_cents"), 6).alias("s_rev"),
        F.round(F.avg("n_parts"), 6).alias("m_parts"),
        F.round(F.stddev_samp("n_parts"), 6).alias("s_parts"),
    )
    comp = F.round(
        0.4 * ((F.col("ontime_rate") - F.col("m_ontime")) / F.col("s_ontime"))
        + 0.4 * ((F.col("rev_cents") - F.col("m_rev")) / F.col("s_rev"))
        + 0.2 * ((F.col("n_parts") - F.col("m_parts")) / F.col("s_parts")),
        6,
    )
    scored = per_supp.crossJoin(F.broadcast(stats)).select(
        "suppkey",
        "ontime_rate",
        "rev_cents",
        "n_parts",
        comp.alias("composite_z"),
    )
    w = Window.orderBy(F.desc("composite_z"), "suppkey")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .drop("rn")
        .orderBy(F.desc("composite_z"), "suppkey")
    )


@register(
    "revenue_change_contribution",
    oracle="""
    WITH cell AS (
        SELECT n_name AS nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
               SUM(l_extendedprice * (1 - l_discount)) AS rev
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE EXTRACT(YEAR FROM o_orderdate) IN (1997, 1998)
        GROUP BY 1, 2
    ), wide AS (
        SELECT nation,
               COALESCE(MAX(CASE WHEN yr = 1997 THEN rev END), 0) AS rev_a,
               COALESCE(MAX(CASE WHEN yr = 1998 THEN rev END), 0) AS rev_b
        FROM cell GROUP BY nation
    ), tot AS (
        SELECT SUM(rev_b - rev_a) AS delta_total FROM wide
    )
    SELECT nation,
           ROUND(rev_a, 2) AS rev_a,
           ROUND(rev_b, 2) AS rev_b,
           ROUND(rev_b - rev_a, 2) AS delta,
           ROUND((rev_b - rev_a) / tot.delta_total, 6) AS contribution
    FROM wide CROSS JOIN tot
    ORDER BY abs(rev_b - rev_a) DESC, nation
    """,
    doc="Metric-movement root cause: which customer nations drive the "
    "1997->1998 revenue change. Per-cell revenue pivots to (before, "
    "after), per-cell delta normalizes by the total delta (1-row "
    "broadcast) and ranks by absolute impact — the top-down "
    "contribution decomposition behind every 'why did the number move' "
    "dashboard drill. One fact aggregation feeds everything; the year "
    "filter pushes into the orders scan. Contributions sum to 1 by "
    "construction, so the result is self-auditing.",
    tags=("warehouse", "A7", "A10", "J6", "O3"),
)
def revenue_change_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year(F.col("o_orderdate").cast("date")).alias("yr")
    ).filter(F.col("yr").isin(1997, 1998))
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    cell = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer scales with the fact — shuffle-join it (AQE may still
        # upgrade under the threshold locally); only nation broadcasts
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("nation", "yr")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            )
        )
    )
    wide = cell.groupBy("nation").agg(
        F.coalesce(
            F.max(F.when(F.col("yr") == 1997, F.col("rev"))), F.lit(0.0)
        ).alias("rev_a"),
        F.coalesce(
            F.max(F.when(F.col("yr") == 1998, F.col("rev"))), F.lit(0.0)
        ).alias("rev_b"),
    )
    tot = wide.agg(
        F.sum(F.col("rev_b") - F.col("rev_a")).alias("delta_total")
    )
    return (
        wide.crossJoin(F.broadcast(tot))
        .select(
            "nation",
            F.round("rev_a", 2).alias("rev_a"),
            F.round("rev_b", 2).alias("rev_b"),
            F.round(F.col("rev_b") - F.col("rev_a"), 2).alias("delta"),
            F.round(
                (F.col("rev_b") - F.col("rev_a")) / F.col("delta_total"), 6
            ).alias("contribution"),
        )
        .orderBy(F.abs(F.col("rev_b") - F.col("rev_a")).desc(), "nation")
    )


_UVI_BASE_YEAR = 1995


@register(
    "pricing_unit_value_index",
    oracle=f"""
    WITH cell AS (
        SELECT p.p_brand AS brand,
               CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS yr,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ), based AS (
        SELECT brand,
               CAST(cents AS DOUBLE) / qty AS uv_base
        FROM cell WHERE yr = {_UVI_BASE_YEAR}
    )
    SELECT c.brand, c.yr, c.n_items,
           CAST(c.cents AS DOUBLE) / c.qty / 100.0 AS unit_value,
           (CAST(c.cents AS DOUBLE) / c.qty) / b.uv_base AS price_index
    FROM cell c JOIN based b ON c.brand = b.brand
    ORDER BY c.brand, c.yr
    """,
    doc=f"Unit-value price index per brand and year against the "
    f"{_UVI_BASE_YEAR} base: (revenue/quantity)_t over "
    "(revenue/quantity)_base — the division-free-until-the-end index "
    "formulation (no per-part price averaging, so no float-sum-order "
    "exposure: cents and quantities accumulate as exact integers and "
    "exactly TWO double divisions produce each row). The inflation/"
    "mix-shift monitor a pricing team tracks per product line; doubles "
    "ship raw since both engines derive them from identical integers. "
    "One fact aggregation keyed (brand, year); the base-year slice "
    "joins back brand-keyed (25 brands — broadcast).",
    tags=("warehouse", "pricing", "A7", "A10", "F9"),
)
def pricing_unit_value_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year(F.col("o_orderdate").cast("date")).alias("yr"),
    )
    cell = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("p_brand").alias("brand"), "yr")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    based = cell.filter(F.col("yr") == _UVI_BASE_YEAR).select(
        F.col("brand").alias("b_brand"),
        (F.col("cents").cast("double") / F.col("qty")).alias("uv_base"),
    )
    uv = F.col("cents").cast("double") / F.col("qty")
    return (
        cell.join(F.broadcast(based), F.col("brand") == F.col("b_brand"))
        .select(
            "brand",
            "yr",
            "n_items",
            (uv / 100.0).alias("unit_value"),
            (uv / F.col("uv_base")).alias("price_index"),
        )
        .orderBy("brand", "yr")
    )
