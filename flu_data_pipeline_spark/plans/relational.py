"""Core relational operator inventory (SURVEY.md §2) on the driver testdata.

Each query re-expresses one or more reference operators (ids in ``tags``)
as an idiomatic Spark plan, paired with the DuckDB oracle SQL. The flu
report queries (api/app.py:215-346) are mirrored structurally on the TPC-H
tables: identical operator shapes (LEFT JOIN → filter → multi-key groupBy →
AVG + COUNT(DISTINCT) → HAVING → ORDER BY ... LIMIT), different column names.

Float policy (§4.3.5): big SUMs rounded to 2dp and AVGs to 6dp *in the
query on both sides*, so cross-engine aggregation-order ulps can't flip the
driver's value hash. COUNT/SUM-of-int are cast to BIGINT on the DuckDB side
(DuckDB widens to HUGEINT, Spark stays long).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import load_table
from flu_data_pipeline_spark.operators.materialize import barrier
from flu_data_pipeline_spark.plans.registry import register


# ---------------------------------------------------------------------------
# Report-query mirrors (api/app.py:215-346 shapes on TPC-H tables)
# ---------------------------------------------------------------------------

@register(
    "report_weekly_trends",
    oracle="""
    SELECT CAST(date_trunc('week', o.o_orderdate) AS DATE) AS week_start,
           l.l_returnflag AS returnflag,
           ROUND(AVG(l.l_extendedprice), 6) AS avg_price,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers
    FROM orders o
    LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag IS NOT NULL
    GROUP BY 1, 2
    HAVING AVG(l.l_extendedprice) IS NOT NULL
    ORDER BY week_start DESC, returnflag
    LIMIT 20
    """,
    doc="Weekly-trends report shape (api/app.py:219-233): LEFT JOIN → "
    "IS NOT NULL filter → multi-key groupBy → AVG + COUNT(DISTINCT) → "
    "HAVING → ORDER BY DESC,ASC → LIMIT 20.",
    tags=("J5", "P5", "A7", "A8", "A9", "A10", "O4", "O7"),
    bench=True,
)
def report_weekly_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # SHUFFLE_HASH on the smaller fact: a hash build of the per-partition
    # orders slice beats sort-merge's two full sorts (measured 1.4x at
    # sf0.1); per-partition build memory stays bounded at scale because
    # it shrinks with shuffle.partitions, and AQE still splits skew.
    joined = orders.hint("SHUFFLE_HASH").join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey, "left"
    )
    return (
        joined.filter(F.col("l_returnflag").isNotNull())
        .groupBy(
            F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week_start"),
            F.col("l_returnflag").alias("returnflag"),
        )
        .agg(
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
        .filter(F.col("avg_price").isNotNull())
        .orderBy(F.desc("week_start"), F.asc("returnflag"))
        .limit(20)
    )


@register(
    "report_regional_impact",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(DISTINCT s.s_suppkey) AS BIGINT) AS n_suppliers,
           ROUND(AVG(s.s_acctbal), 6) AS avg_acctbal,
           ROUND(AVG(CASE WHEN s.s_acctbal > 0 THEN s.s_acctbal END), 6)
               AS avg_positive_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_acctbal > 0 OR s.s_acctbal < -500
    GROUP BY n.n_name
    ORDER BY avg_acctbal DESC NULLS LAST
    """,
    doc="Healthcare-impact report shape (api/app.py:257-301): inner join dim "
    "→ disjunctive range filter → groupBy → AVGs + COUNT(DISTINCT) → "
    "ORDER BY DESC NULLS LAST. Dim side broadcast.",
    tags=("J6", "P6", "A7", "A8", "A10", "O5"),
)
def report_regional_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supplier.filter((F.col("s_acctbal") > 0) | (F.col("s_acctbal") < -500))
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey, "inner")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            F.round(F.avg("s_acctbal"), 6).alias("avg_acctbal"),
            F.round(
                F.avg(F.when(F.col("s_acctbal") > 0, F.col("s_acctbal"))), 6
            ).alias("avg_positive_acctbal"),
        )
        .orderBy(F.col("avg_acctbal").desc_nulls_last())
    )


@register(
    "report_historical_summary",
    oracle="""
    WITH yearly AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS year,
               o_orderkey, o_totalprice
        FROM orders
    ), win AS (
        SELECT year,
               MAX(o_totalprice) OVER (PARTITION BY year) AS peak_price,
               AVG(o_totalprice) OVER (PARTITION BY year) AS avg_price,
               FIRST_VALUE(o_orderkey) OVER (
                   PARTITION BY year
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS peak_orderkey
        FROM yearly
    )
    SELECT DISTINCT year,
           CAST(FLOOR(year / 10) * 10 AS INT) AS decade_year,
           peak_orderkey,
           ROUND(peak_price, 6) AS peak_price,
           ROUND(avg_price, 6) AS avg_price,
           ROUND(peak_price - avg_price, 6) AS peak_vs_avg_diff
    FROM win
    ORDER BY year DESC
    """,
    doc="Historics pipeline shape (flu_data_airflow_v2.py:420-437 + "
    "api/app.py:303-346): per-year windowed max/avg/argmax (idxmax "
    "first-occurrence tie-break → ORDER BY val DESC, key ASC), decade "
    "floor-div, then DISTINCT collapse and ORDER BY year DESC.",
    tags=("A4", "A5", "A6", "F8", "F9", "O6", "D1"),
)
def report_historical_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    yearly = orders.select(
        F.year("o_orderdate").cast("int").alias("year"),
        "o_orderkey",
        "o_totalprice",
    )
    w = Window.partitionBy("year")
    wo = w.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        yearly.withColumn("peak_price_raw", F.max("o_totalprice").over(w))
        .withColumn("avg_price_raw", F.avg("o_totalprice").over(w))
        .withColumn("peak_orderkey", F.first("o_orderkey").over(wo))
        .select(
            "year",
            (F.floor(F.col("year") / 10) * 10).cast("int").alias("decade_year"),
            "peak_orderkey",
            F.round("peak_price_raw", 6).alias("peak_price"),
            F.round("avg_price_raw", 6).alias("avg_price"),
            F.round(F.col("peak_price_raw") - F.col("avg_price_raw"), 6).alias(
                "peak_vs_avg_diff"
            ),
        )
        .distinct()
        .orderBy(F.desc("year"))
    )


@register(
    "export_table_nation",
    oracle="SELECT * FROM nation LIMIT 1000",
    doc="CSV-export path (api/app.py:348-376): full scan of an allowlisted "
    "table capped at 1000 rows (nation has 25 → deterministic).",
    tags=("S8", "S9", "O7"),
)
def export_table_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "nation").limit(1000)


# ---------------------------------------------------------------------------
# Projection / filter / predicates
# ---------------------------------------------------------------------------

@register(
    "proj_filter_notin",
    oracle="""
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           l_returnflag AS returnflag, l_quantity AS qty
    FROM lineitem
    WHERE l_returnflag NOT IN ('A', 'N')
    """,
    doc="NOT-IN filter + projection + rename (flu_data_airflow_v2.py:100-103 "
    "Statewide/Unassigned removal shape). Filter pushes to the parquet scan.",
    tags=("P1", "P2", "P3"),
)
def proj_filter_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(~F.col("l_returnflag").isin("A", "N"))
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_quantity").alias("qty"),
        )
    )


@register(
    "filter_conj_eq",
    oracle="""
    SELECT l_orderkey AS orderkey, l_partkey AS partkey,
           l_extendedprice AS price
    FROM lineitem
    WHERE l_returnflag = 'A' AND l_linestatus = 'F'
      AND l_quantity = 10 AND l_linenumber = 1
    """,
    doc="Conjunctive 4-predicate equality slice "
    "(flu_data_airflow_v2.py:166-171 latest-week filter shape).",
    tags=("P4",),
)
def filter_conj_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "A")
        & (F.col("l_linestatus") == "F")
        & (F.col("l_quantity") == 10)
        & (F.col("l_linenumber") == 1)
    ).select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_partkey").alias("partkey"),
        F.col("l_extendedprice").alias("price"),
    )


@register(
    "filter_null_or_range",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE (value > 10 OR event_type = 'error') AND props IS NOT NULL
    """,
    doc="Disjunctive range filter + IS NOT NULL (api/app.py:271,228).",
    tags=("P5", "P6"),
)
def filter_null_or_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        ((F.col("value") > 10) | (F.col("event_type") == "error"))
        & F.col("props").isNotNull()
    ).select("event_id", "event_type", "value")


@register(
    "null_profile",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(value) AS BIGINT) AS n_value_notnull,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           ROUND(AVG(value), 6) AS avg_value,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value
    FROM events
    """,
    doc="Profiling/validation stats block (flu_data_airflow_v2.py:127-139, "
    "A11): count / non-null count / distinct / mean / min / max in one agg.",
    tags=("P7", "A11"),
)
def null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_value_notnull"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

@register(
    "join_left_broadcast",
    oracle="""
    SELECT o.o_orderkey AS orderkey, c.c_name AS cust_name,
           c.c_mktsegment AS segment, o.o_totalprice AS totalprice
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="Left outer equi-join fact←dim (flu_data_airflow_v2.py:368,372): "
    "dim side broadcast — no shuffle of the fact at scale. REGISTERED "
    "AND SELF-PROVING (round 5): the builder asserts the physical plan "
    "contains a BroadcastHashJoin — if the broadcast ever degrades to "
    "a sort-merge/shuffle join (the fact table would then shuffle on "
    "every run of the engine's most common join shape), the query "
    "raises and the correctness gate records it red; negative-tested "
    "by building the same shape unhinted under "
    "autoBroadcastJoinThreshold=-1 (tests/test_plans.py).",
    tags=("J1", "J2", "J3", "J4", "scale-proof"),
    bench=True,
)
def join_left_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _left_broadcast_frame(spark, sf_dir, hinted=True)


def _left_broadcast_frame(
    spark: SparkSession, sf_dir: str, hinted: bool
) -> DataFrame:
    """Shared shape for join_left_broadcast and its negative test:
    ``hinted=False`` drops the broadcast hint so the planner (with
    auto-broadcast disabled) degrades to a shuffle join and the plan
    assertion must fire."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    dim = F.broadcast(customer) if hinted else customer
    out = orders.join(
        dim, orders.o_custkey == customer.c_custkey, "left"
    ).select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("c_name").alias("cust_name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("totalprice"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "BroadcastHashJoin" not in plan:
        raise AssertionError(
            "dim-side broadcast did not plan BroadcastHashJoin (the "
            "fact side would shuffle); plan:\n" + plan[:2000]
        )
    return out


@register(
    "join_anti_orphans",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_name AS cust_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Anti-join / set-difference validation "
    "(flu_data_airflow_v2.py:83-95): customers with no orders.",
    tags=("J7", "D3"),
)
def join_anti_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("cust_name"))


# ---------------------------------------------------------------------------
# Aggregations / windows
# ---------------------------------------------------------------------------

@register(
    "string_agg_sorted",
    oracle="""
    SELECT r.r_name AS region,
           string_agg(DISTINCT n.n_name, ', ' ORDER BY n.n_name) AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="Ordered-distinct string aggregation (flu_data_airflow_v2.py:335 "
    "ACH-merge): concat_ws ∘ array_sort ∘ collect_set — collect_set drops "
    "nulls like pandas dropna().unique(); array_sort pins the "
    "nondeterministic set order (§4.3.4).",
    tags=("A1", "U3"),
)
def string_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.concat_ws(", ", F.array_sort(F.collect_set("n_name"))).alias("nations")
        )
    )


@register(
    "keep_first_per_key",
    oracle="""
    SELECT o_custkey AS custkey,
           CAST(o_orderdate AS DATE) AS first_orderdate,
           o_orderpriority AS first_priority
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ) = 1
    """,
    doc="Keyed keep-first dedup / first-non-null collapse "
    "(flu_data_airflow_v2.py:376,409 — D2/A2): pandas 'first' semantics "
    "made deterministic with an explicit (date, key) ordering (§4.3.1).",
    tags=("D2", "A2"),
)
def keep_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").cast("date").alias("first_orderdate"),
            F.col("o_orderpriority").alias("first_priority"),
        )
    )


@register(
    "group_mean_as_window",
    oracle="""
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           l_suppkey AS suppkey, l_quantity AS qty,
           ROUND(AVG(l_quantity) OVER (PARTITION BY l_suppkey, l_returnflag), 6)
               AS supp_avg_qty,
           ROUND(MAX(l_extendedprice) OVER (PARTITION BY l_suppkey, l_returnflag), 6)
               AS supp_max_price
    FROM lineitem
    """,
    doc="groupby().transform('mean'/'max') — aggregate broadcast back to "
    "every row via whole-partition window (flu_data_airflow_v2.py:395,427).",
    tags=("A3", "A4", "A5"),
)
def group_mean_as_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey", "l_returnflag")
    return li.select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_quantity").alias("qty"),
        F.round(F.avg("l_quantity").over(w), 6).alias("supp_avg_qty"),
        F.round(F.max("l_extendedprice").over(w), 6).alias("supp_max_price"),
    )


@register(
    "surrogate_key_by_name",
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_name) AS INT) AS nation_id,
           n_name AS nation_name
    FROM nation
    """,
    doc="Surrogate key by sorted position (flu_data_airflow_v2.py:329,339 — "
    "W1). Single-partition window: acceptable ONLY for tiny dims (25 rows); "
    "large tables must use a distributed id scheme instead.",
    tags=("W1",),
)
def surrogate_key_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        F.row_number().over(Window.orderBy("n_name")).cast("int").alias("nation_id"),
        F.col("n_name").alias("nation_name"),
    )


@register(
    "dedup_distinct_pairs",
    oracle="""
    SELECT DISTINCT l_returnflag AS returnflag, l_linestatus AS linestatus
    FROM lineitem
    """,
    doc="Full-row dedup on a projection (flu_data_airflow_v2.py:329,352 — "
    "D1). Partial (map-side) distinct happens before the shuffle.",
    tags=("D1",),
)
def dedup_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ).distinct()


# ---------------------------------------------------------------------------
# Scalar function battery
# ---------------------------------------------------------------------------

@register(
    "scalar_derivations",
    oracle="""
    SELECT event_id,
           CAST(substr(CAST(CAST(ts AS DATE) AS VARCHAR), 1, 4) AS INT) AS year,
           CAST(
             substr(CAST(CAST(ts AS DATE) AS VARCHAR), 1, 4)
             || lpad(CAST(weekofyear(ts) AS VARCHAR), 2, '0')
           AS INT) AS epiweek_id,
           CAST(FLOOR(CAST(substr(CAST(CAST(ts AS DATE) AS VARCHAR), 1, 4) AS INT) / 10) * 10
                AS INT) AS decade_year,
           CAST(ts AS DATE) AS event_date
    FROM events
    """,
    doc="Scalar battery (F3-F8): string-slice year, zero-pad + concat "
    "epiweek id, casts, floor-div decade (flu_data_airflow_v2.py:350,423-424).",
    tags=("F3", "F4", "F5", "F6", "F8"),
)
def scalar_derivations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    date_str = F.col("ts").cast("date").cast("string")
    year_str = F.substring(date_str, 1, 4)
    return ev.select(
        "event_id",
        year_str.cast("int").alias("year"),
        F.concat(
            year_str, F.lpad(F.weekofyear("ts").cast("string"), 2, "0")
        ).cast("int").alias("epiweek_id"),
        (F.floor(year_str.cast("int") / 10) * 10).cast("int").alias("decade_year"),
        F.col("ts").cast("date").alias("event_date"),
    )


@register(
    "case_when_ratio_fill",
    oracle="""
    SELECT l_partkey AS partkey,
           ROUND(COALESCE(SUM(CASE WHEN l_returnflag = 'R'
                                   THEN l_extendedprice END), 0), 2)
               AS returned_price,
           ROUND(SUM(l_extendedprice), 2) AS total_price,
           ROUND(CASE WHEN SUM(l_extendedprice) = 0 THEN 0
                      ELSE COALESCE(SUM(CASE WHEN l_returnflag = 'R'
                                             THEN l_extendedprice END), 0)
                           / SUM(l_extendedprice) END, 6) AS returned_ratio
    FROM lineitem
    GROUP BY l_partkey
    """,
    doc="Conditional pivot + fillna(0) + guarded ratio "
    "(flu_data_airflow_v2.py:404-415 — F10/F11/F12): CASE WHEN measure "
    "pivot, null-fill, divide-by-zero pinned to 0 (§4.3.2).",
    tags=("F10", "F11", "F12", "U2"),
)
def case_when_ratio_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    returned = F.sum(F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice")))
    total = F.sum("l_extendedprice")
    return (
        li.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.round(F.coalesce(returned, F.lit(0)), 2).alias("returned_price"),
            F.round(total, 2).alias("total_price"),
            F.round(
                F.when(total == 0, 0).otherwise(F.coalesce(returned, F.lit(0)) / total),
                6,
            ).alias("returned_ratio"),
        )
    )


@register(
    "clean_cast_extract",
    oracle="""
    SELECT event_id,
           CAST(NULLIF(TRIM(regexp_extract(props, '"k":\\s*([0-9]+)', 1)), '')
                AS DOUBLE) AS k_value
    FROM events
    """,
    doc="Percent-cleaner semantics (flu_data_airflow_v2.py:142-154 — F13): "
    "extract numeric substring, blank → null, cast-with-null-on-junk. "
    "Native expressions, no UDF (§2.10 policy).",
    tags=("F13", "U1"),
)
def clean_cast_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    extracted = F.regexp_extract("props", r'"k":\s*([0-9]+)', 1)
    return ev.select(
        "event_id",
        F.when(F.trim(extracted) == "", F.lit(None))
        .otherwise(extracted)
        .cast("double")
        .alias("k_value"),
    )


# ---------------------------------------------------------------------------
# Classic analytics (bench headliners)
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_extendedprice), 6) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY returnflag, linestatus
    """,
    doc="TPC-H Q1-shape pricing summary: the partial→final hash aggregate "
    "benchmark. Filter pushes to the scan; map-side combine before shuffle.",
    tags=("A7", "A10", "F9", "O1"),
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("returnflag", "linestatus")
    )


@register(
    "top_revenue_orders",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           c.c_mktsegment AS segment
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), c.c_mktsegment
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-shape 3-way join + agg + top-k "
    "(TakeOrderedAndProject physical op; orderkey tiebreak pins ties).",
    tags=("J6", "A7", "O2", "O3"),
    bench=True,
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # aggregation pushed BELOW the joins: revenue is fully determined by
    # l_orderkey, so summing lineitem first shrinks the join input from
    # line- to order-cardinality and removes the post-join shuffle the
    # naive join-then-group plan pays (measured 1.3x at sf0.1; the gap
    # widens with the lineitem:orders ratio at scale). SHUFFLE_HASH: the
    # aggregated side is the smaller build, no sort needed.
    rev = lineitem.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    return (
        rev.hint("SHUFFLE_HASH")
        .join(orders, rev.orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.col("c_mktsegment").alias("segment"),
        )
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Set operations / UDTF-style explode / pivot / rollup / percentiles
# (beyond-reference extensions noted in SURVEY §2.4/§2.7: union, intersect,
# cube/rollup, percentile — all native Spark)
# ---------------------------------------------------------------------------

@register(
    "set_ops_customers",
    oracle="""
    SELECT custkey FROM (
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_nationkey = 3
    """,
    doc="Set algebra: UNION (distinct) then EXCEPT (distinct) - "
    "union/exceptAll were absent from the reference (SURVEY D-) but are "
    "core relational surface.",
    tags=("D3", "set-ops"),
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    rich = cust.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    nation3 = cust.filter(F.col("c_nationkey") == 3).select(
        F.col("c_custkey").alias("custkey")
    )
    return building.union(rich).distinct().subtract(nation3)


@register(
    "explode_part_words",
    oracle="""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
    GROUP BY word
    """,
    doc="UDTF-style explode (F2): split part names to words, one row per "
    "word, frequency count. Generate + partial-agg before shuffle.",
    tags=("F2", "A7"),
)
def explode_part_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split(F.col("p_name"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "pivot_qty_by_flag",
    oracle="""
    SELECT l_linestatus AS linestatus,
           ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS A,
           ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS N,
           ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS R
    FROM lineitem
    GROUP BY l_linestatus
    """,
    doc="Pivot (wide aggregation): sum of quantity per linestatus x "
    "returnflag with explicit pivot values (no extra pass to discover "
    "them).",
    tags=("pivot", "A7"),
)
def pivot_qty_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_linestatus").alias("linestatus"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


@register(
    "rollup_revenue",
    oracle="""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy totals (grand total + per-flag subtotals + leaf "
    "groups); null group keys mark subtotal rows in both engines.",
    tags=("rollup", "A7"),
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "percentiles_by_type",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           CAST(COUNT(value) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
    doc="Exact interpolated percentiles (median/p90) per group - "
    "percentile was absent from the reference (SURVEY §2.4 'not present'); "
    "Spark `percentile` == DuckDB `quantile_cont`.",
    tags=("percentile", "A7"),
)
def percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.count("value").alias("n"),
    )


@register(
    "approx_sketches",
    oracle=None,  # approx sketches are engine-specific; rows-only check
    doc="Approximate aggregates (HLL distinct count + approx percentile): "
    "sketch results differ across engines by design, so this entry takes "
    "the driver's weaker rows-only check; exact twins are oracle-checked "
    "in null_profile / percentiles_by_type.",
    tags=("sketch", "A8"),
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("approx_p50"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "join_semi_exists",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
    doc="Semi-join (EXISTS): customers with at least one urgent order. "
    "left_semi never duplicates or widens the left side — the shuffle "
    "carries only the join key from the right.",
    tags=("J7", "semi-join"),
)
def join_semi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
    ).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
    )


@register(
    "cube_revenue",
    oracle="""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp_id,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over (returnflag, linestatus) with GROUPING id: all 2^2 "
    "grouping sets in one pass (Expand + single aggregate exchange); "
    "grp_id disambiguates subtotal rows from genuine-null keys.",
    tags=("cube", "A7"),
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            F.grouping_id().cast("long").alias("grp_id"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select("returnflag", "linestatus", "grp_id", "sum_price", "n_rows")
    )


@register(
    "stats_corr_covar",
    oracle="""
    SELECT l_returnflag AS returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
           ROUND(stddev_samp(l_extendedprice), 6) AS price_stddev,
           ROUND(var_samp(l_quantity), 6) AS qty_var
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Statistical aggregates: Pearson correlation, sample covariance/"
    "stddev/variance per group — single-pass distributed moments "
    "(partial aggregation composes: each executor keeps (n, Σx, Σy, "
    "Σxy, Σx², Σy²) and merges). Absent from the reference; standard "
    "profiling surface.",
    tags=("A11", "stats"),
)
def stats_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 6).alias("price_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
    )


@register(
    "join_null_safe",
    oracle="""
    WITH keyed AS (
        SELECT event_id,
               CASE WHEN CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS INT) < 10
                    THEN NULL
                    ELSE CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS INT) % 5
               END AS grp
        FROM events WHERE user_id = 0
    )
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           COALESCE(CAST(a.grp AS VARCHAR), 'null') AS grp
    FROM keyed a JOIN keyed b
      ON a.grp IS NOT DISTINCT FROM b.grp AND a.event_id < b.event_id
    """,
    doc="Null-safe equi-join (<=> / IS NOT DISTINCT FROM): rows whose "
    "derived key is NULL (k < 10) match each OTHER — a regular equi-join "
    "would silently drop every NULL-keyed row. The null-safe key still "
    "hash-partitions (NULL lands in a regular bucket under <=>), so the "
    "join stays a shuffle hash join, not a nested loop.",
    tags=("join", "null-safe"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") == 0)
    k = F.regexp_extract("props", r'"k":\s*([0-9]+)', 1).cast("int")
    keyed = ev.select(
        "event_id", F.when(k < 10, F.lit(None)).otherwise(k % 5).alias("grp")
    )
    a = keyed.select(F.col("event_id").alias("id_a"), F.col("grp").alias("g_a"))
    b = keyed.select(F.col("event_id").alias("id_b"), F.col("grp").alias("g_b"))
    return a.join(
        b, F.col("g_a").eqNullSafe(F.col("g_b")) & (F.col("id_a") < F.col("id_b"))
    ).select(
        "id_a",
        "id_b",
        F.coalesce(F.col("g_a").cast("string"), F.lit("null")).alias("grp"),
    )


@register(
    "json_extract_agg",
    oracle="""
    SELECT event_type,
           CAST(COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
               AS n_with_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
               AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
               AS max_k
    FROM events
    GROUP BY event_type
    """,
    doc="Structured JSON path: from_json(props, 'k INT') parses the props "
    "column into a typed struct at the scan projection (single parse, "
    "JVM-side Jackson — not regex), then standard aggregation. The "
    "schema-on-read pattern for semi-structured event payloads.",
    tags=("json", "F13", "A7"),
)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("int").alias("max_k"),
        )
    )


@register(
    "grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice), 2) AS revenue,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS (beyond the rollup_revenue / cube_revenue "
    "entries): detail, per-flag subtotal, and grand total in one pass, "
    "with GROUPING() markers distinguishing real NULL keys from "
    "aggregated-away ones. Spark plans this as a single Expand + "
    "hash-aggregate — one scan, one shuffle, not three queries.",
    tags=("rollup", "cube", "grouping-sets", "A7"),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_extendedprice), 2) AS revenue,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "market_share_by_year",
    oracle="""
    WITH vols AS (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS yr,
               l.l_extendedprice * (1 - l.l_discount) AS vol,
               n.n_name AS nation
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
    )
    SELECT yr,
           ROUND(ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN vol ELSE 0 END), 2)
                 / ROUND(SUM(vol), 2), 6) AS mkt_share
    FROM vols
    GROUP BY yr
    ORDER BY yr
    """,
    doc="TPC-H Q8 shape (market share): one nation's revenue fraction per "
    "year across a 4-way join. The two sums ride the SAME aggregate "
    "(conditional numerator), so the fraction costs one pass; dims "
    "(supplier via nation) broadcast, the lineitem-orders join is the "
    "only fact shuffle. Sums rounded 2dp before the division pins the "
    "cross-engine ratio.",
    tags=("J6", "A7", "subquery"),
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    vols = (
        li.hint("SHUFFLE_HASH")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select(
            F.year("o_orderdate").cast("int").alias("yr"),
            vol.alias("vol"),
            F.col("n_name").alias("nation"),
        )
    )
    return (
        vols.groupBy("yr")
        .agg(
            F.round(
                F.round(
                    F.sum(F.when(F.col("nation") == "NATION_3", F.col("vol")).otherwise(0.0)), 2
                )
                / F.round(F.sum("vol"), 2),
                6,
            ).alias("mkt_share")
        )
        .orderBy("yr")
    )


@register(
    "date_math_battery",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS next_month,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(isodow(o_orderdate) AS INT) AS iso_weekday,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
           CAST(DATE '2026-01-01' - CAST(o_orderdate AS DATE) AS INT)
               AS days_until_2026
    FROM orders
    WHERE o_orderkey < 2000
    """,
    doc="Date-arithmetic surface beyond the reference's F3-F8 derivations: "
    "month arithmetic with end-of-month clamping (Jan 31 + 1mo = Feb "
    "29), last_day, ISO weekday/week number (Spark weekday()+1 = DuckDB "
    "isodow — both pinned ISO, dodging the 1=Sunday dayofweek trap), "
    "quarter truncation, and day differences. All codegen scalar "
    "expressions with identical calendar semantics cross-engine.",
    tags=("F3", "F6", "F8", "date"),
)
def date_math_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.add_months(d, 1).alias("next_month"),
        F.last_day(d).alias("month_end"),
        (F.weekday(d) + 1).cast("int").alias("iso_weekday"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.date_trunc("quarter", d).cast("date").alias("quarter_start"),
        F.datediff(F.lit("2026-01-01").cast("date"), d).cast("int").alias(
            "days_until_2026"
        ),
    )


@register(
    "set_ops_bag_semantics",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT l_returnflag FROM lineitem WHERE l_quantity > 25
        INTERSECT ALL
        SELECT l_returnflag FROM lineitem WHERE l_discount > 0.03
    )
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Bag (multiset) set operations — INTERSECT ALL keeps "
    "min(multiplicity) per value, the semantics DISTINCT-based set ops "
    "destroy. Complements set_ops_customers' distinct algebra; Spark "
    "plans intersectAll as an aggregated count-compare, not a "
    "full materialized cross-check.",
    tags=("set-ops", "D3", "A7"),
)
def set_ops_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 25).select("l_returnflag")
    b = li.filter(F.col("l_discount") > 0.03).select("l_returnflag")
    return (
        a.intersectAll(b)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag")
    )


@register(
    "promo_revenue_share",
    oracle="""
    WITH l AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS DATE)
                   AS ship_month, p_type,
               CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000)
                    AS BIGINT) AS rev4
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1997-01-01'
    ), agg AS (
        SELECT ship_month,
               CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev4 ELSE 0 END)
                    AS BIGINT) AS promo4,
               CAST(SUM(rev4) AS BIGINT) AS total4
        FROM l GROUP BY ship_month
    )
    SELECT ship_month,
           promo4 / 10000.0 AS promo_rev,
           total4 / 10000.0 AS total_rev,
           CAST(promo4 AS DOUBLE) / total4 * 100.0 AS promo_share_pct
    FROM agg ORDER BY ship_month
    """,
    doc="TPC-H Q14 shape widened to a monthly series: promo-type revenue "
    "share of discounted revenue per ship month of 1996. The shipdate "
    "range predicate pushes into the parquet scan; the part dim "
    "broadcasts (true dim — size does not grow with the fact), so the "
    "fact never shuffles before aggregation; the conditional SUM is "
    "one-pass. Float parity: revenue is fixed-pointed per row "
    "(FLOOR(rev*1e4) of a bit-identical IEEE product), summed as exact "
    "int64, divided once at the edge — immune to both float sum-order "
    "and the Spark-vs-DuckDB ROUND boundary divergence.",
    tags=("A7", "F10", "J6", "relational"),
    bench=True,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev4 = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    promo4 = F.when(F.col("p_type") == "PROMO", rev4).otherwise(F.lit(0))
    out = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month")
        )
        .agg(
            F.sum(promo4).cast("bigint").alias("promo4"),
            F.sum(rev4).cast("bigint").alias("total4"),
        )
    )
    return out.select(
        "ship_month",
        (F.col("promo4") / 10000.0).alias("promo_rev"),
        (F.col("total4") / 10000.0).alias("total_rev"),
        (F.col("promo4").cast("double") / F.col("total4") * 100.0).alias(
            "promo_share_pct"
        ),
    ).orderBy("ship_month")


#: Skyline oracle — shared by skyline_price_size (global-window form)
#: and skyline_price_size_scale (range-partitioned carry-in form).
_SKYLINE_ORACLE = """
    WITH pts AS (
        SELECT p_partkey, p_name, p_size,
               CAST(FLOOR(p_retailprice * 100) AS BIGINT) AS price_cents
        FROM part
    ), ranked AS (
        SELECT p_partkey, p_name, p_size, price_cents,
               MAX(p_size) OVER (
                   ORDER BY price_cents
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS best_cheaper_size,
               MAX(p_size) OVER (PARTITION BY price_cents)
                   AS best_same_price_size
        FROM pts
    )
    SELECT p_partkey, p_name, p_size, price_cents
    FROM ranked
    WHERE (best_cheaper_size IS NULL OR p_size > best_cheaper_size)
      AND p_size = best_same_price_size
    ORDER BY price_cents, p_partkey
    """


@register(
    "skyline_price_size",
    oracle=_SKYLINE_ORACLE,
    doc="Skyline / Pareto-front preference query (minimize price, "
    "maximize size): a part is on the skyline iff no other part is "
    "both <= on price and >= on size with one strict — the classic "
    "'best trade-offs only' operator from preference-query "
    "literature. 2D skylines need NO pairwise join: sort by price "
    "and keep points beating the running size maximum. Dominance "
    "splits into two window tests — strictly-cheaper points via a "
    "RANGE frame to 1 PRECEDING on integer cents (float cents would "
    "make 'strictly cheaper' ulp-dependent), and same-price points "
    "via a per-price partition max (equal price + larger size also "
    "dominates; exact duplicates survive together, having no strict "
    "edge). Scale shape: one GLOBAL range window — the "
    "single-partition small-data form; skyline_price_size_scale is "
    "the registered cluster-scale twin (range repartition on price, "
    "per-partition running max, tiny per-partition carry-in "
    "summaries merged via broadcast) with bit-identical output.",
    tags=("relational", "skyline", "O4", "W1"),
)
def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_size",
        F.floor(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
    )
    w_cheaper = Window.orderBy("price_cents").rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_same = Window.partitionBy("price_cents")
    ranked = part.select(
        "p_partkey",
        "p_name",
        "p_size",
        "price_cents",
        F.max("p_size").over(w_cheaper).alias("best_cheaper_size"),
        F.max("p_size").over(w_same).alias("best_same_price_size"),
    )
    return (
        ranked.filter(
            (
                F.col("best_cheaper_size").isNull()
                | (F.col("p_size") > F.col("best_cheaper_size"))
            )
            & (F.col("p_size") == F.col("best_same_price_size"))
        )
        .select("p_partkey", "p_name", "p_size", "price_cents")
        .orderBy("price_cents", "p_partkey")
    )


@register(
    "skyline_price_size_scale",
    oracle=_SKYLINE_ORACLE,
    doc="Cluster-scale twin of skyline_price_size: the global RANGE "
    "window (every part row through one sorting task) becomes a range "
    "repartition on (price_cents, p_partkey) + a PER-PARTITION running "
    "max, then the cross-partition 'strictly cheaper' maximum is "
    "reconstructed exactly from a one-row-per-partition summary frame "
    "(max price, max size, max size strictly below the partition's top "
    "price), folded into per-partition carry-in scalars with two "
    "triangular broadcast joins over that tiny frame. Exactness "
    "argument: range partitioning guarantees every row of an earlier "
    "partition has price <= the current row's price x, so its rows are "
    "strictly cheaper iff (a) the whole partition's max price < x (use "
    "its overall max size) or (b) its max price == x (use its "
    "max-size-below-top, since prices are INTEGER cents). The "
    "same-price dominance test is a hash-partitioned window on "
    "price_cents, already scale-safe. Output is bit-identical to the "
    "window form (shared oracle); no single-partition exchange "
    "anywhere in the plan.",
    tags=("relational", "skyline", "O4", "scale-twin"),
    bench=True,
)
def skyline_price_size_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_size",
        F.floor(F.col("p_retailprice") * 100)
        .cast("bigint")
        .alias("price_cents"),
    )
    return skyline_2d_scale(part)


def skyline_2d_scale(part: DataFrame) -> DataFrame:
    """Distributed exact 2D skyline core (minimize price_cents,
    maximize p_size) — see skyline_price_size_scale's docstring for the
    carry-in exactness argument. Input columns: p_partkey, p_name,
    p_size, price_cents (INTEGER cents — the strictly-cheaper carry
    encoding relies on integer prices). Factored out so property tests
    can drive it with adversarial tie/boundary distributions the
    fixture never produces (one price value spanning several range
    partitions)."""
    d = part.repartitionByRange(
        F.asc("price_cents"), F.asc("p_partkey")
    ).withColumn("__pid", F.spark_partition_id())
    w_local = (
        Window.partitionBy("__pid")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_pid = Window.partitionBy("__pid")
    # Eager checkpoint: the summary branch and the row branch must see
    # ONE materialization of the sampled range partitioner (same
    # pitfall as operators/ranking.py global_rank).
    d = barrier(
        d.select(
            "p_partkey",
            "p_name",
            "p_size",
            "price_cents",
            "__pid",
            F.max("p_size").over(w_local).alias("local_cheaper"),
            F.max("price_cents").over(w_pid).alias("pid_max_price"),
        ),
        "ranked",
    )
    # One row per partition: tiny at any scale.
    summ = d.groupBy("__pid").agg(
        F.max("price_cents").alias("max_price"),
        F.max("p_size").alias("max_all"),
        F.max(
            F.when(F.col("price_cents") < F.col("pid_max_price"), F.col("p_size"))
        ).alias("max_below"),
    )
    # Carry-in pass 1: per partition p, the max price (B) and overall
    # max size over ALL earlier partitions.
    a, b = summ.alias("a"), summ.alias("b")
    carry1 = (
        a.join(F.broadcast(b), F.col("b.__pid") < F.col("a.__pid"), "inner")
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(
            F.max("b.max_price").alias("carry_b"),
            F.max("b.max_all").alias("carry_all"),
        )
    )
    # Carry-in pass 2: max size over earlier rows with price < B —
    # earlier partition q contributes its overall max if q.max_price <
    # B, else (q.max_price == B) its max-below-top.
    c, b2 = carry1.alias("c"), summ.alias("b2")
    carry = (
        c.join(F.broadcast(b2), F.col("b2.__pid") < F.col("c.__pid"), "inner")
        .groupBy(
            F.col("c.__pid").alias("__pid"),
            F.col("c.carry_b").alias("carry_b"),
            F.col("c.carry_all").alias("carry_all"),
        )
        .agg(
            F.max(
                F.when(
                    F.col("b2.max_price") < F.col("c.carry_b"),
                    F.col("b2.max_all"),
                ).otherwise(F.col("b2.max_below"))
            ).alias("carry_below")
        )
    )
    ranked = d.join(F.broadcast(carry), "__pid", "left").withColumn(
        "best_cheaper_size",
        F.greatest(
            F.col("local_cheaper"),
            F.when(
                F.col("price_cents") > F.col("carry_b"), F.col("carry_all")
            ).when(
                F.col("price_cents") == F.col("carry_b"),
                F.col("carry_below"),
            ),
        ),
    )
    w_same = Window.partitionBy("price_cents")
    ranked = ranked.withColumn(
        "best_same_price_size", F.max("p_size").over(w_same)
    )
    return (
        ranked.filter(
            (
                F.col("best_cheaper_size").isNull()
                | (F.col("p_size") > F.col("best_cheaper_size"))
            )
            & (F.col("p_size") == F.col("best_same_price_size"))
        )
        .select("p_partkey", "p_name", "p_size", "price_cents")
        .orderBy("price_cents", "p_partkey")
    )
