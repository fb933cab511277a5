"""Event-stream queries (batch form of the streaming surface).

The reference has no streaming operators (SURVEY.md §2.9) — these extend the
engine with event-time windowed aggregation over the ``events`` table. The
same logical plan runs under Structured Streaming
(:mod:`flu_data_pipeline_spark.streaming`); here it is expressed in batch so
the DuckDB oracle can verify the semantics.

ns-timestamp caveat: parquet stores ``ts`` at ns precision; Spark truncates
to µs on read while DuckDB keeps ns — so queries never project raw ``ts``,
only hour/day truncations (identical in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import load_table
from flu_data_pipeline_spark.operators.materialize import barrier
from flu_data_pipeline_spark.plans.registry import register


@register(
    "events_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling-window (1h) event-time rollup — the batch twin of the "
    "Structured Streaming windowed agg (readStream → withWatermark → "
    "window(ts, '1 hour')).",
    tags=("streaming", "A7", "A8"),
    bench=True,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "events_user_daily_top",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY day ORDER BY sum_value DESC, user_id
    ) <= 3
    """,
    doc="Per-day top-3 users by total value: groupBy + ranked window with "
    "pinned (value DESC, user_id) tie-break — distributed top-k per group.",
    tags=("A7", "O3", "W1"),
)
def events_user_daily_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    w = Window.partitionBy("day").orderBy(F.desc("sum_value"), F.asc("user_id"))
    return (
        daily.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "nested_map_struct",
    oracle="""
    WITH per AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COALESCE(MAX(CASE WHEN event_type = 'click' THEN n END), 0)
                AS BIGINT) AS n_click,
           CAST(COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN n END), 0)
                AS BIGINT) AS n_purchase,
           CAST(COUNT(*) AS INT) AS n_types,
           CAST(MAX(n) AS BIGINT) AS max_type_count,
           MIN(event_type) AS first_type
    FROM per
    GROUP BY user_id
    """,
    doc="Nested-type battery: per-user event counts collected into a "
    "map<string,bigint> via struct entries (map_from_entries ∘ "
    "collect_list ∘ struct), then consumed with element_at / map_keys / "
    "map_values / size — the at-rest nested-column surface (feature "
    "maps, typed metadata) exercised end-to-end with scalar, "
    "engine-portable output. The DuckDB oracle states the same "
    "semantics relationally (conditional aggregates), since the check "
    "is on values, not plan shape.",
    tags=("nested", "map", "struct", "A7"),
)
def nested_map_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("m")
    )
    zero = F.lit(0).cast("long")
    return maps.select(
        "user_id",
        F.coalesce(F.element_at("m", F.lit("click")), zero).alias("n_click"),
        F.coalesce(F.element_at("m", F.lit("purchase")), zero).alias("n_purchase"),
        F.size("m").alias("n_types"),
        F.array_max(F.map_values("m")).alias("max_type_count"),
        F.element_at(F.array_sort(F.map_keys("m")), 1).alias("first_type"),
    )


@register(
    "events_funnel_stages",
    oracle="""
    WITH base AS (
        SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts
        FROM events
    ), v AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS v_ts
        FROM base GROUP BY user_id
    ), c AS (
        SELECT b.user_id,
               MIN(CASE WHEN b.event_type = 'click' AND b.ts > v.v_ts
                        THEN b.ts END) AS c_ts
        FROM base b JOIN v ON b.user_id = v.user_id
        GROUP BY b.user_id
    ), p AS (
        SELECT b.user_id,
               MIN(CASE WHEN b.event_type = 'purchase' AND b.ts > c.c_ts
                        THEN b.ts END) AS p_ts
        FROM base b JOIN c ON b.user_id = c.user_id
        GROUP BY b.user_id
    )
    SELECT v.user_id,
           CAST(CASE WHEN p.p_ts IS NOT NULL THEN 3
                     WHEN c.c_ts IS NOT NULL THEN 2
                     WHEN v.v_ts IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS funnel_stage
    FROM v
    JOIN c ON v.user_id = c.user_id
    JOIN p ON v.user_id = p.user_id
    """,
    doc="Ordered conversion funnel (view → later click → later purchase): "
    "per user, each stage's timestamp is the min event AFTER the "
    "previous stage's, so out-of-order events don't count. Expressed as "
    "three chained conditional window minimums over ONE partitioning — "
    "Spark reuses a single user_id exchange for all three stages (the "
    "oracle states the same logic as chained aggregate-joins; both must "
    "agree). Timestamps are µs-truncated on both engines (parquet ns "
    "caveat) and never projected.",
    tags=("funnel", "window", "A7"),
    bench=True,
)
def events_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "v_ts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "c_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("v_ts")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "p_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    return (
        staged.groupBy("user_id")
        .agg(
            F.first("v_ts").alias("v_ts"),
            F.first("c_ts").alias("c_ts"),
            F.first("p_ts").alias("p_ts"),
        )
        .select(
            "user_id",
            F.when(F.col("p_ts").isNotNull(), 3)
            .when(F.col("c_ts").isNotNull(), 2)
            .when(F.col("v_ts").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("funnel_stage"),
        )
    )


@register(
    "events_burst_collapse",
    oracle="""
    WITH seq AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
               LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
               ) AS prev_s
        FROM events
    ), marked AS (
        SELECT *, CASE WHEN prev_s IS NULL OR ts_s - prev_s > 5
                       THEN 1 ELSE 0 END AS is_new
        FROM seq
    ), numbered AS (
        SELECT *, CAST(SUM(is_new) OVER (
                  PARTITION BY user_id, event_type
                  ORDER BY ts_s, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS burst_idx
        FROM marked
    )
    SELECT user_id, event_type, burst_idx,
           CAST(MIN(CASE WHEN is_new = 1 THEN event_id END) AS BIGINT)
               AS keep_event_id,
           CAST(COUNT(*) AS BIGINT) AS burst_size
    FROM numbered
    GROUP BY user_id, event_type, burst_idx
    """,
    doc="Burst collapse (telemetry debounce): rapid-fire repeats of the "
    "same (user, event_type) within a 5s inter-event gap collapse to "
    "their first event — double-click / retry-storm cleaning before "
    "counting. Same gaps-and-islands machinery as sessionization at a "
    "tighter gap; all three windows and the final rollup share one "
    "(user, type) partitioning → one shuffle.",
    tags=("window", "sessionize", "dedup", "A7"),
)
def events_burst_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id", "event_type").orderBy("ts_s", "event_id")
    cum = seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = (
        ev.select(
            "event_id", "user_id", "event_type",
            F.unix_timestamp("ts").alias("ts_s"),
        )
        .withColumn("prev_s", F.lag("ts_s").over(seq))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_s").isNull() | (F.col("ts_s") - F.col("prev_s") > 5), 1
            ).otherwise(0),
        )
        .withColumn("burst_idx", F.sum("is_new").over(cum).cast("long"))
    )
    return marked.groupBy("user_id", "event_type", "burst_idx").agg(
        F.min(F.when(F.col("is_new") == 1, F.col("event_id"))).alias("keep_event_id"),
        F.count(F.lit(1)).alias("burst_size"),
    )


@register(
    "grouped_map_normalize",
    oracle="""
    SELECT event_id, event_type,
           ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                 / STDDEV_SAMP(value) OVER (PARTITION BY event_type),
                 6) AS norm_value
    FROM events
    WHERE value IS NOT NULL
    """,
    doc="Grouped-map applyInPandas (the full-group pandas surface, "
    "distinct from scalar/grouped-agg pandas UDFs and from "
    "applyInPandasWithState): per event_type, z-normalize values with "
    "arbitrary pandas/numpy code — the pattern for group-local ML "
    "preprocessing (scalers, per-entity model scoring) when native "
    "windows can't express the kernel. The oracle states the same "
    "normalization with window functions; both must agree to 6dp, "
    "which also proves the UDF's sorted-fold determinism.",
    tags=("udaf", "pandas-udf", "window", "stats"),
)
def grouped_map_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flu_data_pipeline_spark.functions.udafs import (
        NORMALIZED_SCHEMA,
        normalize_per_group,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    out = (
        ev.select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(normalize_per_group, NORMALIZED_SCHEMA)
    )
    return out.select(
        "event_id", "event_type", F.round("norm_value", 6).alias("norm_value")
    )


@register(
    "attribution_touchpoints",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS p_ts
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT event_id AS click_id, user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS c_ts
        FROM events WHERE event_type = 'click'
    ), joined AS (
        SELECT p.purchase_id, p.user_id, p.p_ts, c.click_id, c.c_ts
        FROM p JOIN c ON c.user_id = p.user_id
         AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - 86400
    )
    SELECT purchase_id, user_id,
           CAST(COUNT(*) AS BIGINT) AS n_clicks_24h,
           CAST(MIN(c_ts * 2147483648 + click_id) % 2147483648 AS BIGINT)
               AS first_click_id,
           CAST(MAX(c_ts * 2147483648 + click_id) % 2147483648 AS BIGINT)
               AS last_click_id,
           CAST(p_ts - MIN(c_ts * 2147483648 + click_id) // 2147483648 AS BIGINT)
               AS first_lag_s,
           CAST(p_ts - MAX(c_ts * 2147483648 + click_id) // 2147483648 AS BIGINT)
               AS last_lag_s
    FROM joined
    GROUP BY purchase_id, user_id, p_ts
    ORDER BY purchase_id
    """,
    doc="First-touch / last-touch attribution: for every purchase, the "
    "earliest and latest click by the same user in the preceding 24 "
    "hours, plus the click count and both attribution lags. The "
    "argmin/argmax over (time, id) is packed into ONE int64 key "
    "(ts*2^31 + id — ids < 2^31 and epoch seconds to year 2106 stay "
    "inside int64) and resolved by plain MIN/MAX — order-insensitive, "
    "map-side combinable, deterministic under same-second ties, and "
    "identical integer arithmetic on both engines (Spark mirrors the "
    "same packed key, not a struct-min, so the oracle is "
    "expression-level exact). Join is an EQUI join on user_id with the "
    "24h band as a post-filter — never a nested-loop — then one "
    "groupBy(purchase). The windowed-attribution workload behind "
    "marketing/causal pipelines; at 100 TB both sides partition by "
    "user and only same-user rows pair.",
    tags=("events", "temporal", "A7", "J6"),
)
def attribution_touchpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_timestamp("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.unix_timestamp("ts").alias("c_ts"),
    )
    packed = F.col("c_ts") * 2_147_483_648 + F.col("click_id")
    joined = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - 86400),
    ).select("purchase_id", "user_id", "p_ts", packed.alias("pk"))
    return (
        joined.groupBy("purchase_id", "user_id", "p_ts")
        .agg(
            F.count(F.lit(1)).alias("n_clicks_24h"),
            F.min("pk").alias("min_pk"),
            F.max("pk").alias("max_pk"),
        )
        .select(
            "purchase_id",
            "user_id",
            "n_clicks_24h",
            (F.col("min_pk") % 2_147_483_648).cast("long").alias("first_click_id"),
            (F.col("max_pk") % 2_147_483_648).cast("long").alias("last_click_id"),
            (F.col("p_ts") - F.expr("min_pk div 2147483648"))
            .cast("long")
            .alias("first_lag_s"),
            (F.col("p_ts") - F.expr("max_pk div 2147483648"))
            .cast("long")
            .alias("last_lag_s"),
        )
        .orderBy("purchase_id")
    )


@register(
    "event_pattern_cep",
    oracle="""
    WITH seqs AS (
        SELECT user_id,
               string_agg(left(event_type, 1), '' ORDER BY ts, event_id)
                   AS seq
        FROM events
        GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS INT) AS n_events,
           CAST(len(regexp_extract_all(seq, 'vcp')) AS BIGINT)
               AS n_strict_funnels,
           CAST(len(regexp_extract_all(seq, 'v[^p]*?cp')) AS BIGINT)
               AS n_gapped_funnels
    FROM seqs
    WHERE len(regexp_extract_all(seq, 'v[^p]*?cp')) > 0
    QUALIFY ROW_NUMBER() OVER (
        ORDER BY len(regexp_extract_all(seq, 'v[^p]*?cp')) DESC,
                 user_id) <= 25
    ORDER BY n_gapped_funnels DESC, user_id
    """,
    doc="Complex-event-processing pattern match (the Flink-CEP / "
    "MATCH_RECOGNIZE shape) as a pure relational plan: each user's "
    "event history becomes an ordered one-char-per-event string "
    "(event initials are distinct here; a dictionary column works "
    "generally), and sequence patterns become regexes counted with "
    "non-overlapping leftmost semantics — identical in Java regex "
    "and DuckDB's RE2 (the text_bpe_tokens precedent). Two funnels: "
    "strict contiguous view->click->purchase ('vcp') and gapped "
    "view ... click then purchase with no purchase in between "
    "('v[^p]*?cp', lazy so each purchase closes at most one match). "
    "Top-25 converting users pinned on (count, user). Ordering ties "
    "broken by event_id; both engines see micro-second ts. Scale "
    "shape: ONE groupBy(user) shuffle carrying 1 byte/event, then "
    "per-user regex on bounded strings — state per key is the "
    "sequence itself, exactly what a streaming CEP operator keeps; "
    "the streaming twin is applyInPandasWithState over the same "
    "initial-coded column.",
    tags=("events", "cep", "U3", "O3", "A10"),
)
def event_pattern_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.expr("left(event_type, 1)").alias("c")
    )
    seqs = ev.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(ts, event_id, c))), x -> x.c), '')"
        ).alias("seq")
    )
    n_strict = F.size(F.expr("regexp_extract_all(seq, 'vcp', 0)"))
    n_gapped = F.size(F.expr("regexp_extract_all(seq, 'v[^p]*?cp', 0)"))
    scored = seqs.select(
        "user_id",
        F.length("seq").cast("int").alias("n_events"),
        n_strict.cast("bigint").alias("n_strict_funnels"),
        n_gapped.cast("bigint").alias("n_gapped_funnels"),
    ).filter(F.col("n_gapped_funnels") > 0)
    w = Window.orderBy(F.desc("n_gapped_funnels"), "user_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .drop("rn")
        .orderBy(F.desc("n_gapped_funnels"), "user_id")
    )


@register(
    "decayed_user_leaderboard",
    oracle="""
    WITH anchor AS (
        SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events
    ), scored AS (
        SELECT e.user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(exp(-0.0990210257942779
                             * (anchor.max_day - CAST(e.ts AS DATE)))), 6)
                   AS decayed_score
        FROM events e CROSS JOIN anchor
        GROUP BY e.user_id
    )
    SELECT user_id, n_events, decayed_score
    FROM scored
    QUALIFY ROW_NUMBER() OVER (
        ORDER BY decayed_score DESC, user_id) <= 25
    ORDER BY decayed_score DESC, user_id
    """,
    doc="Exponential time-decay activity leaderboard: each event "
    "contributes exp(-lambda * age_days) with a 7-day half-life "
    "(lambda = ln2/7 as a fixed literal), anchored at the corpus max "
    "date so the query is reproducible; top-25 users pinned on "
    "(rounded score, user). The decay property that matters at "
    "scale: the score is a sum of per-event terms, so it is "
    "map-side partial-aggregable AND incrementally maintainable — "
    "yesterday's total rescales by one factor exp(-lambda) and "
    "today's events add on (the O(1)-per-day streaming update the "
    "trailing-window leaderboard can't do: windows must re-read the "
    "horizon, decay just multiplies). exp() differs across engines "
    "only in final ulps; scores are 6dp-rounded before the pinned "
    "top-k cut. Scale shape: one groupBy(user) with combine, a "
    "1-row anchor broadcast, TakeOrderedAndProject for the cut.",
    tags=("events", "A7", "O3", "timeseries"),
)
def decayed_user_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    scored = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(
                    F.exp(
                        -0.0990210257942779
                        * F.datediff("max_day", F.col("ts").cast("date"))
                    )
                ),
                6,
            ).alias("decayed_score"),
        )
    )
    w = Window.orderBy(F.desc("decayed_score"), "user_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .drop("rn")
        .orderBy(F.desc("decayed_score"), "user_id")
    )


@register(
    "attribution_u_shaped",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS p_ts
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT event_id AS click_id, user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS c_ts
        FROM events WHERE event_type = 'click'
    ), joined AS (
        SELECT p.purchase_id, c.click_id, c.c_ts,
               ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                  ORDER BY c.c_ts, c.click_id) AS rn,
               COUNT(*) OVER (PARTITION BY p.purchase_id) AS n
        FROM p JOIN c ON c.user_id = p.user_id
         AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - 86400
    ), credited AS (
        SELECT click_id, c_ts,
               CASE WHEN n = 1 THEN 1.0
                    WHEN n = 2 THEN 0.5
                    WHEN rn = 1 OR rn = n THEN 0.4
                    ELSE 0.2 / (n - 2) END AS credit
        FROM joined
    )
    SELECT CAST((c_ts // 3600) % 24 AS INT) AS hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_credited_clicks,
           ROUND(SUM(credit), 6) AS total_credit
    FROM credited
    GROUP BY 1
    ORDER BY 1
    """,
    doc="U-shaped (position-based) multi-touch attribution: each "
    "purchase's 24h click path splits credit 40% first touch / 40% "
    "last / 20% spread over the middles (100% and 50/50 for 1- and "
    "2-click paths) — the standard compromise between first- and "
    "last-touch models, here rolled up by click hour-of-day (the "
    "'channel' stand-in this schema affords; a channel column would "
    "swap in directly). Position and path length come from one "
    "window pair over the same (purchase) partitioning — no second "
    "join against the path. Credit conservation (sum = number of "
    "attributed purchases) is the auditable invariant "
    "(test_new_ops_invariants). Scale shape: equi-join on user with "
    "band post-filter (the attribution_touchpoints plan), one "
    "purchase-partitioned window, one 24-row rollup.",
    tags=("events", "temporal", "A7", "W1"),
)
def attribution_u_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sec = F.floor(F.unix_micros(F.col("ts")) / 1000000).cast("bigint")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        sec.alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        sec.alias("c_ts"),
    )
    joined = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - 86400),
    )
    w_rn = Window.partitionBy("purchase_id").orderBy("c_ts", "click_id")
    w_n = Window.partitionBy("purchase_id")
    path = joined.select(
        "click_id",
        "c_ts",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 0.4)
        .otherwise(0.2 / (F.col("n") - 2))
    )
    return (
        path.select(
            ((F.col("c_ts") / 3600).cast("bigint") % 24)
            .cast("int")
            .alias("hour_of_day"),
            credit.alias("credit"),
        )
        .groupBy("hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("n_credited_clicks"),
            F.round(F.sum("credit"), 6).alias("total_credit"),
        )
        .orderBy("hour_of_day")
    )


def _absorb_step_sql(prev: str, cur: str) -> str:
    """One value-iteration step as SQL: non-absorbing states take the
    probability-weighted average of their successors' values; absorbing
    states keep theirs. Rounded to 8dp per step (the pagerank idiom) so
    float join-sum order can never diverge engines."""
    return f"""{cur} AS (
        SELECT s.state,
               CASE WHEN s.state IN ('purchase', 'error') THEN {prev}.v
                    ELSE ROUND(COALESCE(m.nv, 0.0), 8) END AS v
        FROM states s
        JOIN {prev} ON s.state = {prev}.state
        LEFT JOIN (
            SELECT nrm.prev AS state, SUM(nrm.p * {prev}.v) AS nv
            FROM nrm JOIN {prev} ON nrm.cur = {prev}.state
            GROUP BY nrm.prev
        ) m ON s.state = m.state
    )"""


@register(
    "markov_absorption_conversion",
    oracle="WITH seq AS ("
    """
        SELECT user_id, event_type AS cur,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev
        FROM events
    ), t AS (
        SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev IS NOT NULL
        GROUP BY prev, cur
    ), nrm AS (
        SELECT prev, cur,
               ROUND(CAST(n AS DOUBLE)
                     / SUM(n) OVER (PARTITION BY prev), 8) AS p
        FROM t
    ), states AS (
        SELECT DISTINCT prev AS state FROM t
        UNION
        SELECT DISTINCT cur FROM t
    ), v0 AS (
        SELECT state,
               CASE WHEN state = 'purchase' THEN 1.0 ELSE 0.0 END AS v
        FROM states
    ), """
    + _absorb_step_sql("v0", "v1")
    + ", "
    + _absorb_step_sql("v1", "v2")
    + ", "
    + _absorb_step_sql("v2", "v3")
    + ", "
    + _absorb_step_sql("v3", "v4")
    + """
    SELECT state, ROUND(v, 6) AS p_purchase_within_4
    FROM v4
    ORDER BY state
    """,
    doc="Markov absorption probability — P(next conversion before an "
    "error, within 4 transitions) per starting state: the empirical "
    "first-order transition matrix (per-user lag pairs, row-"
    "normalized to 8dp) drives four unrolled value-iteration steps "
    "with 'purchase' (value 1) and 'error' (value 0) absorbing; "
    "non-absorbing states average their successors' values. This is "
    "the quantitative version of the funnel: not just who converted, "
    "but how convertible each behavioral state is — the matrix-"
    "power-by-join pattern (each step is one join of the "
    "|states|^2 matrix against the |states| value vector, both "
    "broadcast-sized here and at any real state cardinality). "
    "Per-step 8dp rounding pins the join-sum float order exactly "
    "like the PageRank oracle.",
    tags=("events", "graph", "A7", "W1"),
)
def markov_absorption_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    t = seq.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n"))
    nrm = barrier(
        t.select(
            "prev",
            "cur",
            F.round(
                F.col("n").cast("double")
                / F.sum("n").over(Window.partitionBy("prev")),
                8,
            ).alias("p"),
        ),
        "nrm",
    )
    states = barrier(
        t.select(F.col("prev").alias("state"))
        .union(t.select("cur"))
        .distinct(),
        "states",
    )
    v = states.select(
        "state",
        F.when(F.col("state") == "purchase", 1.0).otherwise(0.0).alias("v"),
    )
    absorbing = F.col("state").isin("purchase", "error")
    for it in range(4):
        nv = (
            nrm.join(v, nrm.cur == v.state)
            .groupBy(F.col("prev").alias("state"))
            .agg(F.sum(F.col("p") * F.col("v")).alias("nv"))
        )
        v = barrier(
            states.join(v, "state")
            .join(nv, "state", "left")
            .select(
                "state",
                F.when(absorbing, F.col("v"))
                .otherwise(F.round(F.coalesce(F.col("nv"), F.lit(0.0)), 8))
                .alias("v"),
            ),
            f"v{it}",
        )
    return v.select(
        "state", F.round("v", 6).alias("p_purchase_within_4")
    ).orderBy("state")


@register(
    "events_user_entropy",
    oracle="""
    WITH cell AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_total
        FROM cell GROUP BY user_id
    ), ent AS (
        SELECT c.user_id, t.n_total,
               CAST(COUNT(*) AS INT) AS n_types,
               ROUND(-SUM((CAST(c.n AS DOUBLE) / t.n_total)
                          * ln(CAST(c.n AS DOUBLE) / t.n_total)), 6)
                   AS entropy_nats
        FROM cell c JOIN tot t ON c.user_id = t.user_id
        GROUP BY c.user_id, t.n_total
    )
    SELECT user_id, n_total, n_types, entropy_nats
    FROM ent
    QUALIFY ROW_NUMBER() OVER (
        ORDER BY entropy_nats DESC, user_id) <= 25
    ORDER BY entropy_nats DESC, user_id
    """,
    doc="Behavioral diversity score: Shannon entropy (nats) of each "
    "user's event-type distribution — the feature that separates "
    "single-purpose accounts (entropy ~0: all views, or all errors "
    "— bot smell either way) from engaged users exercising the "
    "whole surface (entropy -> ln(5)). Top-25 most diverse users "
    "pinned on (rounded entropy, user). Per-user probabilities are "
    "exact integer ratios; the entropy sum runs over <=5 terms per "
    "user in groupBy-accumulation order — bounded-cardinality "
    "inner sums are ulp-safe at 6dp. Scale shape: two aggregations "
    "on the SAME user key (Spark reuses the exchange), cell "
    "cardinality = users x types, TakeOrderedAndProject for the "
    "cut. The per-entity-distribution-entropy shape generalizes to "
    "any (entity, category) pair — domain mix per crawl host, "
    "language mix per source.",
    tags=("events", "text", "A7", "A10", "O3"),
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    cell = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cell.groupBy("user_id").agg(F.sum("n").cast("bigint").alias("n_total"))
    p = F.col("n").cast("double") / F.col("n_total")
    ent = (
        cell.join(tot, "user_id")
        .groupBy("user_id", "n_total")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_types"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
        )
    )
    w = Window.orderBy(F.desc("entropy_nats"), "user_id")
    return (
        ent.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .drop("rn")
        .orderBy(F.desc("entropy_nats"), "user_id")
    )


@register(
    "events_survival_km",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_type,
               datediff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS day
        FROM events
    ), per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'purchase' THEN day END) AS fp,
               MAX(day) AS ls
        FROM ev GROUP BY user_id
    ), obs AS (
        SELECT COALESCE(fp, ls) AS day, fp IS NOT NULL AS is_event
        FROM per_user
    ), daily AS (
        SELECT day,
               CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT)
                   AS d,
               CAST(SUM(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT)
                   AS c
        FROM obs GROUP BY day
    ), ntot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per_user
    ), risk AS (
        SELECT day, d, c,
               n - COALESCE(SUM(d + c) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk
        FROM daily CROSS JOIN ntot
    ), lf AS (
        SELECT day, d, c, n_risk,
               CASE WHEN d = n_risk THEN 0.0
                    ELSE LN(1.0 - CAST(d AS DOUBLE) / n_risk) END AS lfac,
               CASE WHEN d = n_risk THEN 1 ELSE 0 END AS zero_here
        FROM risk
    )
    SELECT day, CAST(n_risk AS BIGINT) AS n_risk, d AS d_purchases,
           c AS c_censored,
           ROUND(CASE WHEN MAX(zero_here) OVER (ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) = 1
                      THEN 0.0
                      ELSE EXP(SUM(lfac) OVER (ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW)) END, 6) AS s_km
    FROM lf
    ORDER BY day
    """,
    doc="Kaplan-Meier survival curve for time-to-first-purchase with "
    "per-user right-censoring at last activity (the correct retention/"
    "conversion estimator when users drop out at different times — "
    "naive conversion-by-day underestimates because silent users are "
    "counted as eternal non-converters). Day-level lifetable: events "
    "d_i and censors c_i per day, at-risk n_i from one running sum, "
    "S(t) = exp(cumsum ln(1 - d/n)) with the all-fail day short-"
    "circuited through an explicit zero flag (no ln(0) reliance). "
    "Cumulative ORDERED window sums are evaluated in frame order on "
    "both engines, so the float product is deterministic, not sum-"
    "order-dependent. Scale shape: one user-keyed aggregate over the "
    "fact, then every window runs on the O(#days) lifetable — "
    "time-bounded, not volume-bounded.",
    tags=("events", "timeseries", "stats", "A7", "W1"),
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("datediff(CAST(ts AS DATE), DATE '1990-01-01')").alias("day"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("day"))
        ).alias("fp"),
        F.max("day").alias("ls"),
    )
    obs = per_user.select(
        F.coalesce("fp", "ls").alias("day"),
        F.col("fp").isNotNull().alias("is_event"),
    )
    daily = obs.groupBy("day").agg(
        F.sum(F.when(F.col("is_event"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.sum(F.when(F.col("is_event"), 0).otherwise(1))
        .cast("bigint")
        .alias("c"),
    )
    ntot = per_user.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w_prev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    risk = daily.crossJoin(F.broadcast(ntot)).select(
        "day",
        "d",
        "c",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            )
        ).alias("n_risk"),
    )
    lf = risk.selectExpr(
        "day",
        "d",
        "c",
        "n_risk",
        "CASE WHEN d = n_risk THEN 0.0"
        " ELSE LN(1.0 - CAST(d AS DOUBLE) / n_risk) END AS lfac",
        "CASE WHEN d = n_risk THEN 1 ELSE 0 END AS zero_here",
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return lf.select(
        "day",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").alias("d_purchases"),
        F.col("c").alias("c_censored"),
        F.round(
            F.when(F.max("zero_here").over(w_cum) == 1, F.lit(0.0)).otherwise(
                F.exp(F.sum("lfac").over(w_cum))
            ),
            6,
        ).alias("s_km"),
    ).orderBy("day")


@register(
    "survival_logrank_test",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_type,
               datediff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS day
        FROM events
    ), per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'purchase' THEN day END) AS fp,
               MAX(day) AS ls,
               MIN(CASE WHEN day = fd THEN event_type END) AS first_type
        FROM ev
        JOIN (SELECT user_id AS u2, MIN(day) AS fd FROM ev GROUP BY user_id)
          ON user_id = u2
        GROUP BY user_id
    ), cohorts AS (
        SELECT user_id,
               CASE WHEN first_type = 'click' THEN 1 ELSE 0 END AS grp,
               COALESCE(fp, ls) AS day, fp IS NOT NULL AS is_event
        FROM per_user
    ), daily AS (
        SELECT day,
               CAST(SUM(CASE WHEN is_event AND grp = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d1,
               CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT)
                   AS d,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS x1,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM cohorts GROUP BY day
    ), tot AS (
        SELECT CAST(SUM(x1) AS BIGINT) AS n1_0, CAST(SUM(x) AS BIGINT)
                   AS n_0
        FROM daily
    ), risk AS (
        SELECT day, d1, d,
               n1_0 - COALESCE(SUM(x1) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n1,
               n_0 - COALESCE(SUM(x) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n
        FROM daily CROSS JOIN tot
    ), terms AS (
        SELECT list(CAST(d1 AS DOUBLE)
                    - CAST(d AS DOUBLE) * n1 / n ORDER BY day) AS o_e,
               list(CASE WHEN n > 1
                         THEN CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)
                              * (1.0 - CAST(n1 AS DOUBLE) / n)
                              * (n - d) / (n - 1)
                         ELSE 0.0 END ORDER BY day) AS v
        FROM risk WHERE d > 0
    )
    SELECT (SELECT n1_0 FROM tot) AS n_click_cohort,
           (SELECT n_0 - n1_0 FROM tot) AS n_other_cohort,
           ROUND(list_reduce(o_e, (a, b) -> a + b), 6) AS observed_minus_expected,
           ROUND(list_reduce(v, (a, b) -> a + b), 6) AS variance,
           ROUND(list_reduce(o_e, (a, b) -> a + b)
                 / SQRT(list_reduce(v, (a, b) -> a + b)), 6) AS z_logrank
    FROM terms
    """,
    doc="Log-rank test comparing time-to-first-purchase between user "
    "cohorts defined by their FIRST event type (click-first vs other) "
    "— the standard censoring-aware two-sample survival comparison "
    "that pairs with events_survival_km (a naive conversion-rate "
    "comparison ignores differential dropout). Per event day: observed "
    "cohort-1 events minus the hypergeometric expectation d*n1/n, and "
    "the matching variance, from the shared at-risk lifetable (exact "
    "integer counts via running sums). The per-day float terms fold "
    "SEQUENTIALLY via ordered-array reduce (window/plain sums are not "
    "associativity-pinned across engines — see anova_f_groups). Scale "
    "shape: one user-keyed aggregate, then O(#days) lifetable math.",
    tags=("events", "stats", "experiment", "A7", "W1"),
)
def survival_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("datediff(CAST(ts AS DATE), DATE '1990-01-01')").alias("day"),
    )
    first_day = ev.groupBy(F.col("user_id").alias("u2")).agg(
        F.min("day").alias("fd")
    )
    per_user = (
        ev.join(first_day, ev.user_id == first_day.u2)
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("day"))
            ).alias("fp"),
            F.max("day").alias("ls"),
            F.min(
                F.when(F.col("day") == F.col("fd"), F.col("event_type"))
            ).alias("first_type"),
        )
    )
    cohorts = per_user.select(
        F.when(F.col("first_type") == "click", 1).otherwise(0).alias("grp"),
        F.coalesce("fp", "ls").alias("day"),
        F.col("fp").isNotNull().alias("is_event"),
    )
    daily = cohorts.groupBy("day").agg(
        F.sum(F.when(F.col("is_event") & (F.col("grp") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("is_event"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("x1"),
        F.count(F.lit(1)).cast("bigint").alias("x"),
    )
    tot = daily.agg(
        F.sum("x1").cast("bigint").alias("n1_0"),
        F.sum("x").cast("bigint").alias("n_0"),
    )
    w_prev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    risk = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "d1",
        "d",
        (
            F.col("n1_0")
            - F.coalesce(F.sum("x1").over(w_prev), F.lit(0))
        ).alias("n1"),
        (
            F.col("n_0") - F.coalesce(F.sum("x").over(w_prev), F.lit(0))
        ).alias("n"),
        "n1_0",
        "n_0",
    )
    terms = risk.filter(F.col("d") > 0).selectExpr(
        "day",
        "n1_0",
        "n_0",
        "CAST(d1 AS DOUBLE) - CAST(d AS DOUBLE) * n1 / n AS o_e",
        "CASE WHEN n > 1"
        " THEN CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)"
        " * (1.0 - CAST(n1 AS DOUBLE) / n)"
        " * (n - d) / (n - 1) ELSE 0.0 END AS v",
    )
    folded = terms.groupBy("n1_0", "n_0").agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(day, o_e))), p -> p.o_e), "
            "CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
        ).alias("sum_oe"),
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(day, v))), p -> p.v), "
            "CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
        ).alias("sum_v"),
    )
    return folded.selectExpr(
        "n1_0 AS n_click_cohort",
        "n_0 - n1_0 AS n_other_cohort",
        "ROUND(sum_oe, 6) AS observed_minus_expected",
        "ROUND(sum_v, 6) AS variance",
        "ROUND(sum_oe / SQRT(sum_v), 6) AS z_logrank",
    )


@register(
    "conversion_latency_quantiles",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    first_click AS (
        SELECT user_id, MIN(ts_s) AS c_ts FROM ev
        WHERE event_type = 'click' GROUP BY user_id
    ),
    conv AS (
        SELECT f.user_id, MIN(e.ts_s) - f.c_ts AS latency_s
        FROM first_click f
        JOIN ev e ON e.user_id = f.user_id
                 AND e.event_type = 'purchase' AND e.ts_s >= f.c_ts
        GROUP BY f.user_id, f.c_ts
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM conv),
    ps AS (SELECT UNNEST([50, 90, 99]) AS p)
    SELECT ps.p,
           (SELECT latency_s FROM conv, nn
            QUALIFY ROW_NUMBER() OVER (ORDER BY latency_s, user_id)
                    = CAST(CEIL(ps.p / 100.0 * nn.n) AS BIGINT)) AS latency_s,
           nn.n AS n_converted
    FROM ps, nn
    ORDER BY ps.p
    """,
    doc="Click-to-purchase conversion latency percentiles (p50/p90/p99), "
    "the funnel-health metric every product dashboard carries: per user, "
    "first click to first subsequent purchase, latency in whole epoch "
    "seconds (exact int64 — immune to the parquet ns/us timestamp "
    "flavor), percentile_disc ranks selected on the DISTINCT-latency "
    "frame via the two-stage distributed prefix (global_cumsum) — no "
    "single-partition sort "
    "of the converted-user set. Scale shape: two user-keyed "
    "aggregations and a rank selection over a bounded distinct-value "
    "frame.",
    tags=("timeseries", "events", "stats", "A10", "O3"),
)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flu_data_pipeline_spark.plans.rank_stats_queries import (
        _with_cum_before,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_type",
            F.floor(F.unix_micros(F.col("ts")) / 1000000)
            .cast("bigint")
            .alias("ts_s"),
        )
    )
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("c_ts"))
    )
    conv = (
        first_click.join(
            ev.filter(F.col("event_type") == "purchase").select(
                F.col("user_id").alias("p_uid"), F.col("ts_s").alias("p_ts")
            ),
            (F.col("user_id") == F.col("p_uid"))
            & (F.col("p_ts") >= F.col("c_ts")),
        )
        .groupBy("user_id", "c_ts")
        .agg((F.min("p_ts") - F.col("c_ts")).alias("latency_s"))
        .select("user_id", "latency_s")
    )
    nn = conv.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    vals = conv.groupBy("latency_s").agg(F.count(F.lit(1)).alias("nv"))
    ranked = _with_cum_before(
        vals, F.floor(F.col("latency_s") / 86400), "latency_s", "nv"
    )
    ps = spark.createDataFrame([(50,), (90,), (99,)], "p int")
    target = F.ceil(F.col("p") / 100.0 * F.col("n")).cast("bigint")
    return (
        ps.crossJoin(F.broadcast(nn))
        .join(
            F.broadcast(ranked),
            (F.col("cum_before") < target)
            & (F.col("cum_before") + F.col("nv") >= target),
        )
        .select(
            "p",
            F.col("latency_s"),
            F.col("n").alias("n_converted"),
        )
        .orderBy("p")
    )


@register(
    "events_disorder_audit",
    oracle="""
    WITH ev AS (
        SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
        FROM events
    ),
    lag_max AS (
        SELECT event_id, ts_s,
               MAX(ts_s) OVER (
                   ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max
        FROM ev
    ),
    dis AS (
        SELECT GREATEST(0, COALESCE(prev_max - ts_s, 0)) AS disorder_s
        FROM lag_max
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN disorder_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           ROUND(CAST(SUM(CASE WHEN disorder_s > 0 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS late_share,
           CAST(MAX(disorder_s) AS BIGINT) AS max_disorder_s,
           CAST(SUM(CASE WHEN disorder_s BETWEEN 1 AND 60
                         THEN 1 ELSE 0 END) AS BIGINT) AS late_1_60s,
           CAST(SUM(CASE WHEN disorder_s BETWEEN 61 AND 600
                         THEN 1 ELSE 0 END) AS BIGINT) AS late_61_600s,
           CAST(SUM(CASE WHEN disorder_s > 600 THEN 1 ELSE 0 END)
                AS BIGINT) AS late_over_600s
    FROM dis
    """,
    doc="Out-of-orderness audit of the event stream — the measurement "
    "that SIZES a streaming watermark: per event (in event_id arrival "
    "order), disorder = seconds its timestamp lags the running maximum "
    "of everything that arrived before it; reported as late share, max "
    "disorder, and banded lateness counts (<=60s / <=600s / beyond). "
    "The oracle's global running max is a single window; the Spark side "
    "computes the SAME prefix maximum distributively via "
    "operators/ranking.py global_prefix_max (the MAX twin of the "
    "two-stage prefix sum: range shuffle on event_id, partitioned "
    "running max, partition-count offsets frame merged with "
    "NULL-skipping greatest) — so no single-partition pass ever "
    "touches the stream at ANY granularity; the earlier form kept a "
    "global window over event_id div 4096 buckets, a frame that still "
    "grew as N/4096. All disorder values are exact epoch-second int64.",
    tags=("streaming", "events", "W1", "A11"),
)
def events_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.unix_micros(F.col("ts")) / 1000000)
        .cast("bigint")
        .alias("ts_s"),
    )
    from flu_data_pipeline_spark.operators.ranking import global_prefix_max

    dis = global_prefix_max(
        ev, [F.col("event_id")], "ts_s", "prev_max", exclusive=True
    ).select(
        F.greatest(
            F.lit(0),
            F.coalesce(F.col("prev_max") - F.col("ts_s"), F.lit(0)),
        ).alias("disorder_s")
    )
    late = F.when(F.col("disorder_s") > 0, 1).otherwise(0)
    return dis.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(late).cast("bigint").alias("n_late"),
        F.round(
            F.sum(late).cast("double") / F.count(F.lit(1)), 6
        ).alias("late_share"),
        F.max("disorder_s").cast("bigint").alias("max_disorder_s"),
        F.sum(
            F.when(F.col("disorder_s").between(1, 60), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("late_1_60s"),
        F.sum(
            F.when(F.col("disorder_s").between(61, 600), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("late_61_600s"),
        F.sum(F.when(F.col("disorder_s") > 600, 1).otherwise(0))
        .cast("bigint")
        .alias("late_over_600s"),
    )


_RL_CAP = 7_200_000_000  # token budget capacity: 2 hours' worth, in µs
_RL_COST = 3_600_000_000  # cost per admitted event: 1 hour's refill


@register(
    "events_rate_limit_audit",
    oracle=f"""
    WITH RECURSIVE ev AS (
        SELECT user_id, epoch_us(ts) AS t,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS i
        FROM events
    ), nn AS (
        SELECT user_id, CAST(MAX(i) AS BIGINT) AS n FROM ev GROUP BY user_id
    ), fold AS (
        SELECT user_id, CAST(0 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS prev,
               CAST({_RL_CAP} AS BIGINT) AS budget,
               CAST(0 AS BIGINT) AS allowed, CAST(0 AS BIGINT) AS rejected
        FROM nn
        UNION ALL
        SELECT s.user_id, s.i + 1, s.t,
               s.refill - {_RL_COST} * CAST(s.refill >= {_RL_COST} AS BIGINT),
               s.allowed + CAST(s.refill >= {_RL_COST} AS BIGINT),
               s.rejected + CAST(s.refill < {_RL_COST} AS BIGINT)
        FROM (
            SELECT f.user_id, f.i, e.t, f.allowed, f.rejected,
                   least({_RL_CAP}, f.budget
                         + CASE WHEN f.prev < 0 THEN 0
                                ELSE e.t - f.prev END) AS refill
            FROM fold f JOIN ev e ON e.user_id = f.user_id AND e.i = f.i + 1
        ) s
    )
    SELECT f.user_id, nn.n AS n_events, f.allowed AS n_allowed,
           f.rejected AS n_rejected, f.budget AS final_budget_us
    FROM fold f JOIN nn ON f.user_id = nn.user_id AND f.i = nn.n
    ORDER BY f.user_id
    """,
    doc="Token-bucket rate limiting replayed over history: per user, a "
    "bucket holding up to 2 hours of refill admits one event per hour's "
    "worth of tokens; bursts beyond the budget are rejected. The "
    "recurrence (budget depends on every prior admit/reject decision) "
    "is inherently sequential per key, so it runs as an ordered array "
    "fold (collect_list sorted, then aggregate — left-to-right, "
    "all-integer µs, exact replay). The DuckDB twin is a recursive CTE "
    "advancing every user one event per iteration: DuckDB's vectorized "
    "list_reduce mis-executes branching struct lambdas across rows "
    "(found by this query's cross-check), so the fold is not expressed "
    "with it. This is the batch twin of a per-key "
    "streaming rate limiter (ValueState + the same fold per batch); "
    "per-user arrays are bounded by per-key activity, and one key "
    "shuffle builds them. Sizes admission policies from real traffic "
    "before deploying them at the edge.",
    tags=("events", "stateful", "W1", "U2"),
)
def events_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arr = (
        ev.select(
            "user_id",
            F.struct(F.unix_micros("ts").alias("tsu"), "event_id").alias("o"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("o")).alias("oa"))
        .select(
            "user_id",
            F.expr("transform(oa, x -> x.tsu)").alias("a"),
        )
    )
    init = (
        f"named_struct('prev', CAST(-1 AS BIGINT), "
        f"'budget', CAST({_RL_CAP} AS BIGINT), "
        f"'allowed', CAST(0 AS BIGINT), 'rejected', CAST(0 AS BIGINT))"
    )
    refill = (
        f"least(CAST({_RL_CAP} AS BIGINT), acc.budget + "
        f"CASE WHEN acc.prev < 0 THEN CAST(0 AS BIGINT) "
        f"ELSE x - acc.prev END)"
    )
    fold = f"""
        aggregate(a, {init}, (acc, x) -> CASE
            WHEN {refill} >= {_RL_COST}
            THEN named_struct('prev', x, 'budget', {refill} - {_RL_COST},
                              'allowed', acc.allowed + CAST(1 AS BIGINT),
                              'rejected', acc.rejected)
            ELSE named_struct('prev', x, 'budget', {refill},
                              'allowed', acc.allowed,
                              'rejected', acc.rejected + CAST(1 AS BIGINT))
            END)
    """
    return (
        arr.select(
            "user_id",
            F.size("a").cast("long").alias("n_events"),
            F.expr(fold).alias("s"),
        )
        .select(
            "user_id",
            "n_events",
            F.col("s.allowed").alias("n_allowed"),
            F.col("s.rejected").alias("n_rejected"),
            F.col("s.budget").alias("final_budget_us"),
        )
        .orderBy("user_id")
    )


@register(
    "events_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CAST(json_extract_string(props, '$.k') AS INT))
                AS BIGINT) AS n_with_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT))
                AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
               AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
               AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Semi-structured ingestion through Spark 4's VARIANT type: props "
    "parses ONCE per row into a binary variant (try_parse_json — "
    "malformed rows become null, not failures), then try_variant_get "
    "extracts typed paths. At rest a VARIANT column is columnar-shredded "
    "so repeated path extraction does not re-parse text — the modern "
    "replacement for per-query get_json_object string parsing (which "
    "json_extract_agg pins for comparison). Oracle reads the same paths "
    "with DuckDB's JSON extraction.",
    tags=("events", "json", "F2", "A7"),
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.try_parse_json("props").alias("v")
    ).select(
        "event_type",
        F.try_variant_get("v", "$.k", "int").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").cast("long").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
        )
        .orderBy("event_type")
    )


_BOT_MIN_EVENTS = 20
_BOT_CV_CUTOFF = 0.3


@register(
    "events_bot_regularity",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS g
        FROM events
    ), moments AS (
        SELECT user_id,
               CAST(COUNT(g) AS BIGINT) AS n_gaps,
               CAST(SUM(CAST(g AS DECIMAL(38, 0))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(g AS DECIMAL(38, 0))
                        * CAST(g AS DECIMAL(38, 0))) AS DOUBLE) AS s2
        FROM gaps WHERE g IS NOT NULL
        GROUP BY user_id
        HAVING COUNT(g) >= {_BOT_MIN_EVENTS}
    )
    SELECT user_id, n_gaps,
           s1 / n_gaps / 1e6 AS mean_gap_s,
           sqrt(GREATEST(s2 / n_gaps - (s1 / n_gaps) * (s1 / n_gaps),
                         0)) / (s1 / n_gaps) AS gap_cv,
           CAST(sqrt(GREATEST(s2 / n_gaps - (s1 / n_gaps) * (s1 / n_gaps),
                              0)) / (s1 / n_gaps) < {_BOT_CV_CUTOFF}
                AS INT) AS bot_like
    FROM moments
    ORDER BY user_id
    """,
    doc=f"Bot-likeness from inter-arrival regularity: per user (>= "
    f"{_BOT_MIN_EVENTS} gaps), the coefficient of variation of the gaps "
    f"between consecutive events — humans are bursty (CV near or above "
    f"1, exponential-ish), schedulers are metronomes (CV < "
    f"{_BOT_CV_CUTOFF} flags). The per-user lag window sorts once per "
    "user; gap moments accumulate as exact integer-µs DECIMALs so mean/"
    "std/CV come from one double conversion. Complements "
    "ts_interarrival_ks (corpus-level exponentiality) with a per-entity "
    "actionable flag — the traffic-quality filter ad pipelines run "
    "before attribution.",
    tags=("events", "dq", "A11", "W1"),
)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("tsu"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    gaps = ev.select(
        "user_id", (F.col("tsu") - F.lag("tsu").over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    gd = F.col("g").cast("decimal(38,0)")
    m = (
        gaps.groupBy("user_id")
        .agg(
            F.count("g").alias("n_gaps"),
            F.sum(gd).cast("double").alias("s1"),
            F.sum(gd * gd).cast("double").alias("s2"),
        )
        .filter(F.col("n_gaps") >= _BOT_MIN_EVENTS)
    )
    mean = F.col("s1") / F.col("n_gaps")
    var = F.greatest(F.col("s2") / F.col("n_gaps") - mean * mean, F.lit(0.0))
    cv = F.sqrt(var) / mean
    return m.select(
        "user_id",
        "n_gaps",
        # RAW doubles on purpose: inputs are exact integer DECIMALs, so
        # both engines compute bit-identical values — ROUND(x, 6) itself
        # diverges at representation boundaries (verify SKILL gotcha;
        # observed on mean_gap_s at sf0.1). The harness canonicalizes.
        (mean / 1e6).alias("mean_gap_s"),
        cv.alias("gap_cv"),
        (cv < _BOT_CV_CUTOFF).cast("int").alias("bot_like"),
    ).orderBy("user_id")
