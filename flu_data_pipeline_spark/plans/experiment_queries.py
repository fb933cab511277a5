"""Experiment (A/B test) analysis: conversion lift with a z-statistic.

The decision layer over event telemetry: split users into variants,
compare conversion rates, and report the two-proportion z-statistic the
ship/no-ship call reads. Variant assignment is ``user_id % 2`` —
deterministic and engine-identical, standing in for the hash-based
assignment a real experiment framework derives from (user_id,
experiment_id); the production form is the same modular arithmetic over
the portable hash.

Scale notes (100 TB): per-user conversion flags are one groupBy(user)
with map-side combine (MAX of a 0/1 flag is merge-safe); the per-variant
rollup then aggregates ~users rows down to 2, and the z-test itself is
closed-form arithmetic on four numbers — the whole analysis is two
cheap aggregations, never a per-event shuffle of the raw stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import load_table
from flu_data_pipeline_spark.functions.hashing import hash64, hash64_sql
from flu_data_pipeline_spark.operators.materialize import barrier
from flu_data_pipeline_spark.operators.ranking import global_cumsum
from flu_data_pipeline_spark.plans.registry import register


@register(
    "abtest_conversion_ztest",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS INT) AS variant,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events
        GROUP BY user_id
    ), per_variant AS (
        SELECT variant,
               CAST(COUNT(*) AS DOUBLE) AS n_users,
               CAST(SUM(converted) AS DOUBLE) AS n_conv
        FROM per_user GROUP BY variant
    ), wide AS (
        SELECT
            MAX(CASE WHEN variant = 0 THEN n_users END) AS n0,
            MAX(CASE WHEN variant = 0 THEN n_conv END) AS c0,
            MAX(CASE WHEN variant = 1 THEN n_users END) AS n1,
            MAX(CASE WHEN variant = 1 THEN n_conv END) AS c1
        FROM per_variant
    )
    SELECT CAST(n0 AS BIGINT) AS users_control,
           CAST(n1 AS BIGINT) AS users_treatment,
           ROUND(c0 / n0, 6) AS rate_control,
           ROUND(c1 / n1, 6) AS rate_treatment,
           ROUND(c1 / n1 - c0 / n0, 6) AS abs_lift,
           ROUND((c1 / n1 - c0 / n0)
                 / sqrt(((c0 + c1) / (n0 + n1))
                        * (1 - (c0 + c1) / (n0 + n1))
                        * (1 / n0 + 1 / n1)), 6) AS z_score
    FROM wide
    """,
    doc="Two-proportion z-test over user-level conversion (purchase "
    "events), variants split by user_id parity: per-user flags via one "
    "merge-safe groupBy (MAX of 0/1), per-variant rollup to two rows, "
    "pooled-proportion z in closed form. The experiment-analysis "
    "decision layer computed where the events live — two aggregations "
    "total, arithmetic identical on both engines.",
    tags=("stats", "experiment", "A7", "A10"),
)
def abtest_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        (F.col("user_id") % 2).cast("int").alias("variant"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    per_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("n_users"),
        F.sum("converted").cast("double").alias("n_conv"),
    )
    wide = per_variant.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_conv"))).alias("c1"),
    )
    n0, c0 = F.col("n0"), F.col("c0")
    n1, c1 = F.col("n1"), F.col("c1")
    p_pool = (c0 + c1) / (n0 + n1)
    z = (c1 / n1 - c0 / n0) / F.sqrt(
        p_pool * (1 - p_pool) * (1 / n0 + 1 / n1)
    )
    return wide.select(
        n0.cast("bigint").alias("users_control"),
        n1.cast("bigint").alias("users_treatment"),
        F.round(c0 / n0, 6).alias("rate_control"),
        F.round(c1 / n1, 6).alias("rate_treatment"),
        F.round(c1 / n1 - c0 / n0, 6).alias("abs_lift"),
        F.round(z, 6).alias("z_score"),
    )


@register(
    "eval_auc_purchase",
    oracle="""
    WITH base AS (
        SELECT value AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ), per AS (
        SELECT s, SUM(y) AS np, COUNT(*) - SUM(y) AS nn
        FROM base GROUP BY s
    ), cum AS (
        SELECT np, nn,
               COALESCE(SUM(nn) OVER (
                   ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cneg
        FROM per
    ), tot AS (
        SELECT CAST(SUM(np) AS DOUBLE) AS n_pos,
               CAST(SUM(nn) AS DOUBLE) AS n_neg
        FROM per
    )
    SELECT ROUND(SUM(np * (cneg + 0.5 * nn)) / (n_pos * n_neg), 6) AS auc,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg
    FROM cum, tot
    GROUP BY n_pos, n_neg
    """,
    doc="Exact ROC-AUC of `value` as a score for the purchase event, via "
    "the Mann-Whitney rank-sum identity with average-rank tie handling: "
    "AUC = sum over distinct scores of n_pos(s)*(negatives_below(s) + "
    "0.5*n_neg(s)) / (N_pos*N_neg). The stream first collapses to one "
    "row PER DISTINCT SCORE (map-side combine), and the ordered prefix "
    "sum over that frame runs through the two-stage distributed prefix "
    "(operators/ranking.py global_cumsum: range shuffle + partitioned "
    "windows + a partition-count offsets frame) — distinct values of a "
    "continuous score grow ~linearly with N, so NO single-partition "
    "window ever sees the frame. Float-exact by construction: every "
    "summand is an integer multiple of 0.5 (exactly representable), so "
    "the sum is order-independent and the engines cannot diverge.",
    tags=("experiment", "eval", "A7", "W1"),
)
def eval_auc_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("value").isNotNull()).select(
        F.col("value").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per = base.groupBy("s").agg(
        F.sum("y").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).alias("nn"),
    )
    cum = global_cumsum(per, [F.col("s")], "nn", "__cum_nn").withColumn(
        "cneg", F.col("__cum_nn") - F.col("nn")
    )
    tot = per.agg(
        F.sum("np").cast("double").alias("n_pos"),
        F.sum("nn").cast("double").alias("n_neg"),
    )
    return (
        cum.agg(
            F.sum(
                F.col("np") * (F.col("cneg") + 0.5 * F.col("nn"))
            ).alias("num")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(F.col("num") / (F.col("n_pos") * F.col("n_neg")), 6).alias(
                "auc"
            ),
            F.col("n_pos").cast("bigint").alias("n_pos"),
            F.col("n_neg").cast("bigint").alias("n_neg"),
        )
    )


@register(
    "drift_value_histogram",
    oracle="""
    WITH labeled AS (
        SELECT value AS x,
               CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                    THEN 'ref' ELSE 'cur' END AS half
        FROM events WHERE value IS NOT NULL
    ), bounds AS (
        SELECT MIN(x) AS mn, MAX(x) AS mx FROM labeled WHERE half = 'ref'
    ), binned AS (
        SELECT LEAST(GREATEST(CAST(FLOOR((x - mn) * 10.0 / (mx - mn))
                                   AS INT), 0), 9) AS bin,
               half
        FROM labeled, bounds
    ), counts AS (
        SELECT bin,
               CAST(COUNT(*) FILTER (half = 'ref') AS BIGINT) AS n_ref,
               CAST(COUNT(*) FILTER (half = 'cur') AS BIGINT) AS n_cur
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT CAST(SUM(n_ref) AS DOUBLE) AS t_ref,
               CAST(SUM(n_cur) AS DOUBLE) AS t_cur
        FROM counts
    )
    SELECT bin, n_ref, n_cur,
           n_ref / t_ref AS p_ref,
           n_cur / t_cur AS q_cur,
           (n_cur / t_cur - n_ref / t_ref)
               * (n_cur / t_cur - n_ref / t_ref)
               / (n_ref / t_ref) AS chi2_term,
           ABS(n_cur / t_cur - n_ref / t_ref) AS tvd_term
    FROM counts, tot
    """,
    doc="Distribution-drift monitor: equi-width 10-bin histogram of "
    "`value` with edges from the REFERENCE half's min/max (first 15 "
    "days), compared against the current half — per-bin proportions "
    "plus chi-square and total-variation contributions. Deliberately "
    "ln-free (no PSI/KL): +,-,*,/ are correctly-rounded IEEE in both "
    "engines so raw doubles hash-match, while libm vs JVM `log` can "
    "differ in the last ulp. Plan: one scan, map-side bin assignment "
    "against a broadcast 1-row min/max aggregate, one 10-group "
    "aggregation — drift over 100 TB costs one pass and shuffles 10 "
    "rows.",
    tags=("experiment", "dq", "drift", "A7", "histogram"),
)
def drift_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    labeled = ev.filter(F.col("value").isNotNull()).select(
        F.col("value").alias("x"),
        F.when(
            F.col("ts").cast("date") < F.lit("2024-01-16").cast("date"), "ref"
        )
        .otherwise("cur")
        .alias("half"),
    )
    bounds = labeled.filter(F.col("half") == "ref").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    binned = labeled.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.greatest(
                F.floor(
                    (F.col("x") - F.col("mn")) * 10.0 / (F.col("mx") - F.col("mn"))
                ).cast("int"),
                F.lit(0),
            ),
            F.lit(9),
        ).alias("bin"),
        "half",
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("half") == "ref", 1)).alias("n_ref"),
        F.count(F.when(F.col("half") == "cur", 1)).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").cast("double").alias("t_ref"),
        F.sum("n_cur").cast("double").alias("t_cur"),
    )
    p = F.col("n_ref") / F.col("t_ref")
    q = F.col("n_cur") / F.col("t_cur")
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_ref",
        "n_cur",
        p.alias("p_ref"),
        q.alias("q_cur"),
        ((q - p) * (q - p) / p).alias("chi2_term"),
        F.abs(q - p).alias("tvd_term"),
    )


@register(
    "eval_pr_curve_purchase",
    oracle="""
    WITH base AS (
        SELECT value AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ), per AS (
        SELECT s, SUM(y) AS np, COUNT(*) - SUM(y) AS nn
        FROM base GROUP BY s
    ), cum AS (
        SELECT s,
               CAST(SUM(np) OVER (
                   ORDER BY s DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS tp,
               CAST(SUM(nn) OVER (
                   ORDER BY s DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS fp
        FROM per
    ), tot AS (
        SELECT CAST(SUM(np) AS BIGINT) AS n_pos FROM per
    )
    SELECT s AS threshold, tp, fp,
           CAST(tp AS DOUBLE) / (tp + fp) AS precision_at,
           CAST(tp AS DOUBLE) / n_pos AS recall_at
    FROM cum, tot
    """,
    doc="Precision-recall curve of `value` scoring the purchase event: "
    "one operating point per DISTINCT score threshold (predict positive "
    "when s >= t). The stream collapses to per-score (pos, neg) counts "
    "first (map-side combine, like eval_auc_purchase), then BOTH "
    "descending prefix sums (TP and FP) ride ONE two-stage distributed "
    "prefix (global_cumsum's multi-column form: one range shuffle, one "
    "checkpoint, one offsets join) — the whole curve in one pass, no "
    "per-threshold rescans and no single-partition window over the "
    "N-growing distinct-score frame. precision/recall are single "
    "divisions of exact int64 counts (IEEE-identical cross-engine, no "
    "rounding needed).",
    tags=("experiment", "eval", "A7", "W1"),
)
def eval_pr_curve_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("value").isNotNull()).select(
        F.col("value").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per = base.groupBy("s").agg(
        F.sum("y").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).alias("nn"),
    )
    cum = global_cumsum(
        per, [F.col("s").desc()], ["np", "nn"], ["__tp", "__fp"]
    ).select(
        "s",
        F.col("__tp").cast("bigint").alias("tp"),
        F.col("__fp").cast("bigint").alias("fp"),
    )
    tot = per.agg(F.sum("np").cast("bigint").alias("n_pos"))
    return cum.crossJoin(F.broadcast(tot)).select(
        F.col("s").alias("threshold"),
        "tp",
        "fp",
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias(
            "precision_at"
        ),
        (F.col("tp").cast("double") / F.col("n_pos")).alias("recall_at"),
    )


@register(
    "eval_calibration_bins",
    oracle="""
    WITH base AS (
        SELECT value AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ), per AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(y) AS BIGINT) AS np
        FROM base GROUP BY s
    ), cum AS (
        SELECT s, cnt, np,
               COALESCE(SUM(cnt) OVER (
                   ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cb
        FROM per
    ), tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM per
    ), binned AS (
        SELECT CAST((cb * 10) // n_total AS INT) AS bin, cnt, np,
               CAST(ROUND(s * 100) AS BIGINT) * cnt AS cents
        FROM cum, tot
    )
    SELECT bin,
           CAST(SUM(cnt) AS BIGINT) AS n,
           CAST(SUM(np) AS BIGINT) AS n_pos,
           CAST(SUM(np) AS DOUBLE) / SUM(cnt) AS pos_rate,
           CAST(SUM(cents) AS DOUBLE) / (100.0 * SUM(cnt)) AS avg_score
    FROM binned GROUP BY bin ORDER BY bin
    """,
    doc="Calibration table: scores bucketed into 10 equi-depth bins with "
    "TIES KEPT TOGETHER (bin = cumulative-count-before x 10 div N over "
    "the per-distinct-score aggregation — the PR-curve pattern, with "
    "the cumulative count carried by the two-stage distributed prefix "
    "global_cumsum, so NO single-partition window touches the "
    "N-growing distinct-score frame and no global row_number/ntile "
    "touches raw rows), then per-bin positive rate vs "
    "mean score. All arithmetic is exact int64 (scores fixed-pointed "
    "to cents per distinct value) with two single divisions at the "
    "edge — IEEE-identical cross-engine. A well-calibrated score has "
    "pos_rate monotone in avg_score; the bins are the standard "
    "reliability-diagram input.",
    tags=("experiment", "eval", "A7", "W1"),
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("value").isNotNull()).select(
        F.col("value").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per = base.groupBy("s").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("y").cast("bigint").alias("np"),
    )
    cum = global_cumsum(per, [F.col("s")], "cnt", "__cum").select(
        "s",
        "cnt",
        "np",
        (F.col("__cum") - F.col("cnt")).alias("cb"),
    )
    tot = per.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    binned = cum.crossJoin(F.broadcast(tot)).select(
        F.expr("cast((cb * 10) div n_total as int)").alias("bin"),
        "cnt",
        "np",
        (F.round(F.col("s") * 100).cast("bigint") * F.col("cnt")).alias(
            "cents"
        ),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.sum("cnt").cast("bigint").alias("n"),
            F.sum("np").cast("bigint").alias("n_pos"),
            (F.sum("np").cast("double") / F.sum("cnt")).alias("pos_rate"),
            (
                F.sum("cents").cast("double") / (100.0 * F.sum("cnt"))
            ).alias("avg_score"),
        )
        .orderBy("bin")
    )


#: Poisson(1) inverse-CDF thresholds (cumulative e^-1 * 1/k! sums), fixed
#: literals so both engines compare against bit-identical constants.
_POIS_C = (0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431,
           0.9963401532)


def _pois_case_sql(u: str) -> str:
    return (
        f"CASE WHEN {u} < {_POIS_C[0]} THEN 0 "
        f"WHEN {u} < {_POIS_C[1]} THEN 1 "
        f"WHEN {u} < {_POIS_C[2]} THEN 2 "
        f"WHEN {u} < {_POIS_C[3]} THEN 3 "
        f"WHEN {u} < {_POIS_C[4]} THEN 4 ELSE 5 END"
    )


@register(
    "poisson_bootstrap_se",
    oracle=f"""
    WITH reps AS (
        SELECT unnest(range(0, 5)) AS replicate
    ), hashed AS (
        SELECT {hash64_sql(
            "CAST(l_orderkey AS VARCHAR) || ':' || "
            "CAST(l_linenumber AS VARCHAR)"
        )} % 2147483647 AS h,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS price_cents
        FROM lineitem
    ), weighted AS (
        SELECT r.replicate,
               {_pois_case_sql(
                   "(((314159261 + r.replicate * 97) * hs.h + 535897932"
                   " + r.replicate * 131) % 2147483647 % 1000000)"
                   " / 1000000.0"
               )} AS k,
               hs.price_cents
        FROM hashed hs CROSS JOIN reps r
    ), boot AS (
        SELECT replicate,
               CAST(SUM(k) AS BIGINT) AS n_eff,
               ROUND(SUM(k * price_cents) / (100.0 * SUM(k)), 6)
                   AS boot_mean
        FROM weighted GROUP BY replicate
    )
    SELECT CAST(replicate AS INT) AS replicate, n_eff, boot_mean,
           ROUND(STDDEV_SAMP(boot_mean) OVER (), 6) AS boot_se
    FROM boot
    ORDER BY replicate
    """,
    doc="Poisson bootstrap standard error of mean(l_extendedprice) — THE "
    "distributed bootstrap: instead of resampling n rows with "
    "replacement (impossible without global coordination), each row "
    "independently receives a Poisson(1) weight per replicate, which "
    "converges to multinomial resampling for large n. Uniforms come "
    "from ONE portable md5 hash per row remixed per replicate with a "
    "Carter-Wegman affine family mod 2^31-1 (integer-exact on both "
    "engines) — hashing is the dominant cost and this does 1 md5 + R "
    "multiply-adds instead of R md5s (measured ~3x on the bench). "
    "Weights then come from the fixed inverse-CDF literals. "
    "Replicate means use EXACT integer cent-sums (k*price_cents as "
    "BIGINT) so float accumulation order cannot move the 6dp mean; "
    "the SE across the 5 replicate means is the bootstrap estimate. "
    "Scale shape: weights are map-side expressions and the replicate "
    "axis is unrolled into 2R conditional aggregates in ONE scan pass "
    "(no crossJoin row expansion, no join, no resample-shuffle — the "
    "expanded-rows variant measured 2.2x slower at sf0.1, and its R x "
    "rows inter-operator materialization grows with R while this stays "
    "one scan); this is how CIs are put on metrics at 100 TB.",
    tags=("experiment", "eval", "A7", "A10"),
    bench=True,
)
def poisson_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    hashed = li.select(
        (
            hash64(
                F.concat_ws(
                    ":",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            % 2147483647
        ).alias("h"),
        F.floor(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("price_cents"),
    )

    # All R replicates in ONE scan pass: the replicate id is a compile-time
    # constant, so each row evaluates R unrolled (k_r, k_r*cents) pairs that
    # collapse into a single 2R-column global aggregate — no crossJoin row
    # expansion (R x fact rows), no join operator, no replicate shuffle.
    # (The expanded-rows variant measured 3.5 s at sf0.1; this one 1.6 s —
    # same bit-identical arithmetic, so the oracle is unchanged.)
    def k_for(r: int):
        u = (
            ((314159261 + r * 97) * F.col("h") + 535897932 + r * 131)
            % 2147483647
            % 1000000
        ) / 1000000.0
        return (
            F.when(u < _POIS_C[0], 0)
            .when(u < _POIS_C[1], 1)
            .when(u < _POIS_C[2], 2)
            .when(u < _POIS_C[3], 3)
            .when(u < _POIS_C[4], 4)
            .otherwise(5)
        )

    ks = hashed.select(
        "price_cents", *[k_for(r).alias(f"k_{r}") for r in range(5)]
    )
    aggs = []
    for r in range(5):
        aggs.append(F.sum(f"k_{r}").cast("bigint").alias(f"n_{r}"))
        aggs.append(
            F.sum(F.col(f"k_{r}") * F.col("price_cents"))
            .cast("bigint")
            .alias(f"c_{r}")
        )
    one = ks.agg(*aggs)

    stacked = one.select(
        F.expr(
            "stack(5, "
            + ", ".join(f"{r}, n_{r}, c_{r}" for r in range(5))
            + ") AS (replicate, n_eff, cents)"
        )
    )
    boot = stacked.select(
        F.col("replicate").cast("int").alias("replicate"),
        "n_eff",
        F.round(F.col("cents") / (100.0 * F.col("n_eff")), 6).alias(
            "boot_mean"
        ),
    )
    return boot.select(
        "replicate",
        "n_eff",
        "boot_mean",
        F.round(F.stddev_samp("boot_mean").over(Window.partitionBy()), 6)
        .alias("boot_se"),
    ).orderBy("replicate")


@register(
    "funnel_wilson_ci",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s_view,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s_click,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS s_purchase
        FROM events GROUP BY user_id
    ), counts AS (
        SELECT CAST(SUM(s_view) AS BIGINT) AS n_view,
               CAST(SUM(s_view * s_click) AS BIGINT) AS n_click,
               CAST(SUM(s_view * s_click * s_purchase) AS BIGINT)
                   AS n_purchase
        FROM per_user
    ), steps AS (
        SELECT 'view->click' AS step, n_view AS n_prev, n_click AS n_conv
        FROM counts
        UNION ALL
        SELECT 'click->purchase', n_click, n_purchase FROM counts
    )
    SELECT step, n_prev, n_conv,
           ROUND(CAST(n_conv AS DOUBLE) / n_prev, 6) AS rate,
           ROUND((CAST(n_conv AS DOUBLE) / n_prev + 1.9208 / n_prev
                  - 1.96 * sqrt((CAST(n_conv AS DOUBLE) / n_prev)
                                * (1 - CAST(n_conv AS DOUBLE) / n_prev)
                                / n_prev + 0.9604 / (n_prev * n_prev)))
                 / (1 + 3.8416 / n_prev), 6) AS ci_low,
           ROUND((CAST(n_conv AS DOUBLE) / n_prev + 1.9208 / n_prev
                  + 1.96 * sqrt((CAST(n_conv AS DOUBLE) / n_prev)
                                * (1 - CAST(n_conv AS DOUBLE) / n_prev)
                                / n_prev + 0.9604 / (n_prev * n_prev)))
                 / (1 + 3.8416 / n_prev), 6) AS ci_high
    FROM steps
    ORDER BY step
    """,
    doc="Funnel step conversion with Wilson 95% confidence intervals: "
    "per-user presence flags collapse the event stream to one row "
    "per user, the two step conversions (view->click among viewers, "
    "click->purchase among viewer-clickers) are exact integer "
    "ratios, and each gets the Wilson score interval — the "
    "recommended binomial CI (never leaves [0,1], behaves at small "
    "n and extreme rates, unlike the naive Wald interval). "
    "Constants (z=1.96, z^2=3.8416, z^2/2=1.9208, z^2/4=0.9604) are "
    "fixed literals so both engines evaluate the identical "
    "expression tree. This is the uncertainty companion to "
    "events_funnel_stages: rates without intervals invite shipping "
    "noise. Scale shape: one groupBy(user) with map-side combine to "
    "presence bits, then scalar math on a single aggregate row.",
    tags=("experiment", "eval", "A7", "A10"),
)
def funnel_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    flag = lambda t: F.max(  # noqa: E731
        F.when(F.col("event_type") == t, 1).otherwise(0)
    )
    per_user = ev.groupBy("user_id").agg(
        flag("view").alias("s_view"),
        flag("click").alias("s_click"),
        flag("purchase").alias("s_purchase"),
    )
    counts = per_user.agg(
        F.sum("s_view").cast("bigint").alias("n_view"),
        F.sum(F.col("s_view") * F.col("s_click")).cast("bigint").alias("n_click"),
        F.sum(F.col("s_view") * F.col("s_click") * F.col("s_purchase"))
        .cast("bigint")
        .alias("n_purchase"),
    )
    steps = counts.select(
        F.expr(
            "stack(2, 'view->click', n_view, n_click, "
            "'click->purchase', n_click, n_purchase) AS (step, n_prev, n_conv)"
        )
    )
    p = F.col("n_conv").cast("double") / F.col("n_prev")
    n = F.col("n_prev")
    half = 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    denom = 1 + 3.8416 / n
    return steps.select(
        "step",
        "n_prev",
        "n_conv",
        F.round(p, 6).alias("rate"),
        F.round((p + 1.9208 / n - half) / denom, 6).alias("ci_low"),
        F.round((p + 1.9208 / n + half) / denom, 6).alias("ci_high"),
    ).orderBy("step")


@register(
    "sampling_neyman_allocation",
    oracle="""
    WITH strata AS (
        SELECT l_returnflag AS stratum,
               CAST(COUNT(*) AS BIGINT) AS n_h,
               ROUND(STDDEV_SAMP(l_extendedprice), 4) AS s_h
        FROM lineitem GROUP BY l_returnflag
    ), weighted AS (
        SELECT stratum, n_h, s_h,
               n_h * s_h / SUM(n_h * s_h) OVER () AS w,
               FLOOR(n_h * s_h / SUM(n_h * s_h) OVER () * 10000)
                   AS base_alloc,
               n_h * s_h / SUM(n_h * s_h) OVER () * 10000
                   - FLOOR(n_h * s_h / SUM(n_h * s_h) OVER () * 10000)
                   AS frac
        FROM strata
    ), rem AS (
        SELECT CAST(10000 - SUM(base_alloc) AS BIGINT) AS r FROM weighted
    )
    SELECT stratum, n_h, s_h, ROUND(w, 6) AS w,
           CAST(base_alloc
                + CASE WHEN ROW_NUMBER() OVER (ORDER BY frac DESC, stratum)
                            <= rem.r THEN 1 ELSE 0 END AS BIGINT)
               AS n_sample
    FROM weighted CROSS JOIN rem
    ORDER BY stratum
    """,
    doc="Neyman-optimal stratified sampling allocation: a 10k-row "
    "sample budget split across l_returnflag strata proportional to "
    "N_h * S_h (stratum size times within-stratum price stddev) — "
    "the allocation that minimizes the stratified estimator's "
    "variance, vs the naive proportional split that oversamples "
    "homogeneous strata. Stddevs are pre-rounded to 4dp so the "
    "weight ratios are engine-stable; exact integer quotas come "
    "from the same largest-remainder apportionment as "
    "corpus_temperature_mix (quotas provably sum to the budget). "
    "Scale shape: one pass for the stratum moments (count + "
    "variance are partial-aggregable), stratum-cardinality window "
    "math; the consuming sampler filters per-partition against "
    "broadcast per-stratum rates.",
    tags=("experiment", "sampling", "A7", "A10"),
)
def sampling_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    budget = 10000
    strata = li.groupBy(F.col("l_returnflag").alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_h"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("s_h"),
    )
    tot = Window.partitionBy()
    w = (F.col("n_h") * F.col("s_h")) / F.sum(
        F.col("n_h") * F.col("s_h")
    ).over(tot)
    weighted = strata.select(
        "stratum",
        "n_h",
        "s_h",
        w.alias("w"),
        F.floor(w * budget).alias("base_alloc"),
        (w * budget - F.floor(w * budget)).alias("frac"),
    )
    rem = (budget - F.sum("base_alloc").over(tot)).cast("bigint")
    rank = F.row_number().over(Window.orderBy(F.col("frac").desc(), "stratum"))
    return weighted.select(
        "stratum",
        "n_h",
        "s_h",
        F.round("w", 6).alias("w"),
        (F.col("base_alloc") + F.when(rank <= rem, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sample"),
    ).orderBy("stratum")


@register(
    "did_event_value",
    oracle="""
    WITH bounds AS (
        SELECT MIN(datediff('day', DATE '1990-01-01', CAST(ts AS DATE)))
                   AS lo,
               MAX(datediff('day', DATE '1990-01-01', CAST(ts AS DATE)))
                   AS hi
        FROM events
    ), ev AS (
        SELECT event_type,
               datediff('day', DATE '1990-01-01', CAST(ts AS DATE))
                   >= (lo + hi) / 2 AS post,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents
        FROM events CROSS JOIN bounds
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ), cells AS (
        SELECT
            CAST(SUM(CASE WHEN event_type = 'click' AND NOT post
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
            SUM(CASE WHEN event_type = 'click' AND NOT post
                THEN cents ELSE 0 END) AS s_t_pre,
            CAST(SUM(CASE WHEN event_type = 'click' AND post
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
            SUM(CASE WHEN event_type = 'click' AND post
                THEN cents ELSE 0 END) AS s_t_post,
            CAST(SUM(CASE WHEN event_type = 'view' AND NOT post
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
            SUM(CASE WHEN event_type = 'view' AND NOT post
                THEN cents ELSE 0 END) AS s_c_pre,
            CAST(SUM(CASE WHEN event_type = 'view' AND post
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
            SUM(CASE WHEN event_type = 'view' AND post
                THEN cents ELSE 0 END) AS s_c_post
        FROM ev
    ), means AS (
        SELECT *,
               CAST(s_t_pre AS DOUBLE) / (100.0 * n_t_pre) AS m_t_pre,
               CAST(s_t_post AS DOUBLE) / (100.0 * n_t_post) AS m_t_post,
               CAST(s_c_pre AS DOUBLE) / (100.0 * n_c_pre) AS m_c_pre,
               CAST(s_c_post AS DOUBLE) / (100.0 * n_c_post) AS m_c_post
        FROM cells
    )
    SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
           ROUND(m_t_pre, 6) AS mean_treat_pre,
           ROUND(m_t_post, 6) AS mean_treat_post,
           ROUND(m_c_pre, 6) AS mean_ctrl_pre,
           ROUND(m_c_post, 6) AS mean_ctrl_post,
           ROUND((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6)
               AS did_estimate
    FROM means
    """,
    doc="Difference-in-differences estimator of the click-vs-view value "
    "shift across the data midpoint (treated group's post-pre change "
    "minus the control group's, netting out the common time trend — "
    "the workhorse quasi-experimental design when randomization isn't "
    "available). One conditional-aggregation pass computes all four "
    "(group, period) cells as exact integer cent sums; means and the "
    "DiD contrast are shared-text float expressions over them, so "
    "both engines emit identical doubles. The period boundary derives "
    "from broadcast min/max day bounds — data-relative but "
    "deterministic. Scale shape: broadcast 1-row bounds onto the "
    "scan, one 8-column global aggregate, zero joins of the fact.",
    tags=("experiment", "stats", "A7"),
)
def did_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev0 = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.expr("datediff(CAST(ts AS DATE), DATE '1990-01-01')").alias("day"),
    )
    bounds = ev0.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    ev = (
        ev0.crossJoin(F.broadcast(bounds))
        .filter(
            F.col("event_type").isin("click", "view")
            & F.col("value").isNotNull()
        )
        .selectExpr(
            "event_type",
            "day >= (lo + hi) / 2 AS post",
            "CAST(FLOOR(value * 100) AS BIGINT) AS cents",
        )
    )
    cells = ev.agg(
        *[
            expr
            for grp, tag in (("click", "t"), ("view", "c"))
            for per, ptag in ((False, "pre"), (True, "post"))
            for expr in (
                F.sum(
                    F.when(
                        (F.col("event_type") == grp)
                        & (F.col("post") == per),
                        1,
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(f"n_{tag}_{ptag}"),
                F.sum(
                    F.when(
                        (F.col("event_type") == grp)
                        & (F.col("post") == per),
                        F.col("cents"),
                    ).otherwise(0)
                ).alias(f"s_{tag}_{ptag}"),
            )
        ]
    )
    means = cells.selectExpr(
        "*",
        "CAST(s_t_pre AS DOUBLE) / (100.0 * n_t_pre) AS m_t_pre",
        "CAST(s_t_post AS DOUBLE) / (100.0 * n_t_post) AS m_t_post",
        "CAST(s_c_pre AS DOUBLE) / (100.0 * n_c_pre) AS m_c_pre",
        "CAST(s_c_post AS DOUBLE) / (100.0 * n_c_post) AS m_c_post",
    )
    return means.selectExpr(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        "ROUND(m_t_pre, 6) AS mean_treat_pre",
        "ROUND(m_t_post, 6) AS mean_treat_post",
        "ROUND(m_c_pre, 6) AS mean_ctrl_pre",
        "ROUND(m_c_post, 6) AS mean_ctrl_post",
        "ROUND((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6)"
        " AS did_estimate",
    )


_NPERM = 20


def _perm_flag(p: int, h: str) -> str:
    """Deterministic 0/1 relabel for permutation p: Carter-Wegman remix
    of the row's portable hash (one md5 per row total, the
    poisson_bootstrap_se trick), identical text on both engines."""
    return (
        f"(((314159261 + {p} * 97) * {h} + 535897932 + {p} * 131)"
        f" % 2147483647 % 2)"
    )


@register(
    "permutation_test_mean",
    oracle=f"""
    WITH pts AS (
        SELECT {hash64_sql("CAST(event_id AS VARCHAR)")} % 2147483647 AS h,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g,
               CAST(FLOOR(value * 100) AS BIGINT) AS y
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(g) AS BIGINT) AS n1,
               SUM(y) AS s, SUM(CASE WHEN g = 1 THEN y ELSE 0 END) AS s1,
               {", ".join(
                   f"CAST(SUM({_perm_flag(p, 'h')}) AS BIGINT) AS pn{p}, "
                   f"SUM(CASE WHEN {_perm_flag(p, 'h')} = 1 THEN y ELSE 0 END)"
                   f" AS ps{p}"
                   for p in range(_NPERM))}
        FROM pts
    ), obs AS (
        SELECT *,
               CAST(s1 AS DOUBLE) / (100.0 * n1)
               - CAST(s - s1 AS DOUBLE) / (100.0 * (n - n1)) AS t_obs
        FROM m
    ), ext AS (
        SELECT n, n1, t_obs,
               {" + ".join(
                   f"(CASE WHEN ABS(CAST(ps{p} AS DOUBLE) / (100.0 * pn{p})"
                   f" - CAST(s - ps{p} AS DOUBLE) / (100.0 * (n - pn{p})))"
                   f" >= ABS(t_obs) THEN 1 ELSE 0 END)"
                   for p in range(_NPERM))} AS n_extreme
        FROM obs
    )
    SELECT n1 AS n_click, n - n1 AS n_purchase,
           ROUND(t_obs, 6) AS observed_diff,
           {_NPERM} AS n_perms, CAST(n_extreme AS BIGINT) AS n_extreme,
           ROUND((1.0 + n_extreme) / ({_NPERM} + 1.0), 6) AS p_value
    FROM ext
    """,
    doc="Permutation test for the click-vs-purchase mean value "
    "difference: 20 deterministic relabelings of the pooled sample "
    "(each row's 0/1 group per permutation is a Carter-Wegman remix "
    "of ONE portable md5 hash — the poisson_bootstrap_se trick, so "
    "the whole test is one scan with 2 conditional aggregates per "
    "permutation, no shuffle of permuted copies), p-value = "
    "(1 + #extreme)/(P + 1). Completes the distributed-inference "
    "trio: bootstrap (resampling SEs), rank tests (distribution-free "
    "location/shape), permutation (exact-style significance under "
    "exchangeability). Derived counts come off the totals (s - s1, "
    "n - n1), so each permutation costs two sums, not four. All "
    "comparisons are between doubles computed identically from exact "
    "integer cent sums on both engines.",
    tags=("experiment", "stats", "A7"),
)
def permutation_test_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    pts = ev.selectExpr(
        "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 14), 16, 10)"
        " AS BIGINT) % 2147483647 AS h",
        "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g",
        "CAST(FLOOR(value * 100) AS BIGINT) AS y",
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("n1"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.when(F.col("g") == 1, F.col("y")).otherwise(0).cast(
                "decimal(38,0)"
            )
        ).alias("s1"),
    ]
    for p in range(_NPERM):
        flag = _perm_flag(p, "h")
        aggs.append(
            F.expr(f"CAST(SUM({flag}) AS BIGINT)").alias(f"pn{p}")
        )
        aggs.append(
            F.expr(
                f"SUM(CAST(CASE WHEN {flag} = 1 THEN y ELSE 0 END"
                f" AS DECIMAL(38,0)))"
            ).alias(f"ps{p}")
        )
    m = pts.agg(*aggs)
    obs = m.selectExpr(
        "*",
        "CAST(s1 AS DOUBLE) / (100.0 * n1)"
        " - CAST(s - s1 AS DOUBLE) / (100.0 * (n - n1)) AS t_obs",
    )
    extreme = " + ".join(
        f"(CASE WHEN ABS(CAST(ps{p} AS DOUBLE) / (100.0 * pn{p})"
        f" - CAST(s - ps{p} AS DOUBLE) / (100.0 * (n - pn{p})))"
        f" >= ABS(t_obs) THEN 1 ELSE 0 END)"
        for p in range(_NPERM)
    )
    ext = obs.selectExpr("n", "n1", "t_obs", f"{extreme} AS n_extreme")
    return ext.selectExpr(
        "n1 AS n_click",
        "n - n1 AS n_purchase",
        "ROUND(t_obs, 6) AS observed_diff",
        f"{_NPERM} AS n_perms",
        "CAST(n_extreme AS BIGINT) AS n_extreme",
        f"ROUND((1.0 + n_extreme) / ({_NPERM} + 1.0), 6) AS p_value",
    )


def _shapley_expr(i: int) -> str:
    """Exact 3-channel Shapley value for channel bit i from the 8
    coalition rates r0..r7 (rate of mask m = conversion rate of users
    whose touch-set is exactly m; unobserved masks contribute 0).
    Marginal-contribution weights for n=3: |S|=0 -> 1/3, |S|=1 -> 1/6,
    |S|=2 -> 1/3."""
    others = [b for b in (0, 1, 2) if b != i]
    bi = 1 << i
    t0 = f"(r{bi} - r0) / 3.0"
    t1a = f"(r{bi | (1 << others[0])} - r{1 << others[0]}) / 6.0"
    t1b = f"(r{bi | (1 << others[1])} - r{1 << others[1]}) / 6.0"
    full = (1 << others[0]) | (1 << others[1])
    t2 = f"(r{bi | full} - r{full}) / 3.0"
    return f"({t0} + {t1a} + {t1b} + {t2})"


@register(
    "attribution_shapley",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               + 2 * MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   AS mask,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id
    ), masks AS (
        SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_u,
               CAST(SUM(conv) AS BIGINT) AS n_c
        FROM per_user GROUP BY mask
    ), rates AS (
        SELECT {", ".join(
            f"COALESCE(MAX(CASE WHEN mask = {m} THEN"
            f" CAST(n_c AS DOUBLE) / n_u END), 0.0) AS r{m}"
            for m in range(8))}
        FROM masks
    ), touched AS (
        SELECT {", ".join(
            f"CAST(SUM(CASE WHEN (mask & {1 << i}) > 0 THEN n_u ELSE 0 END)"
            f" AS BIGINT) AS tu{i}, "
            f"CAST(SUM(CASE WHEN (mask & {1 << i}) > 0 THEN n_c ELSE 0 END)"
            f" AS BIGINT) AS tc{i}"
            for i in range(3))}
        FROM masks
    )
    SELECT channel, n_users_touched, n_conv_touched, shapley_value
    FROM (
        SELECT 'click' AS channel, tu0 AS n_users_touched,
               tc0 AS n_conv_touched,
               ROUND({_shapley_expr(0)}, 6) AS shapley_value
        FROM rates CROSS JOIN touched
        UNION ALL
        SELECT 'view', tu1, tc1, ROUND({_shapley_expr(1)}, 6)
        FROM rates CROSS JOIN touched
        UNION ALL
        SELECT 'signup', tu2, tc2, ROUND({_shapley_expr(2)}, 6)
        FROM rates CROSS JOIN touched
    ) ORDER BY channel
    """,
    doc="Exact data-driven Shapley attribution over the three non-"
    "purchase touch channels (click/view/signup): coalition value "
    "v(S) = conversion rate of users whose touch-set is EXACTLY S "
    "(8 observable coalitions, unobserved -> 0), and each channel's "
    "Shapley value is the closed-form weighted sum of its marginal "
    "contributions — the game-theoretic credit split that, unlike "
    "first/last-touch or the U-shaped heuristic, provably satisfies "
    "efficiency and symmetry. With |C|=3 the 2^3 coalition "
    "enumeration is exact, not sampled. Scale shape: one user-keyed "
    "aggregate, an 8-row mask table, and constant-size Shapley math — "
    "the fact scans once; at 10 channels the same query enumerates "
    "1024 masks, still metadata-sized.",
    tags=("experiment", "warehouse", "A7", "A10"),
)
def attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    per_user = ev.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
            + 2
            * F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            + 4
            * F.max(
                F.when(F.col("event_type") == "signup", 1).otherwise(0)
            )
        ).alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    masks = per_user.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_u"),
        F.sum("conv").cast("bigint").alias("n_c"),
    )
    rates = masks.agg(
        *[
            F.coalesce(
                F.max(
                    F.when(
                        F.col("mask") == m,
                        F.col("n_c").cast("double") / F.col("n_u"),
                    )
                ),
                F.lit(0.0),
            ).alias(f"r{m}")
            for m in range(8)
        ]
    )
    touched = masks.agg(
        *[
            expr
            for i in range(3)
            for expr in (
                F.sum(
                    F.when(
                        F.expr(f"(mask & {1 << i}) > 0"), F.col("n_u")
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(f"tu{i}"),
                F.sum(
                    F.when(
                        F.expr(f"(mask & {1 << i}) > 0"), F.col("n_c")
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(f"tc{i}"),
            )
        ]
    )
    base = rates.crossJoin(F.broadcast(touched))
    out = None
    for i, name in ((0, "click"), (1, "view"), (2, "signup")):
        row = base.selectExpr(
            f"'{name}' AS channel",
            f"tu{i} AS n_users_touched",
            f"tc{i} AS n_conv_touched",
            f"ROUND({_shapley_expr(i)}, 6) AS shapley_value",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("channel")


@register(
    "abtest_cuped_adjustment",
    oracle="""
    WITH per_user AS (
        SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
               CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15'
                             THEN COALESCE(CAST(ROUND(value, 0) AS BIGINT), 0)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                             THEN COALESCE(CAST(ROUND(value, 0) AS BIGINT), 0)
                             ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM per_user
    ),
    pv AS (
        SELECT
            CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
            CAST(SUM(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
            CAST(SUM(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
            CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
            CAST(SUM(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1
        FROM per_user
    )
    SELECT n0 AS users_control, n1 AS users_treatment,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (n * sxx - sx * sx), 6) AS theta,
           ROUND(CAST(sy1 AS DOUBLE) / n1
                 - CAST(sy0 AS DOUBLE) / n0, 6) AS lift_raw,
           ROUND((CAST(sy1 AS DOUBLE) / n1
                  - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
                    * (CAST(sx1 AS DOUBLE) / n1 - CAST(sx AS DOUBLE) / n))
                 - (CAST(sy0 AS DOUBLE) / n0
                    - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
                      * (CAST(sx0 AS DOUBLE) / n0 - CAST(sx AS DOUBLE) / n)),
                 6) AS lift_cuped,
           ROUND(100.0 * (CAST(n * sxy - sx * sy AS DOUBLE)
                          * CAST(n * sxy - sx * sy AS DOUBLE))
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS var_reduction_pct
    FROM mom, pv
    """,
    doc="CUPED variance-reduced A/B lift: per-user pre-period value "
    "(covariate x) and post-period value (metric y), theta = "
    "cov(x,y)/var(x) pooled across variants, adjusted lift = raw lift "
    "- theta * covariate imbalance, variance reduction = rho^2 — the "
    "standard pre-experiment-data adjustment every experimentation "
    "platform ships. Values are quantized to whole-dollar int64 so all "
    "five moment sums are exact (bounds documented: products stay "
    "under 2^53 at these SFs; DECIMAL(38,0) is the upgrade path), and "
    "every reported float is derived once from those bit-identical "
    "integers — adjusted per-variant means come from moment algebra, "
    "no per-user residual materialization. Scale shape: one "
    "user-keyed aggregation, then two 1-row moment/variant "
    "aggregates; no shuffle after the groupBy.",
    tags=("stats", "experiment", "A10"),
)
def abtest_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    q = F.coalesce(F.round("value", 0).cast("bigint"), F.lit(0))
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, q).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("ts") >= cutoff, q).otherwise(0))
        .cast("bigint")
        .alias("y"),
    ).withColumn("variant", (F.col("user_id") % 2).cast("int"))
    mom = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    pv = per_user.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("variant") == 0, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sx0"),
        F.sum(F.when(F.col("variant") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sy0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("variant") == 1, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sx1"),
        F.sum(F.when(F.col("variant") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sy1"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    theta = d(num) / den
    mean_x = d(F.col("sx")) / F.col("n")
    adj1 = d(F.col("sy1")) / F.col("n1") - theta * (
        d(F.col("sx1")) / F.col("n1") - mean_x
    )
    adj0 = d(F.col("sy0")) / F.col("n0") - theta * (
        d(F.col("sx0")) / F.col("n0") - mean_x
    )
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return mom.crossJoin(F.broadcast(pv)).select(
        F.col("n0").alias("users_control"),
        F.col("n1").alias("users_treatment"),
        F.round(theta, 6).alias("theta"),
        F.round(
            d(F.col("sy1")) / F.col("n1") - d(F.col("sy0")) / F.col("n0"), 6
        ).alias("lift_raw"),
        F.round(adj1 - adj0, 6).alias("lift_cuped"),
        F.round(100.0 * (d(num) * d(num)) / (d(den) * d(deny)), 6).alias(
            "var_reduction_pct"
        ),
    )


@register(
    "eval_isotonic_calibration",
    oracle="""
    WITH base AS (
        SELECT value AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ), per AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(y) AS BIGINT) AS np
        FROM base GROUP BY s
    ), cum AS (
        SELECT s, cnt, np,
               COALESCE(SUM(cnt) OVER (
                   ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cb
        FROM per
    ), tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM per
    ), bins AS (
        SELECT CAST((cb * 10) // n_total AS INT) AS bin,
               CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(np) AS BIGINT) AS np
        FROM cum, tot GROUP BY 1
    ), rates AS (
        SELECT a.bin AS ab, b.bin AS bb,
               CAST(SUM(c.np) AS DOUBLE) / SUM(c.n) AS rate
        FROM bins a
        JOIN bins b ON a.bin <= b.bin
        JOIN bins c ON c.bin BETWEEN a.bin AND b.bin
        GROUP BY a.bin, b.bin
    ), minb AS (
        SELECT r.ab, i.bin AS i, MIN(r.rate) AS minrate
        FROM rates r JOIN bins i ON r.ab <= i.bin AND r.bb >= i.bin
        GROUP BY r.ab, i.bin
    ), iso AS (
        SELECT i, MAX(minrate) AS iso_rate FROM minb GROUP BY i
    )
    SELECT b.bin,
           b.n,
           b.np AS n_pos,
           CAST(b.np AS DOUBLE) / b.n AS raw_rate,
           o.iso_rate
    FROM bins b JOIN iso o ON o.i = b.bin
    ORDER BY b.bin
    """,
    doc="Isotonic calibration (PAVA) of the purchase score — the fitter "
    "behind every production probability-calibration layer: fit the "
    "best monotone non-decreasing rate curve over the 10 equi-depth "
    "score bins of eval_calibration_bins. Computed NOT by the "
    "sequential pool-adjacent-violators sweep but by its exact "
    "closed-form characterization iso(i) = max_{a<=i} min_{b>=i} "
    "pooled_rate(a..b) (the minimax theorem for isotonic regression "
    "under squared loss — same unique fit PAVA produces, but "
    "expressible as three joins over the B-row bin aggregate with no "
    "driver loop and no recursion). All pooled rates are single "
    "divisions of exact BIGINT sums, so MIN/MAX compare bit-identical "
    "doubles cross-engine. Scale shape: the corpus-size work is the "
    "same per-distinct-score aggregation the calibration table uses, "
    "with the equi-depth bin assignment's cumulative count carried by "
    "the two-stage distributed prefix (global_cumsum — no "
    "single-partition window over the N-growing distinct-score frame); "
    "the isotonic solve runs on the B=10-row frame — B^3 pair work on "
    "an aggregate, invariant to corpus size.",
    tags=("experiment", "eval", "A7", "W1"),
)
def eval_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("value").isNotNull()).select(
        F.col("value").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per = base.groupBy("s").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("y").cast("bigint").alias("np"),
    )
    cum = global_cumsum(per, [F.col("s")], "cnt", "__cum").select(
        "cnt", "np", (F.col("__cum") - F.col("cnt")).alias("cb")
    )
    tot = per.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    bins = barrier(
        cum.crossJoin(F.broadcast(tot))
        .groupBy(F.expr("cast((cb * 10) div n_total as int)").alias("bin"))
        .agg(
            F.sum("cnt").cast("bigint").alias("n"),
            F.sum("np").cast("bigint").alias("np"),
        ),
        "bins",
    )
    iso = isotonic_fit(bins)
    return (
        bins.join(iso, bins.bin == iso.i)
        .select(
            "bin",
            "n",
            F.col("np").alias("n_pos"),
            (F.col("np").cast("double") / F.col("n")).alias("raw_rate"),
            "iso_rate",
        )
        .orderBy("bin")
    )


def isotonic_fit(bins: DataFrame) -> DataFrame:
    """Isotonic (PAVA) rates over a (bin, n, np) aggregate via the exact
    minimax form; returns (i, iso_rate). Shared by
    eval_isotonic_calibration and curation_gate_calibration.

    The interval joins carry explicit broadcast hints: ``bins`` is a
    B<=10-row aggregate by construction, but it arrives behind an eager
    checkpoint whose RDD scan reports no size stats — without the hint
    Catalyst falls back to CartesianProduct for these non-equi joins."""
    a = bins.select(F.col("bin").alias("ab"))
    b = bins.select(F.col("bin").alias("bb"))
    c = bins.select(F.col("bin").alias("cbin"), "n", "np")
    rates = (
        a.join(F.broadcast(b), F.col("ab") <= F.col("bb"))
        .join(
            F.broadcast(c),
            (F.col("cbin") >= F.col("ab")) & (F.col("cbin") <= F.col("bb")),
        )
        .groupBy("ab", "bb")
        .agg((F.sum("np").cast("double") / F.sum("n")).alias("rate"))
    )
    i2 = bins.select(F.col("bin").alias("i"))
    minb = (
        rates.join(
            F.broadcast(i2),
            (F.col("ab") <= F.col("i")) & (F.col("bb") >= F.col("i")),
        )
        .groupBy("ab", "i")
        .agg(F.min("rate").alias("minrate"))
    )
    return minb.groupBy("i").agg(F.max("minrate").alias("iso_rate"))


def isotonic_sql(bins_cte: str) -> str:
    """The rates/minb/iso CTE chain over an existing (bin, n, np) CTE."""
    return f"""rates AS (
        SELECT a.bin AS ab, b.bin AS bb,
               CAST(SUM(c.np) AS DOUBLE) / SUM(c.n) AS rate
        FROM {bins_cte} a
        JOIN {bins_cte} b ON a.bin <= b.bin
        JOIN {bins_cte} c ON c.bin BETWEEN a.bin AND b.bin
        GROUP BY a.bin, b.bin
    ), minb AS (
        SELECT r.ab, i.bin AS i, MIN(r.rate) AS minrate
        FROM rates r JOIN {bins_cte} i ON r.ab <= i.bin AND r.bb >= i.bin
        GROUP BY r.ab, i.bin
    ), iso AS (
        SELECT i, MAX(minrate) AS iso_rate FROM minb GROUP BY i
    )"""
