"""In-engine model fitting: ordinary least squares as aggregates.

A feature/analytics pipeline fits cheap models where the data lives
instead of collecting to a driver: OLS is exactly expressible as a
single-pass aggregate because the normal equations need only moment sums
(n, Σx, Σy, Σxy, Σx², …), which merge associatively — the same algebra
that makes partial aggregation work. One shuffle of constant-size state
per group, no iteration, no driver math beyond none at all: the solve
itself is in-query arithmetic.

Two entries: the builtin ``regr_*`` aggregates (simple regression, also
native in DuckDB — independent implementations must agree), and the
2-feature closed form via Cramer's rule on the centered moment matrix —
the pattern that generalizes to any small-d regression at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import load_table
from flu_data_pipeline_spark.operators.materialize import barrier
from flu_data_pipeline_spark.plans.registry import register


@register(
    "ols_simple_regr",
    oracle="""
    SELECT l_returnflag AS returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY returnflag
    """,
    doc="Simple OLS (price ~ quantity) per return flag via the builtin "
    "regr_slope/intercept/r2 aggregates — single-pass distributed "
    "moments with map-side partial merge, one constant-size state per "
    "group. Spark and DuckDB implement these independently, so "
    "agreement at 6dp is a genuine cross-check of the moment algebra.",
    tags=("stats", "regression", "A7", "A11"),
)
def ols_simple_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 6).alias(
                "intercept"
            ),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        )
        .orderBy("returnflag")
    )


#: Centered second moments from raw sums (textbook shortcut): the whole
#: 2-feature fit needs only these nine numbers per group.
_MOMENTS_SQL = """
        SELECT l_returnflag AS returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(l_quantity) AS s1, SUM(l_discount) AS s2,
               SUM(l_extendedprice) AS sy,
               SUM(l_quantity * l_quantity) AS s11,
               SUM(l_discount * l_discount) AS s22,
               SUM(l_quantity * l_discount) AS s12,
               SUM(l_quantity * l_extendedprice) AS s1y,
               SUM(l_discount * l_extendedprice) AS s2y,
               SUM(l_extendedprice * l_extendedprice) AS syy
        FROM lineitem
        GROUP BY l_returnflag
"""


@register(
    "ols_normal_equations",
    oracle=f"""
    WITH m AS (
{_MOMENTS_SQL}
    ), c AS (
        SELECT returnflag, n,
               s11 - s1 * s1 / n AS a11,
               s22 - s2 * s2 / n AS a22,
               s12 - s1 * s2 / n AS a12,
               s1y - s1 * sy / n AS b1,
               s2y - s2 * sy / n AS b2,
               syy - sy * sy / n AS tss,
               s1 / n AS m1, s2 / n AS m2, sy / n AS my
        FROM m
    ), solved AS (
        SELECT returnflag, n, tss, m1, m2, my, b1, b2,
               (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS beta1,
               (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS beta2
        FROM c
    )
    SELECT returnflag,
           CAST(n AS BIGINT) AS n,
           ROUND(beta1, 6) AS beta_qty,
           ROUND(beta2, 6) AS beta_disc,
           ROUND(my - beta1 * m1 - beta2 * m2, 6) AS intercept,
           ROUND((beta1 * b1 + beta2 * b2) / tss, 6) AS r2
    FROM solved
    ORDER BY returnflag
    """,
    doc="2-feature OLS (price ~ quantity + discount) per return flag, "
    "solved in closed form: one aggregate pass collects the nine moment "
    "sums, Cramer's rule on the centered 2×2 normal matrix yields the "
    "coefficients, and R² = explained/total from the same sums — no "
    "second pass, no iteration, no driver-side linear algebra. The "
    "exact distributed-ML pattern for any small-d fit at 100 TB: "
    "per-group state is O(d²) floats regardless of row count. Both "
    "engines run the identical arithmetic on identical sums.",
    tags=("stats", "regression", "A7", "A11"),
)
def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q, d, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(d).alias("s2"),
        F.sum(y).alias("sy"),
        F.sum(q * q).alias("s11"),
        F.sum(d * d).alias("s22"),
        F.sum(q * d).alias("s12"),
        F.sum(q * y).alias("s1y"),
        F.sum(d * y).alias("s2y"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n")
    a11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    a22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    a12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    b1 = F.col("s1y") - F.col("s1") * F.col("sy") / n
    b2 = F.col("s2y") - F.col("s2") * F.col("sy") / n
    tss = F.col("syy") - F.col("sy") * F.col("sy") / n
    det = a11 * a22 - a12 * a12
    beta1 = (b1 * a22 - b2 * a12) / det
    beta2 = (b2 * a11 - b1 * a12) / det
    m1, m2, my = F.col("s1") / n, F.col("s2") / n, F.col("sy") / n
    return m.select(
        "returnflag",
        n.cast("bigint").alias("n"),
        F.round(beta1, 6).alias("beta_qty"),
        F.round(beta2, 6).alias("beta_disc"),
        F.round(my - beta1 * m1 - beta2 * m2, 6).alias("intercept"),
        F.round((beta1 * b1 + beta2 * b2) / tss, 6).alias("r2"),
    ).orderBy("returnflag")


@register(
    "ols_score_residuals",
    oracle="""
    WITH coef AS (
        SELECT l_returnflag AS flag,
               ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
               ROUND(regr_intercept(l_extendedprice, l_quantity), 6)
                   AS intercept
        FROM lineitem GROUP BY l_returnflag
    ), scored AS (
        SELECT l.l_returnflag AS returnflag,
               l.l_extendedprice
                 - (c.slope * l.l_quantity + c.intercept) AS res
        FROM lineitem l JOIN coef c ON l.l_returnflag = c.flag
    ), agg AS (
        SELECT returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(res * res * 100) AS BIGINT)) AS BIGINT)
                   AS sse100,
               CAST(SUM(CAST(FLOOR(abs(res) * 100) AS BIGINT)) AS BIGINT)
                   AS sae100
        FROM scored GROUP BY returnflag
    )
    SELECT returnflag, n,
           sqrt(CAST(sse100 AS DOUBLE) / (100.0 * n)) AS rmse,
           CAST(sae100 AS DOUBLE) / (100.0 * n) AS mae
    FROM agg ORDER BY returnflag
    """,
    doc="Model scoring in-engine: the per-group OLS fit (6dp-rounded "
    "coefficients, cross-engine equal by ols_simple_regr's green hash) "
    "broadcast-joins back onto the fact and every row is scored "
    "y - (slope*x + b) — pinned-order IEEE, so residuals are "
    "bit-identical. Error metrics avoid float sum-order entirely: "
    "squared/absolute residuals are floored to exact int64 centi-units "
    "per row, summed exactly, with ONE divide + sqrt at the edge. "
    "Train -> broadcast score -> evaluate is the standard batch-"
    "inference shape at 100 TB: the model is tiny, the fact never "
    "shuffles (coefficient join is a broadcast; agg map-side combines).",
    tags=("stats", "regression", "A7", "F10", "eval"),
)
def ols_score_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    coef = (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias(
                "slope"
            ),
            F.round(
                F.regr_intercept("l_extendedprice", "l_quantity"), 6
            ).alias("intercept"),
        )
    )
    res = F.col("l_extendedprice") - (
        F.col("slope") * F.col("l_quantity") + F.col("intercept")
    )
    scored = li.join(
        F.broadcast(coef), F.col("l_returnflag") == F.col("flag")
    ).select(
        F.col("l_returnflag").alias("returnflag"),
        res.alias("res"),
    )
    agg = scored.groupBy("returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("res") * F.col("res") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sse100"),
        F.sum(F.floor(F.abs("res") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sae100"),
    )
    return agg.select(
        "returnflag",
        "n",
        F.sqrt(F.col("sse100").cast("double") / (100.0 * F.col("n"))).alias(
            "rmse"
        ),
        (F.col("sae100").cast("double") / (100.0 * F.col("n"))).alias("mae"),
    ).orderBy("returnflag")


# --- k-fold cross-validation as ONE aggregation pass ------------------
# The naive distributed CV runs k training jobs, each scanning (k-1)/k of
# the data. For models that are functions of sufficient statistics (OLS
# here), train-fold moments are just total moments MINUS the held-out
# fold's moments — so one groupBy(fold) pass + a 5-row totals broadcast
# yields every fold's fit AND its held-out error. Shared formula strings
# keep the Spark and DuckDB float op trees identical over exact
# integer/decimal moments.

_CV_SLOPE = (
    "(CAST(n_t AS DOUBLE) * CAST(sxy_t AS DOUBLE)"
    " - CAST(sx_t AS DOUBLE) * CAST(sy_t AS DOUBLE))"
    " / (CAST(n_t AS DOUBLE) * CAST(sxx_t AS DOUBLE)"
    " - CAST(sx_t AS DOUBLE) * CAST(sx_t AS DOUBLE))"
)
_CV_INTERCEPT = (
    "(CAST(sy_t AS DOUBLE) - slope * CAST(sx_t AS DOUBLE))"
    " / CAST(n_t AS DOUBLE)"
)
#: held-out SSE from fold moments: sum((y - a - b*x)^2) expanded.
_CV_SSE = (
    "CAST(syy_f AS DOUBLE) + CAST(n_f AS DOUBLE) * intercept * intercept"
    " + slope * slope * CAST(sxx_f AS DOUBLE)"
    " - 2.0 * intercept * CAST(sy_f AS DOUBLE)"
    " - 2.0 * slope * CAST(sxy_f AS DOUBLE)"
    " + 2.0 * intercept * slope * CAST(sx_f AS DOUBLE)"
)
_CV_RMSE = f"ROUND(SQRT(({_CV_SSE}) / CAST(n_f AS DOUBLE)), 6)"


from flu_data_pipeline_spark.functions.hashing import hash64, hash64_sql

_CV_FOLD_SQL = (
    hash64_sql(
        "CAST(l_orderkey AS VARCHAR) || ':' || "
        "CAST(l_linenumber AS VARCHAR)"
    )
    + " % 5"
)


@register(
    "cv_kfold_regression",
    oracle=f"""
    WITH pts AS (
        SELECT CAST({_CV_FOLD_SQL} AS INT) AS fold,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ), folds AS (
        SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_f,
               SUM(x) AS sx_f, SUM(y) AS sy_f,
               SUM(CAST(x AS HUGEINT) * y) AS sxy_f,
               SUM(CAST(x AS HUGEINT) * x) AS sxx_f,
               SUM(CAST(y AS HUGEINT) * y) AS syy_f
        FROM pts GROUP BY fold
    ), tot AS (
        SELECT CAST(SUM(n_f) AS BIGINT) AS n, SUM(sx_f) AS sx,
               SUM(sy_f) AS sy, SUM(sxy_f) AS sxy, SUM(sxx_f) AS sxx
        FROM folds
    ), t AS (
        SELECT fold, n_f, sx_f, sy_f, sxy_f, sxx_f, syy_f,
               n - n_f AS n_t, sx - sx_f AS sx_t, sy - sy_f AS sy_t,
               sxy - sxy_f AS sxy_t, sxx - sxx_f AS sxx_t
        FROM folds CROSS JOIN tot
    ), s AS (
        SELECT *, {_CV_SLOPE} AS slope FROM t
    ), s2 AS (
        SELECT *, {_CV_INTERCEPT} AS intercept FROM s
    )
    SELECT fold, CAST(n_t AS BIGINT) AS n_train, n_f AS n_test,
           ROUND(slope, 6) AS slope_cents,
           ROUND(intercept, 6) AS intercept_cents,
           {_CV_RMSE} AS rmse_cents
    FROM s2 ORDER BY fold
    """,
    doc="5-fold cross-validated OLS (price cents ~ quantity) in ONE "
    "aggregation pass: fold = portable hash of the row key mod 5; "
    "each training fit's moments are the totals minus the held-out "
    "fold's moments (OLS is a function of sufficient statistics), and "
    "the held-out RMSE expands sum((y-a-bx)^2) over the same fold "
    "moments — no k training jobs, no second scan, generalizing to "
    "any moment-based model (ridge, Poisson via IRLS steps, etc). "
    "Moments are exact BIGINT/DECIMAL(38,0) (HUGEINT in the oracle); "
    "slope/intercept/RMSE are shared-text float expressions over them, "
    "so both engines compute identical doubles. Scale shape: one "
    "groupBy(fold) with map-side combine (5 groups), a 5-row totals "
    "broadcast, and per-fold scalar math — the fact scans ONCE for "
    "all folds.",
    tags=("stats", "regression", "eval", "A7", "A10", "A11"),
)
def cv_kfold_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    pts = li.select(
        (
            hash64(
                F.concat_ws(
                    ":",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            % 5
        )
        .cast("int")
        .alias("fold"),
        F.expr("CAST(l_quantity AS BIGINT)").alias("x"),
        F.expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT)").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    folds = pts.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_f"),
        F.sum(dec("x")).alias("sx_f"),
        F.sum(dec("y")).alias("sy_f"),
        F.sum(dec("x") * F.col("y")).alias("sxy_f"),
        F.sum(dec("x") * F.col("x")).alias("sxx_f"),
        F.sum(dec("y") * F.col("y")).alias("syy_f"),
    )
    tot = folds.agg(
        F.sum("n_f").cast("bigint").alias("n"),
        F.sum("sx_f").alias("sx"),
        F.sum("sy_f").alias("sy"),
        F.sum("sxy_f").alias("sxy"),
        F.sum("sxx_f").alias("sxx"),
    )
    t = folds.crossJoin(F.broadcast(tot)).selectExpr(
        "fold", "n_f", "sx_f", "sy_f", "sxy_f", "sxx_f", "syy_f",
        "n - n_f AS n_t", "sx - sx_f AS sx_t", "sy - sy_f AS sy_t",
        "sxy - sxy_f AS sxy_t", "sxx - sxx_f AS sxx_t",
    )
    s = t.selectExpr("*", f"{_CV_SLOPE} AS slope")
    s2 = s.selectExpr("*", f"{_CV_INTERCEPT} AS intercept")
    return s2.selectExpr(
        "fold",
        "CAST(n_t AS BIGINT) AS n_train",
        "n_f AS n_test",
        "ROUND(slope, 6) AS slope_cents",
        "ROUND(intercept, 6) AS intercept_cents",
        f"{_CV_RMSE} AS rmse_cents",
    ).orderBy("fold")


# --- Huber robust regression via IRLS ---------------------------------
# The determinism trick: IRLS weights are floats, and float-weighted
# moment sums would be shuffle-order-dependent. Weights are therefore
# QUANTIZED to integer millionths (w_q = round(w * 1e6)) — computed
# identically per row on both engines from broadcast coefficients — so
# every weighted moment is an exact integer sum and each iteration's
# coefficients are one deterministic float expression.

_HUBER_C = 200_000  # Huber threshold in cents (stated model constant)
_HUBER_WQ = (
    f"CASE WHEN ABS(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))"
    f" <= {_HUBER_C}.0 THEN 1000000"
    f" ELSE CAST(ROUND({_HUBER_C}.0 * 1000000.0"
    f" / ABS(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))), 0)"
    f" AS BIGINT) END"
)
_B_UNW = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_A_UNW = "(CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"
_B_W = (
    "(CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE)"
    " - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE))"
    " / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)"
    " - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE))"
)
_A_W = "(CAST(swy AS DOUBLE) - b * CAST(swx AS DOUBLE)) / CAST(sw AS DOUBLE)"


def _huber_iter_sql(i: int) -> str:
    prev = "c0" if i == 1 else f"c{i - 1}"
    return f"""w{i} AS MATERIALIZED (
        SELECT x, y, {_HUBER_WQ} AS w
        FROM pts CROSS JOIN {prev}
    ), wm{i} AS MATERIALIZED (
        SELECT CAST(SUM(w) AS HUGEINT) AS sw,
               SUM(CAST(w AS HUGEINT) * x) AS swx,
               SUM(CAST(w AS HUGEINT) * y) AS swy,
               SUM(CAST(w AS HUGEINT) * x * y) AS swxy,
               SUM(CAST(w AS HUGEINT) * x * x) AS swxx,
               CAST(SUM(CASE WHEN w < 1000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_down
        FROM w{i}
    ), cb{i} AS (
        SELECT *, ROUND({_B_W}, 8) AS b FROM wm{i}
    ), c{i} AS MATERIALIZED (
        SELECT b, ROUND({_A_W}, 8) AS a, n_down FROM cb{i}
    )"""


@register(
    "huber_irls_regression",
    oracle=f"""
    WITH pts AS MATERIALIZED (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ), m0 AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx
        FROM pts
    ), cb0 AS (
        SELECT *, ROUND({_B_UNW}, 8) AS b FROM m0
    ), c0 AS MATERIALIZED (
        SELECT b, ROUND({_A_UNW}, 8) AS a, CAST(0 AS BIGINT) AS n_down
        FROM cb0
    ), {_huber_iter_sql(1)}, {_huber_iter_sql(2)}
    SELECT step, slope_cents, intercept_cents, n_downweighted FROM (
        SELECT 0 AS step, ROUND(b, 6) AS slope_cents,
               ROUND(a, 6) AS intercept_cents, n_down AS n_downweighted
        FROM c0
        UNION ALL
        SELECT 1, ROUND(b, 6), ROUND(a, 6), n_down FROM c1
        UNION ALL
        SELECT 2, ROUND(b, 6), ROUND(a, 6), n_down FROM c2
    ) ORDER BY step
    """,
    doc="Huber robust regression (price cents ~ quantity) via 2 IRLS "
    "reweighting iterations from an OLS start — the M-estimator that "
    "caps the influence of outlier rows a plain OLS lets dominate. "
    "Each iteration is ONE scan: residuals against the broadcast "
    "(a, b) produce per-row Huber weights, QUANTIZED to integer "
    "millionths so the weighted moments are exact integer sums "
    "(float-weighted sums would be shuffle-order-dependent and could "
    "never hash-compare); coefficients round to 8dp per iteration. "
    "Emits the coefficient trajectory and downweighted-row counts per "
    "step. Scale shape: 3 scans total, each a map-side expression + "
    "one global aggregate — no joins, no sort, no per-row state.",
    tags=("stats", "regression", "A7", "A11"),
)
def huber_irls_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice"
    )
    pts = barrier(
        li.selectExpr(
            "CAST(l_quantity AS BIGINT) AS x",
            "CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS y",
        ),
        "pts",
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m0 = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
    )
    c0 = (
        m0.selectExpr("*", f"ROUND({_B_UNW}, 8) AS b")
        .selectExpr("b", f"ROUND({_A_UNW}, 8) AS a", "CAST(0 AS BIGINT) AS n_down")
    )
    coefs = [c0]
    for it in range(2):
        prev = barrier(coefs[-1], f"irls{it}")
        w = pts.crossJoin(F.broadcast(prev.select("a", "b"))).selectExpr(
            "x", "y", f"{_HUBER_WQ} AS w"
        )
        wm = w.agg(
            F.sum(dec("w")).alias("sw"),
            F.sum(dec("w") * F.col("x")).alias("swx"),
            F.sum(dec("w") * F.col("y")).alias("swy"),
            F.sum(dec("w") * F.col("x") * F.col("y")).alias("swxy"),
            F.sum(dec("w") * F.col("x") * F.col("x")).alias("swxx"),
            F.sum(F.when(F.col("w") < 1000000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_down"),
        )
        c = (
            wm.selectExpr("*", f"ROUND({_B_W}, 8) AS b")
            .selectExpr("b", f"ROUND({_A_W}, 8) AS a", "n_down")
        )
        coefs.append(c)
    out = None
    for step, c in enumerate(coefs):
        row = c.selectExpr(
            f"{step} AS step",
            "ROUND(b, 6) AS slope_cents",
            "ROUND(a, 6) AS intercept_cents",
            "n_down AS n_downweighted",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("step")


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals
# ---------------------------------------------------------------------------

CONF_ALPHA = 0.1  # target 90% coverage


@register(
    "conformal_interval_coverage",
    oracle=f"""
    WITH per_order AS (
        SELECT l_orderkey AS orderkey,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS y_cents,
               {hash64_sql('CAST(l_orderkey AS VARCHAR)')} % 4 AS fold
        FROM lineitem GROUP BY l_orderkey
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y_cents) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y_cents) AS BIGINT) AS sxy
        FROM per_order WHERE fold < 2
    ),
    fit AS (
        SELECT n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / (n * sxx - sx * sx) AS b,
               (CAST(sy AS DOUBLE)
                - CAST(n * sxy - sx * sy AS DOUBLE)
                  / (n * sxx - sx * sx) * sx) / n AS a
        FROM mom
    ),
    calib AS (
        SELECT p.orderkey,
               ABS(CAST(p.y_cents AS DOUBLE)
                   - (f.a + f.b * p.x)) / 100.0 AS r
        FROM per_order p, fit f WHERE p.fold = 2
    ),
    kk AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
               CAST(CEIL((1.0 - {CONF_ALPHA}) * (COUNT(*) + 1)) AS BIGINT)
                   AS k
        FROM calib
    ),
    qhat AS (
        SELECT c.r AS q_hat FROM calib c, kk
        QUALIFY ROW_NUMBER() OVER (ORDER BY c.r, c.orderkey) = kk.k
    ),
    test AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN ABS(CAST(p.y_cents AS DOUBLE)
                                      - (f.a + f.b * p.x)) / 100.0
                                  <= q.q_hat
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        FROM per_order p, fit f, qhat q WHERE p.fold = 3
    )
    SELECT f.n AS n_train, kk.n_cal, t.n_test, kk.k,
           ROUND(q.q_hat, 6) AS q_hat,
           ROUND(CAST(t.n_covered AS DOUBLE) / t.n_test, 6) AS coverage,
           ROUND(2.0 * q.q_hat, 6) AS interval_width
    FROM fit f, kk, qhat q, test t
    """,
    doc=f"Split-conformal prediction intervals (target coverage "
    f"{1 - CONF_ALPHA:.0%}) for the order-revenue ~ item-count linear "
    "model: hash-split orders into train/calibration/test, fit OLS from "
    "exact integer moments on train, take the ceil((1-alpha)(n+1))-th "
    "smallest absolute calibration residual as q_hat, and report "
    "held-out coverage and interval width — the distribution-free "
    "uncertainty wrapper production ML ships around point predictors. "
    "Everything before the final floats is exact int64; residuals "
    "derive identically on both engines from the same fitted "
    "coefficients. Scale shape: one order-keyed aggregation, 1-row "
    "moment fit broadcast back, and the rank-k selection runs on the "
    "DISTINCT-residual frame via the two-stage distributed prefix "
    "(global_cumsum — no single-partition sort of the calibration set).",
    tags=("stats", "regression", "eval", "A10"),
)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flu_data_pipeline_spark.plans.rank_stats_queries import (
        _with_cum_before,
    )

    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y_cents"),
    ).withColumn(
        "fold", hash64(F.col("orderkey").cast("string")) % 4
    )
    mom = per_order.filter(F.col("fold") < 2).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y_cents").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y_cents")).cast("bigint").alias("sxy"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    slope = (d(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = mom.select(
        F.col("n"),
        slope.alias("b"),
        ((d(F.col("sy")) - slope * F.col("sx")) / F.col("n")).alias("a"),
    )
    resid = (
        F.abs(
            d(F.col("y_cents")) - (F.col("a") + F.col("b") * F.col("x"))
        )
        / 100.0
    )
    calib = (
        per_order.filter(F.col("fold") == 2)
        .crossJoin(F.broadcast(fit))
        .select("orderkey", resid.alias("r"))
    )
    kk = calib.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
        F.ceil((1.0 - CONF_ALPHA) * (F.count(F.lit(1)) + 1))
        .cast("bigint")
        .alias("k"),
    )
    # k-th smallest calibration residual WITHOUT a global sort: distinct
    # residual values + counts through the two-stage distributed prefix,
    # then the one value whose rank interval covers k.
    vals = calib.groupBy("r").agg(F.count(F.lit(1)).alias("nr"))
    ranked = _with_cum_before(vals, F.floor(F.col("r") / 100.0), "r", "nr")
    qhat = (
        ranked.crossJoin(F.broadcast(kk))
        .filter(
            (F.col("cum_before") < F.col("k"))
            & (F.col("cum_before") + F.col("nr") >= F.col("k"))
        )
        .select(F.col("r").alias("q_hat"))
    )
    test = (
        per_order.filter(F.col("fold") == 3)
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(resid <= F.col("q_hat"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return (
        fit.select(F.col("n").alias("n_train"))
        .crossJoin(F.broadcast(kk))
        .crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(test))
        .select(
            "n_train",
            "n_cal",
            "n_test",
            "k",
            F.round("q_hat", 6).alias("q_hat"),
            F.round(d(F.col("n_covered")) / F.col("n_test"), 6).alias(
                "coverage"
            ),
            F.round(2.0 * F.col("q_hat"), 6).alias("interval_width"),
        )
    )
