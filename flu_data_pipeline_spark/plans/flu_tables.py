"""The reference's five table-derivation pipelines, Spark-first.

Pure DataFrame→DataFrame builders mirroring flu_data_airflow_v2.py:319-459
(behavior, not architecture): the eager pandas statement chain becomes one
lazy Catalyst plan per table; every order-dependent pandas semantic
(keep-first dedup, first-non-null collapse, idxmax tie-break, index-based
surrogate keys — SURVEY §4.3.1) is pinned with explicit orderings on a
``row_id``/``pos`` lineage carried from ingest.

Pinned engine semantics (documented deviations from raw pandas):
- x/0 → null → filled 0 (pandas would give inf for x>0; the reference's
  data never hits that branch — flu_data_airflow_v2.py:412,415).
- ACH map + explode is native ``map lookup → posexplode_outer`` (F1/F2);
  the OUTER variant keeps unmapped-Location rows as null-county rows,
  exactly like pandas ``.map`` + ``.explode``.

Each derivation is registered as an oracle-checked query: the DuckDB side
rebuilds the same tables from identical fixture literals
(:mod:`flu_data_pipeline_spark.plans.flu_fixtures`) in declarative SQL.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flu_data_pipeline_spark.functions.cleaning import clean_percent
from flu_data_pipeline_spark.plans import flu_fixtures as fx
from flu_data_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Ingest preprocessing (reference extract task flu_data_airflow_v2.py:100-154)
# ---------------------------------------------------------------------------


def preprocess_rhino(raw: DataFrame) -> DataFrame:
    """Filter Statewide/Unassigned (P3) → ACH→counties map lookup (F1) →
    posexplode_outer (F2, null-keeping) → percent cleaner (F13).

    The ACH map is a literal ``map<string,array<string>>`` expression —
    constant-folded, no join, no UDF. ``pos`` (list position) plus the
    ingest ``row_id`` pin pandas row order for downstream keep-first ops.
    """
    ach_map_expr = F.create_map(
        *chain.from_iterable(
            (F.lit(loc), F.array(*[F.lit(c) for c in counties]))
            for loc, counties in fx.ACH_TO_COUNTIES.items()
        )
    )
    return (
        raw.filter(~F.col("Location").isin("Statewide", "Unassigned ACH Region"))
        .withColumn("county_list", ach_map_expr[F.col("Location")])
        .select(
            "row_id",
            F.col("Season").alias("season"),
            F.col("Week Start").alias("week_start_str"),
            F.col("Week End").alias("week_end_str"),
            F.col("Week").alias("week"),
            F.col("Location").alias("ach_location"),
            F.col("Respiratory Illness Category").alias("illness_cat"),
            F.col("Care Type").alias("care_type"),
            F.col("Demographic Category").alias("demo_cat"),
            clean_percent(F.col("1-Week Percent ")).alias("pct_cleaned"),
            F.posexplode_outer("county_list").alias("pos", "county"),
        )
    )


def _epiweek_id():
    """epiweek id = year of *Week End* + zero-padded week
    (flu_data_airflow_v2.py:350 — deliberately not ISO-week logic)."""
    return F.concat(
        F.substring("week_end_str", 1, 4),
        F.lpad(F.col("week").cast("string"), 2, "0"),
    )


# ---------------------------------------------------------------------------
# The five table builders
# ---------------------------------------------------------------------------


def build_county_region(census: DataFrame, rhino_pre: DataFrame) -> DataFrame:
    """county_region dim (flu_data_airflow_v2.py:329-345): census distinct →
    left join RHINO (county, ACH) distinct → ordered-distinct string agg of
    ACH names (merges Spokane's two ACHs) → blank→'Unassigned' → surrogate
    id by county-name order (39-row dim: single-partition window is fine;
    banned for large tables)."""
    census_d = census.select(
        F.col("County Name").alias("county_name"),
        F.col("Population Density 2020").alias("population_density_2020"),
    ).distinct()
    rhino_d = rhino_pre.select("county", "ach_location").distinct()
    return (
        census_d.join(
            F.broadcast(rhino_d), census_d.county_name == rhino_d.county, "left"
        )
        .groupBy("county_name", "population_density_2020")
        .agg(
            F.concat_ws(", ", F.array_sort(F.collect_set("ach_location"))).alias(
                "ach_raw"
            )
        )
        .select(
            F.row_number()
            .over(
                Window.orderBy(
                    F.asc("county_name"),
                    F.col("population_density_2020").asc_nulls_last(),
                )
            )
            .cast("int")
            .alias("county_id"),
            "county_name",
            F.when(F.trim(F.col("ach_raw")) == "", "Unassigned")
            .otherwise(F.col("ach_raw"))
            .alias("ach_region"),
            "population_density_2020",
        )
    )


def build_temporal(rhino_pre: DataFrame) -> DataFrame:
    """temporal dim (flu_data_airflow_v2.py:350-361): epiweek derivation,
    full-row distinct, typed casts."""
    return (
        rhino_pre.select(
            _epiweek_id().alias("epiweek_str"),
            "week_start_str",
            "week_end_str",
            "season",
        )
        .distinct()
        .select(
            F.col("epiweek_str").cast("int").alias("epiweek_id"),
            F.to_date("week_start_str").alias("week_start"),
            F.to_date("week_end_str").alias("week_end"),
            "season",
        )
    )


def build_illness(
    rhino_pre: DataFrame, county_region: DataFrame, fluview: DataFrame
) -> DataFrame:
    """illness fact (flu_data_airflow_v2.py:365-387): project → broadcast
    left join county dim (J2) → broadcast left join FluView on epiweek (J3,
    unmatched → null state_ili_percent) → keyed keep-first dedup pinned on
    (row_id, pos) (D2, §4.3.1) → deviation = county − state (F9; code wins
    over the design PDF's reversed sign)."""
    base = rhino_pre.select(
        "row_id",
        "pos",
        _epiweek_id().cast("int").alias("epiweek_id"),
        "county",
        "illness_cat",
        "care_type",
        "pct_cleaned",
    )
    dim = county_region.select("county_id", "county_name")
    fv = fluview.select("epiweek", F.col("wili").alias("state_ili_percent"))
    w = Window.partitionBy(
        "epiweek_id", "county_id", "illness_cat", "care_type"
    ).orderBy("row_id", "pos")
    return (
        base.join(F.broadcast(dim), base.county == dim.county_name, "left")
        .join(F.broadcast(fv), F.col("epiweek_id") == fv.epiweek, "left")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "epiweek_id",
            "county_id",
            F.col("illness_cat").alias("respiratory_illness_type"),
            F.col("care_type").alias("care_type"),
            F.col("pct_cleaned").alias("county_ili_percent"),
            "state_ili_percent",
            (F.col("pct_cleaned") - F.col("state_ili_percent")).alias(
                "deviation_from_state_average"
            ),
        )
    )


def build_healthcare(rhino_pre: DataFrame, county_region: DataFrame) -> DataFrame:
    """healthcare fact (flu_data_airflow_v2.py:391-415), the trickiest
    pipeline: distinct RHINO slice → broadcast left join from the county dim
    (J4) → per-(county, care-type) mean as window (A3) → CASE WHEN pivot
    (F11) → first-non-null collapse (A2 — expressed as MAX: within a group
    each pivot column holds one distinct non-null value, so max ≡ pandas
    'first' but order-independent) → guarded ratio (F10) → fillna(0) (F12).
    The pandas groupby's default dropna drops null-density counties."""
    slice_d = rhino_pre.select(
        "county", "illness_cat", "care_type", "pct_cleaned"
    ).distinct()
    joined = county_region.select(
        "county_id", "county_name", "population_density_2020"
    ).join(F.broadcast(slice_d), F.col("county_name") == F.col("county"), "left")
    w = Window.partitionBy("county_id", "care_type")
    rated = joined.select(
        "county_id",
        "population_density_2020",
        "care_type",
        F.avg("pct_cleaned").over(w).alias("rates"),
    ).distinct()
    pivoted = rated.select(
        "county_id",
        "population_density_2020",
        F.when(F.col("care_type") == "Hospitalizations", F.col("rates")).alias("hosp"),
        F.when(F.col("care_type") == "Emergency Visits", F.col("rates")).alias("er"),
    )
    collapsed = (
        pivoted.filter(F.col("population_density_2020").isNotNull())
        .groupBy("county_id", "population_density_2020")
        .agg(F.max("hosp").alias("hosp"), F.max("er").alias("er"))
    )
    return collapsed.select(
        "county_id",
        "population_density_2020",
        F.coalesce("hosp", F.lit(0.0)).alias("hospitalization_percent"),
        F.coalesce("er", F.lit(0.0)).alias("er_visit_percent"),
        F.coalesce(F.col("hosp") / F.col("er"), F.lit(0.0)).alias(
            "hospital_to_er_ratio"
        ),
    )


def build_historics(fluview: DataFrame) -> DataFrame:
    """historics fact (flu_data_airflow_v2.py:420-437): per-year windowed
    max/avg of wili (A4/A5), argmax epiweek with idxmax first-occurrence
    tie-break pinned via (wili DESC, row_id ASC) (A6, §4.3.1), decade
    floor-div (F8), DISTINCT collapse."""
    base = fluview.select(
        "row_id",
        "epiweek",
        "wili",
        F.substring(F.col("epiweek").cast("string"), 1, 4).cast("int").alias("year"),
    )
    w = Window.partitionBy("year")
    wo = w.orderBy(F.desc("wili"), F.asc("row_id"))
    return (
        base.withColumn("peak_ili_percent", F.max("wili").over(w))
        .withColumn("average_wili_percent", F.avg("wili").over(w))
        .withColumn("peak_week_id", F.first("epiweek").over(wo))
        .select(
            "year",
            (F.floor(F.col("year") / 10) * 10).cast("int").alias("decade_year"),
            "peak_week_id",
            "peak_ili_percent",
            "average_wili_percent",
            (F.col("peak_ili_percent") - F.col("average_wili_percent")).alias(
                "peak_vs_avg_diff"
            ),
        )
        .distinct()
    )


def derive_tables(
    rhino_pre: DataFrame, census: DataFrame, fluview: DataFrame
) -> dict[str, DataFrame]:
    """The five derived tables as lazy plans, in one fixed key order:
    which builder takes which input, shared by the pipeline and the
    reports."""
    cr = build_county_region(census, rhino_pre)
    return {
        "county_region": cr,
        "temporal": build_temporal(rhino_pre),
        "illness": build_illness(rhino_pre, cr, fluview),
        "healthcare": build_healthcare(rhino_pre, cr),
        "historics": build_historics(fluview),
    }


# ---------------------------------------------------------------------------
# DuckDB oracle: same derivations, declarative SQL over the same fixtures
# ---------------------------------------------------------------------------

FLU_CTES = f"""
rhino_raw AS (SELECT * FROM {fx.RHINO_SQL}),
ach_map AS (SELECT * FROM {fx.ACH_MAP_SQL}),
census_raw AS (SELECT * FROM {fx.CENSUS_SQL}),
fluview_raw AS (SELECT * FROM {fx.FLUVIEW_SQL}),
rhino_pre AS (
    SELECT r.row_id, a.pos, r."Season" AS season,
           r."Week Start" AS week_start_str, r."Week End" AS week_end_str,
           r."Week" AS week, r."Location" AS ach_location,
           r."Respiratory Illness Category" AS illness_cat,
           r."Care Type" AS care_type, r."Demographic Category" AS demo_cat,
           TRY_CAST(NULLIF(TRIM(r."1-Week Percent "), '') AS DOUBLE) AS pct_cleaned,
           a.county
    FROM rhino_raw r
    LEFT JOIN ach_map a ON r."Location" = a."location"
    WHERE r."Location" NOT IN ('Statewide', 'Unassigned ACH Region')
),
county_region AS (
    SELECT CAST(ROW_NUMBER() OVER (
               ORDER BY county_name ASC, population_density_2020 ASC NULLS LAST
           ) AS INT) AS county_id,
           county_name,
           CASE WHEN TRIM(ach_raw) = '' THEN 'Unassigned' ELSE ach_raw END AS ach_region,
           population_density_2020
    FROM (
        SELECT c.county_name, c.population_density_2020,
               COALESCE(string_agg(DISTINCT r.ach_location, ', ' ORDER BY r.ach_location), '')
                   AS ach_raw
        FROM (SELECT DISTINCT "County Name" AS county_name,
                     "Population Density 2020" AS population_density_2020
              FROM census_raw) c
        LEFT JOIN (SELECT DISTINCT county, ach_location FROM rhino_pre) r
          ON c.county_name = r.county
        GROUP BY c.county_name, c.population_density_2020
    )
),
temporal AS (
    SELECT CAST(epiweek_str AS INT) AS epiweek_id,
           CAST(week_start_str AS DATE) AS week_start,
           CAST(week_end_str AS DATE) AS week_end,
           season
    FROM (SELECT DISTINCT
                 substr(week_end_str, 1, 4) || lpad(CAST(week AS VARCHAR), 2, '0')
                     AS epiweek_str,
                 week_start_str, week_end_str, season
          FROM rhino_pre)
),
illness AS (
    SELECT epiweek_id, county_id,
           illness_cat AS respiratory_illness_type,
           care_type,
           pct_cleaned AS county_ili_percent,
           state_ili_percent,
           pct_cleaned - state_ili_percent AS deviation_from_state_average
    FROM (
        SELECT b.row_id, b.pos, b.epiweek_id, b.illness_cat, b.care_type,
               b.pct_cleaned, cr.county_id, f.wili AS state_ili_percent
        FROM (SELECT row_id, pos,
                     CAST(substr(week_end_str, 1, 4)
                          || lpad(CAST(week AS VARCHAR), 2, '0') AS INT) AS epiweek_id,
                     county, illness_cat, care_type, pct_cleaned
              FROM rhino_pre) b
        LEFT JOIN county_region cr ON b.county = cr.county_name
        LEFT JOIN fluview_raw f ON b.epiweek_id = f.epiweek
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY b.epiweek_id, cr.county_id, b.illness_cat, b.care_type
            ORDER BY b.row_id, b.pos
        ) = 1
    )
),
hc_joined AS (
    SELECT h.county_id, h.population_density_2020, r.care_type, r.pct_cleaned
    FROM county_region h
    LEFT JOIN (SELECT DISTINCT county, illness_cat, care_type, pct_cleaned
               FROM rhino_pre) r
      ON h.county_name = r.county
),
hc_rated AS (
    SELECT DISTINCT county_id, population_density_2020, care_type,
           AVG(pct_cleaned) OVER (PARTITION BY county_id, care_type) AS rates
    FROM hc_joined
),
hc_collapsed AS (
    SELECT county_id, population_density_2020,
           MAX(CASE WHEN care_type = 'Hospitalizations' THEN rates END) AS hosp,
           MAX(CASE WHEN care_type = 'Emergency Visits' THEN rates END) AS er
    FROM hc_rated
    WHERE population_density_2020 IS NOT NULL
    GROUP BY county_id, population_density_2020
),
healthcare AS (
    SELECT county_id, population_density_2020,
           COALESCE(hosp, 0) AS hospitalization_percent,
           COALESCE(er, 0) AS er_visit_percent,
           COALESCE(hosp / er, 0) AS hospital_to_er_ratio
    FROM hc_collapsed
),
historics AS (
    SELECT DISTINCT year,
           CAST(FLOOR(year / 10) * 10 AS INT) AS decade_year,
           peak_week_id, peak_ili_percent, average_wili_percent,
           peak_ili_percent - average_wili_percent AS peak_vs_avg_diff
    FROM (
        SELECT year, epiweek, wili,
               MAX(wili) OVER (PARTITION BY year) AS peak_ili_percent,
               AVG(wili) OVER (PARTITION BY year) AS average_wili_percent,
               FIRST_VALUE(epiweek) OVER (
                   PARTITION BY year ORDER BY wili DESC, row_id ASC
               ) AS peak_week_id
        FROM (SELECT row_id, epiweek, wili,
                     CAST(substr(CAST(epiweek AS VARCHAR), 1, 4) AS INT) AS year
              FROM fluview_raw)
    )
)
"""


def _fixture_tables(spark: SparkSession):
    rhino_pre = preprocess_rhino(fx.rhino_df(spark))
    census = fx.census_df(spark)
    fluview = fx.fluview_df(spark)
    return rhino_pre, census, fluview


@register(
    "flu_county_region",
    oracle=f"WITH {FLU_CTES} SELECT * FROM county_region",
    doc="county_region dim derivation end-to-end (J1, A1, F7, W1, D1).",
    tags=("flu", "J1", "A1", "F7", "W1", "D1", "P3", "F1", "F2", "F13", "U1", "U3"),
)
def flu_county_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    rhino_pre, census, _ = _fixture_tables(spark)
    return build_county_region(census, rhino_pre)


@register(
    "flu_temporal",
    oracle=f"WITH {FLU_CTES} SELECT * FROM temporal",
    doc="temporal dim derivation (F3-F6, D1, O1).",
    tags=("flu", "F3", "F4", "F5", "F6", "D1"),
)
def flu_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    rhino_pre, _, _ = _fixture_tables(spark)
    return build_temporal(rhino_pre)


@register(
    "flu_illness",
    oracle=f"WITH {FLU_CTES} SELECT * FROM illness",
    doc="illness fact derivation (J2, J3, F9, D2) incl. null state_ili for "
    "epiweeks past the FluView span and null county_id for unmapped ACHs.",
    tags=("flu", "J2", "J3", "F9", "D2"),
)
def flu_illness(spark: SparkSession, sf_dir: str) -> DataFrame:
    rhino_pre, census, fluview = _fixture_tables(spark)
    cr = build_county_region(census, rhino_pre)
    return build_illness(rhino_pre, cr, fluview)


@register(
    "flu_healthcare",
    oracle=f"WITH {FLU_CTES} SELECT * FROM healthcare",
    doc="healthcare fact derivation (J4, A2, A3, F10, F11, F12) — the "
    "dedup→window-mean→pivot→collapse chain.",
    tags=("flu", "J4", "A2", "A3", "F10", "F11", "F12"),
)
def flu_healthcare(spark: SparkSession, sf_dir: str) -> DataFrame:
    rhino_pre, census, _ = _fixture_tables(spark)
    cr = build_county_region(census, rhino_pre)
    return build_healthcare(rhino_pre, cr)


@register(
    "flu_historics",
    oracle=f"WITH {FLU_CTES} SELECT * FROM historics",
    doc="historics fact derivation (A4, A5, A6, F8, F9, D1) incl. the "
    "within-year max-wili tie resolved to the first occurrence.",
    tags=("flu", "A4", "A5", "A6", "F8", "F9", "D1", "U4"),
)
def flu_historics(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, fluview = _fixture_tables(spark)
    return build_historics(fluview)


@register(
    "flu_pipeline_reconciliation",
    oracle=f"""WITH {FLU_CTES}
    SELECT 'rhino_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM rhino_raw
    UNION ALL
    SELECT 'rhino_pre_exploded', CAST(COUNT(*) AS BIGINT) FROM rhino_pre
    UNION ALL
    SELECT 'rhino_pre_null_county', CAST(COUNT(*) AS BIGINT)
    FROM rhino_pre WHERE county IS NULL
    UNION ALL
    SELECT 'rhino_pre_null_pct', CAST(COUNT(*) AS BIGINT)
    FROM rhino_pre WHERE pct_cleaned IS NULL
    UNION ALL
    SELECT 'county_region', CAST(COUNT(*) AS BIGINT) FROM county_region
    UNION ALL
    SELECT 'temporal', CAST(COUNT(*) AS BIGINT) FROM temporal
    UNION ALL
    SELECT 'illness', CAST(COUNT(*) AS BIGINT) FROM illness
    ORDER BY stage
    """,
    doc="Pipeline row-count reconciliation — the reference's inline QC "
    "prints (flu_data_airflow_v2.py:77,129,182-189: raw counts, "
    "invalid/unmapped counties, empty-percent tallies) promoted to a "
    "first-class audited query: row counts at every stage boundary of "
    "the illness build (raw -> filtered+exploded -> null-county and "
    "null-percent losses -> final facts, plus both dims). This is the "
    "conservation ledger a production pipeline alerts on: explode "
    "fan-out, filter losses, and dedup collapses each become an "
    "explicit delta between adjacent stages instead of silent row "
    "drift. Scale shape: each stage count is a partial-aggregated "
    "COUNT over the already-defined stage frame; Spark evaluates the "
    "shared lineage once per branch (cheap at dim scale; at fact "
    "scale the stage frames get cached or the counts ride the "
    "write's task metrics instead).",
    tags=("flu", "dq", "A11", "P7"),
)
def flu_pipeline_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = fx.rhino_df(spark)
    rhino_pre, census, fluview = _fixture_tables(spark)
    cr = build_county_region(census, rhino_pre)
    tmp = build_temporal(rhino_pre)
    ill = build_illness(rhino_pre, cr, fluview)

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )

    return (
        stage("rhino_raw", raw)
        .unionByName(stage("rhino_pre_exploded", rhino_pre))
        .unionByName(
            stage(
                "rhino_pre_null_county",
                rhino_pre.filter(F.col("county").isNull()),
            )
        )
        .unionByName(
            stage(
                "rhino_pre_null_pct",
                rhino_pre.filter(F.col("pct_cleaned").isNull()),
            )
        )
        .unionByName(stage("county_region", cr))
        .unionByName(stage("temporal", tmp))
        .unionByName(stage("illness", ill))
        .orderBy("stage")
    )
