"""The reference's serving surface (api/app.py:215-378), Spark-first.

Three report queries + the CSV-export scan, as DataFrame builders over the
five derived tables. Number formatting (``"12.34%"`` strings —
api/app.py:240-251,283-299,324-345) is a serving-edge concern and lives in
:func:`format_report` — stored/queried values stay numeric (SURVEY F15).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flu_data_pipeline_spark.plans.flu_tables import (
    FLU_CTES,
    _fixture_tables,
    derive_tables,
)
from flu_data_pipeline_spark.plans.registry import register

EXPORT_ALLOWLIST = ("county_region", "healthcare", "historics", "illness", "temporal")


# ---------------------------------------------------------------------------
# Report builders (engine scope: numeric results; formatting at the edge)
# ---------------------------------------------------------------------------


def weekly_trends(temporal: DataFrame, illness: DataFrame) -> DataFrame:
    """api/app.py:219-233: LEFT JOIN temporal←illness on epiweek_id, filter
    type-not-null (makes it effectively inner; LEFT kept for parity),
    group by (week_end, epiweek_id, season, type) — season grouped but not
    projected — AVG + COUNT(DISTINCT), HAVING, ORDER BY DESC/ASC, LIMIT 20."""
    t = temporal.alias("t")
    i = illness.alias("i")
    return (
        t.join(i, F.col("t.epiweek_id") == F.col("i.epiweek_id"), "left")
        .filter(F.col("i.respiratory_illness_type").isNotNull())
        .groupBy(
            F.col("t.week_end").alias("week_end"),
            F.col("t.epiweek_id").alias("epiweek_id"),
            F.col("t.season").alias("season"),
            F.col("i.respiratory_illness_type").alias("respiratory_illness_type"),
        )
        .agg(
            F.round(F.avg("i.county_ili_percent"), 6).alias("avg_percent_positive"),
            F.countDistinct("i.county_id").alias("counties_reporting"),
        )
        .filter(F.col("avg_percent_positive").isNotNull())
        .select(
            "week_end",
            "epiweek_id",
            "respiratory_illness_type",
            "avg_percent_positive",
            "counties_reporting",
        )
        .orderBy(F.desc("week_end"), F.asc("respiratory_illness_type"))
        .limit(20)
    )


def healthcare_impact(healthcare: DataFrame, county_region: DataFrame) -> DataFrame:
    """api/app.py:260-274: inner join fact←dim, disjunctive >0 filter,
    group by ACH region, AVGs + COUNT(DISTINCT), ORDER BY DESC NULLS LAST."""
    h = healthcare.alias("h")
    cr = county_region.alias("cr")
    return (
        h.join(F.broadcast(cr), F.col("h.county_id") == F.col("cr.county_id"))
        .filter(
            (F.col("h.hospitalization_percent") > 0)
            | (F.col("h.er_visit_percent") > 0)
        )
        .groupBy(F.col("cr.ach_region").alias("ach_region"))
        .agg(
            F.countDistinct("cr.county_id").alias("counties_in_region"),
            F.round(F.avg("h.population_density_2020"), 6).alias(
                "avg_population_density"
            ),
            F.round(F.avg("h.hospitalization_percent"), 6).alias(
                "avg_hospitalization_percent"
            ),
            F.round(F.avg("h.er_visit_percent"), 6).alias("avg_er_visit_percent"),
            F.round(F.avg("h.hospital_to_er_ratio"), 6).alias(
                "avg_hospital_to_er_ratio"
            ),
        )
        .orderBy(F.col("avg_hospitalization_percent").desc_nulls_last())
    )


def historical_summary(historics: DataFrame) -> DataFrame:
    """api/app.py:307-317: full scan of the 5-row historics table, newest
    year first; floats rounded 6dp for cross-engine hash parity."""
    return historics.select(
        "year",
        "decade_year",
        "peak_week_id",
        F.round("peak_ili_percent", 6).alias("peak_ili_percent"),
        F.round("average_wili_percent", 6).alias("average_wili_percent"),
        F.round("peak_vs_avg_diff", 6).alias("peak_vs_avg_diff"),
    ).orderBy(F.desc("year"))


def export_table(tables: dict[str, DataFrame], name: str) -> DataFrame:
    """api/app.py:348-363: allowlisted SELECT * ... LIMIT 1000."""
    if name not in EXPORT_ALLOWLIST:
        raise ValueError(
            f"Invalid table. Choose from: {', '.join(EXPORT_ALLOWLIST)}"
        )
    return tables[name].limit(1000)


def format_report(rows: list[dict], percent_cols: tuple[str, ...] = (),
                  f3_cols: tuple[str, ...] = (), f1_cols: tuple[str, ...] = ()) -> list[dict]:
    """Serving-edge formatting (api/app.py:240-251 etc.): numeric → display
    strings. Applied AFTER collect; never inside engine tables."""
    out = []
    for row in rows:
        d = dict(row)
        for c in percent_cols:
            if d.get(c) is not None:
                d[c] = f"{d[c]:.2f}%"
        for c in f3_cols:
            if d.get(c) is not None:
                d[c] = f"{d[c]:.3f}"
        for c in f1_cols:
            if d.get(c) is not None:
                d[c] = f"{d[c]:.1f}"
        out.append(d)
    return out


# ---------------------------------------------------------------------------
# Oracle-checked registrations (fixture-backed, like flu_tables)
# ---------------------------------------------------------------------------


def _all_tables(spark: SparkSession):
    return derive_tables(*_fixture_tables(spark))


@register(
    "flu_report_weekly_trends",
    oracle=f"""
    WITH {FLU_CTES}
    SELECT t.week_end, t.epiweek_id, i.respiratory_illness_type,
           ROUND(AVG(i.county_ili_percent), 6) AS avg_percent_positive,
           CAST(COUNT(DISTINCT i.county_id) AS BIGINT) AS counties_reporting
    FROM temporal t
    LEFT JOIN illness i ON t.epiweek_id = i.epiweek_id
    WHERE i.respiratory_illness_type IS NOT NULL
    GROUP BY t.week_end, t.epiweek_id, t.season, i.respiratory_illness_type
    HAVING AVG(i.county_ili_percent) IS NOT NULL
    ORDER BY t.week_end DESC, i.respiratory_illness_type
    LIMIT 20
    """,
    doc="Weekly-trends report end-to-end on the derived tables "
    "(api/app.py:219-233).",
    tags=("flu", "report", "J5", "A7", "A8", "A9", "A10", "O4", "O7"),
)
def flu_report_weekly_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _all_tables(spark)
    return weekly_trends(t["temporal"], t["illness"])


@register(
    "flu_report_healthcare_impact",
    oracle=f"""
    WITH {FLU_CTES}
    SELECT cr.ach_region,
           CAST(COUNT(DISTINCT cr.county_id) AS BIGINT) AS counties_in_region,
           ROUND(AVG(h.population_density_2020), 6) AS avg_population_density,
           ROUND(AVG(h.hospitalization_percent), 6) AS avg_hospitalization_percent,
           ROUND(AVG(h.er_visit_percent), 6) AS avg_er_visit_percent,
           ROUND(AVG(h.hospital_to_er_ratio), 6) AS avg_hospital_to_er_ratio
    FROM healthcare h
    JOIN county_region cr ON h.county_id = cr.county_id
    WHERE h.hospitalization_percent > 0 OR h.er_visit_percent > 0
    GROUP BY cr.ach_region
    ORDER BY avg_hospitalization_percent DESC NULLS LAST
    """,
    doc="Healthcare-impact report end-to-end (api/app.py:260-274).",
    tags=("flu", "report", "J6", "P6", "A7", "A8", "O5"),
)
def flu_report_healthcare_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _all_tables(spark)
    return healthcare_impact(t["healthcare"], t["county_region"])


@register(
    "flu_report_historical_summary",
    oracle=f"""
    WITH {FLU_CTES}
    SELECT year, decade_year, peak_week_id,
           ROUND(peak_ili_percent, 6) AS peak_ili_percent,
           ROUND(average_wili_percent, 6) AS average_wili_percent,
           ROUND(peak_vs_avg_diff, 6) AS peak_vs_avg_diff
    FROM historics
    ORDER BY year DESC
    """,
    doc="Historical-summary report end-to-end (api/app.py:307-317).",
    tags=("flu", "report", "O6", "A12", "F14", "F15"),
)
def flu_report_historical_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _all_tables(spark)
    return historical_summary(t["historics"])


@register(
    "flu_export_county_region",
    oracle=f"WITH {FLU_CTES} SELECT * FROM county_region LIMIT 1000",
    doc="CSV-export scan with allowlist + LIMIT 1000 (api/app.py:348-363).",
    tags=("flu", "S8", "S9", "O7"),
)
def flu_export_county_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _all_tables(spark)
    return export_table(t, "county_region")
