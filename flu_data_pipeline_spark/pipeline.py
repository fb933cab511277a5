"""End-to-end ETL runner — the reference's Airflow DAG re-expressed as a
dependency-ordered task graph over the engine's components.

Reference graph (dags/flu_data_airflow_v2.py:747-764)::

    [collect_rhino, collect_census, collect_fluview]
        >> create_dataframe_tables >> create_sql_tables
        >> ingest_sql_data >> end

Here::

    [collect_rhino, collect_census, collect_fluview]   # land raw CSVs
        >> build_tables                                # 5 derived tables
        >> ingest                                      # idempotent load
        >> qc                                          # PK + row counts

``create_sql_tables`` (DDL, :464-556) has no imperative counterpart on a
schema-on-read warehouse: the typed :data:`schemas.STAR_SCHEMA` structs
ARE the DDL, asserted against every build output before ingest. The
idempotent load is the anti-join append (``ON CONFLICT DO NOTHING``,
:559-733), so re-running the whole pipeline appends zero rows — the same
re-run safety the reference gets from staging COPY + PK constraints. The
reference's per-table "Table N data ingested" prints (:616,645,672,703,
736) become the returned report dict.

The five loads run concurrently, and so do the five qc checks, through
:func:`operators.materialize.overlap` (one driver thread per table), so
the executors fill one table's idle gaps with another's tasks. That is
safe because each load writes its own warehouse directory, each table
has its own ``Observation``, and no cross-table constraint applies at
load time (the reference's foreign keys are not enforced here; FK
orphans are a data-quality check on the stored tables). The cost: every
load caches its increment until its write ends, so peak executor
storage is the sum of the five cached increments, not the largest one.
A one-table dict runs inline on the calling thread. Every job a load or
a check submits carries the label ``ingest:<table>`` / ``qc:<table>``
(:func:`operators.materialize.job_label`).

Collectors land driver-side files exactly as the reference does (pandas
``to_csv`` of an HTTP/REST payload, :72,219,263-278): pass ``fetchers``
to pull real feeds through :func:`sources.readers.fetch_to_landing`; by
default the embedded fixture snapshots land (this sandbox is
network-free). Everything downstream of landing is a distributed,
schema-pinned Spark plan.
"""

from __future__ import annotations

import csv
import os
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from flu_data_pipeline_spark.catalog import read_parquet
from flu_data_pipeline_spark.operators.materialize import job_label, overlap
from flu_data_pipeline_spark.plans import flu_fixtures as fx
from flu_data_pipeline_spark.plans.flu_tables import derive_tables, preprocess_rhino
from flu_data_pipeline_spark.schemas import PRIMARY_KEYS, STAR_SCHEMA
from flu_data_pipeline_spark.session import ensure_session_defaults
from flu_data_pipeline_spark.sources.readers import fetch_to_landing, read_csv
from flu_data_pipeline_spark.sources.writers import (
    idempotent_append,
    primary_key_counts,
)

#: (filename, fixture rows, fixture header) per source feed
_FIXTURE_FEEDS = {
    "rhino": ("rhino.csv", lambda: fx.RHINO_ROWS, fx.RHINO_COLS),
    "census": ("census.csv", lambda: fx.CENSUS_ROWS, fx.CENSUS_COLS),
    "fluview": ("fluview.csv", lambda: fx.FLUVIEW_ROWS, fx.FLUVIEW_COLS),
}

_RAW_SCHEMAS = {
    "rhino": fx.RHINO_SCHEMA,
    "census": fx.CENSUS_SCHEMA,
    "fluview": fx.FLUVIEW_SCHEMA,
}


def collect(
    name: str,
    landing_dir: str,
    fetchers: dict[str, tuple[str, Callable[[str], bytes]]] | None = None,
) -> str:
    """Land one raw feed as a CSV file (collect_* task). With a fetcher,
    this is the reference's HTTP/REST pull; without, the embedded
    fixture snapshot is written driver-side (same shape, same headers —
    including the '1-Week Percent ' trailing space)."""
    filename, rows, cols = _FIXTURE_FEEDS[name]
    if fetchers and name in fetchers:
        url, fetcher = fetchers[name]
        return fetch_to_landing(url, landing_dir, filename, fetcher)
    os.makedirs(landing_dir, exist_ok=True)
    path = os.path.join(landing_dir, filename)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(cols)
        w.writerows(rows())
    return path


def build_tables(
    spark: SparkSession, landing: dict[str, str]
) -> dict[str, DataFrame]:
    """create_dataframe_tables (:320-461): schema-pinned scans of the
    landing files → the five derived tables as lazy Spark plans."""
    rhino_pre = preprocess_rhino(
        read_csv(spark, landing["rhino"], _RAW_SCHEMAS["rhino"])
    )
    census = read_csv(spark, landing["census"], _RAW_SCHEMAS["census"])
    fluview = read_csv(spark, landing["fluview"], _RAW_SCHEMAS["fluview"])
    return derive_tables(rhino_pre, census, fluview)


def assert_schemas(tables: dict[str, DataFrame]) -> None:
    """The DDL step: every build output must carry exactly the declared
    star-schema columns (types are asserted by the typed builders)."""
    for name, df in tables.items():
        want = [f.name for f in STAR_SCHEMA[name].fields]
        have = df.columns
        if have != want:
            raise ValueError(
                f"{name}: columns {have} != declared schema {want}"
            )


def ingest(
    spark: SparkSession, tables: dict[str, DataFrame], warehouse_dir: str
) -> tuple[dict[str, int], dict[str, dict]]:
    """Idempotent warehouse load (:559-733): anti-join append per table,
    keyed on the logical PK; returns (rows appended, observed metrics)
    per table. The tables load concurrently (see the module docstring).

    In-flight metrics ride ``df.observe`` (an Observation per table):
    build-output row count and per-PK-column null counts are accumulated
    DURING the load action itself — zero extra passes over the data,
    which is the only affordable way to get load telemetry at 100 TB
    (a separate count()+null-profile would re-run the whole build).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    os.makedirs(warehouse_dir, exist_ok=True)

    def load(name: str, df: DataFrame) -> tuple[int, dict]:
        obs = Observation(f"load_{name}")
        metrics = [F.count(F.lit(1)).alias("rows_built")]
        for k in PRIMARY_KEYS[name]:
            metrics.append(
                F.sum(F.col(k).isNull().cast("long")).alias(f"null_{k}")
            )
        with job_label(spark, f"ingest:{name}"):
            n = idempotent_append(
                spark,
                df.observe(obs, *metrics),
                os.path.join(warehouse_dir, name),
                PRIMARY_KEYS[name],
            )
        return n, dict(obs.get)

    loaded = overlap(*(partial(load, n, df) for n, df in tables.items()))
    appended = {n: rows for n, (rows, _) in zip(tables, loaded)}
    observed = {n: obs for n, (_, obs) in zip(tables, loaded)}
    return appended, observed


def qc(spark: SparkSession, warehouse_dir: str) -> dict[str, dict[str, int]]:
    """Post-load checks (the reference's per-table confirmations, made
    assertable): warehouse row count and PK-duplicate count per table,
    both from one read of the stored table; the tables run concurrently."""

    def check(name: str) -> dict[str, int]:
        with job_label(spark, f"qc:{name}"):
            df = read_parquet(spark, os.path.join(warehouse_dir, name))
            rows, dups = primary_key_counts(df, name)
        return {"rows": rows, "pk_duplicates": dups}

    return dict(zip(STAR_SCHEMA, overlap(*(partial(check, n) for n in STAR_SCHEMA))))


def run_pipeline(
    spark: SparkSession,
    landing_dir: str,
    warehouse_dir: str,
    fetchers: dict[str, tuple[str, Callable[[str], bytes]]] | None = None,
) -> dict:
    """Execute the full DAG; returns the run report. Safe to re-run:
    the second invocation lands the same files and appends zero rows."""
    ensure_session_defaults(spark)
    landing = {name: collect(name, landing_dir, fetchers) for name in _FIXTURE_FEEDS}
    tables = build_tables(spark, landing)
    assert_schemas(tables)
    appended, observed = ingest(spark, tables, warehouse_dir)
    return {
        "landing": landing,
        "appended": appended,
        "observed": observed,
        "qc": qc(spark, warehouse_dir),
    }
