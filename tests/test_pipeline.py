"""End-to-end pipeline run (the reference DAG's task graph,
dags/flu_data_airflow_v2.py:747-764): land → build → assert DDL →
idempotent ingest → QC, twice — the second run must be a no-op."""

from __future__ import annotations

from flu_data_pipeline_spark.pipeline import run_pipeline
from flu_data_pipeline_spark.schemas import STAR_SCHEMA


def test_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")

    first = run_pipeline(spark, landing, warehouse)
    assert set(first["appended"]) == set(STAR_SCHEMA)
    # fixture-pinned cardinalities (FIXTURES.md): 39 WA counties, 4
    # epiweeks, 3 historic years
    assert first["qc"]["county_region"]["rows"] == 39
    assert first["qc"]["temporal"]["rows"] == 4
    assert first["qc"]["historics"]["rows"] == 3
    for name, rep in first["qc"].items():
        assert rep["rows"] > 0, name
        assert rep["pk_duplicates"] == 0, name
        assert first["appended"][name] == rep["rows"], name
        # observe() telemetry rode the load action itself (no extra
        # pass): built rows match loaded rows, and the in-flight null
        # counts match a direct recount of the warehouse table (illness
        # legitimately carries null county_ids — the reference's
        # NaN-preserving left join, flu_data_airflow_v2.py:368-373 —
        # so accuracy, not zero, is the contract)
        obs = first["observed"][name]
        assert obs["rows_built"] == rep["rows"], (name, obs)
        import os as _os

        from pyspark.sql import functions as _F

        wh = spark.read.parquet(_os.path.join(warehouse, name))
        for k, v in obs.items():
            if k.startswith("null_"):
                col = k[len("null_"):]
                direct = wh.filter(_F.col(col).isNull()).count()
                assert v == direct, (name, k, v, direct)

    second = run_pipeline(spark, landing, warehouse)
    assert all(n == 0 for n in second["appended"].values()), second["appended"]
    assert second["qc"] == first["qc"]


def test_pipeline_accepts_injected_fetchers(spark, tmp_path):
    # the HTTP path: a fetcher delivers the census payload bytes
    import csv as _csv
    from io import StringIO

    from flu_data_pipeline_spark.plans import flu_fixtures as fx

    buf = StringIO()
    w = _csv.writer(buf)
    w.writerow(fx.CENSUS_COLS)
    w.writerows(fx.CENSUS_ROWS)
    payload = buf.getvalue().encode()

    out = run_pipeline(
        spark,
        str(tmp_path / "landing"),
        str(tmp_path / "warehouse"),
        fetchers={
            "census": (
                "https://example.invalid/census.csv",
                lambda url: payload,
            )
        },
    )
    assert out["qc"]["county_region"]["rows"] == 39


def _warehouse_rows(spark, warehouse):
    import os as _os
    from collections import Counter

    def rows(name):
        df = spark.read.parquet(_os.path.join(warehouse, name))
        return Counter(tuple(r) for r in df.collect())

    return {name: rows(name) for name in STAR_SCHEMA}


def test_concurrent_ingest_equals_one_table_calls(spark, tmp_path):
    """One ingest call loads the five tables concurrently; it must give the
    same report and warehouse as one single-table call per table (the
    inline path)."""
    from flu_data_pipeline_spark import pipeline as pl

    landing = {
        name: pl.collect(name, str(tmp_path / "landing"))
        for name in ("rhino", "census", "fluview")
    }
    together = str(tmp_path / "together")
    apart = str(tmp_path / "apart")

    appended, observed = {}, {}
    for name, df in pl.build_tables(spark, landing).items():
        a, o = pl.ingest(spark, {name: df}, apart)
        appended.update(a)
        observed.update(o)

    got = pl.ingest(spark, pl.build_tables(spark, landing), together)
    assert got == (appended, observed)
    assert _warehouse_rows(spark, together) == _warehouse_rows(spark, apart)


def test_empty_first_load_creates_table(spark, tmp_path):
    """A feed that lands only its header appends 0 rows; the first load
    still creates the (schema-only) table, so qc reads it, and a re-run
    appends nothing anywhere."""
    import csv as _csv
    from io import StringIO

    from flu_data_pipeline_spark.plans import flu_fixtures as fx

    buf = StringIO()
    _csv.writer(buf).writerow(fx.FLUVIEW_COLS)
    payload = buf.getvalue().encode()
    fetchers = {"fluview": ("https://example.invalid/fluview.csv", lambda url: payload)}
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")

    first = run_pipeline(spark, landing, warehouse, fetchers=fetchers)
    assert first["appended"]["historics"] == 0
    assert first["qc"]["historics"] == {"rows": 0, "pk_duplicates": 0}

    second = run_pipeline(spark, landing, warehouse, fetchers=fetchers)
    assert all(n == 0 for n in second["appended"].values()), second["appended"]
    assert second["qc"] == first["qc"]


def test_ingest_and_qc_jobs_carry_their_table_label(spark, tmp_path):
    """Every job the five-table ingest and qc submit carries its table's
    label after the caller's own description; the one-table inline path
    gives the caller its description back."""
    from perfbench.spans import StatusStore

    from flu_data_pipeline_spark import pipeline as pl
    from flu_data_pipeline_spark.operators.materialize import job_label

    landing = {
        name: pl.collect(name, str(tmp_path / "landing"))
        for name in ("rhino", "census", "fluview")
    }
    warehouse = str(tmp_path / "warehouse")
    tables = pl.build_tables(spark, landing)
    store = StatusStore(spark)
    sc = spark.sparkContext

    def labels_of(thunk):
        token = store.mark()
        thunk()
        jobs, _ = store._read()
        return [j.get("description") for j in jobs if j["jobId"] > token[0]]

    with job_label(spark, "dag"):
        ingested = labels_of(lambda: pl.ingest(spark, tables, warehouse))
        checked = labels_of(lambda: pl.qc(spark, warehouse))
        assert sc.getLocalProperty("spark.job.description") == "dag"
    assert set(ingested) == {f"dag/ingest:{t}" for t in STAR_SCHEMA}
    assert set(checked) == {f"dag/qc:{t}" for t in STAR_SCHEMA}

    with job_label(spark, "dag"):
        one = labels_of(
            lambda: pl.ingest(spark, {"historics": tables["historics"]}, warehouse)
        )
        assert sc.getLocalProperty("spark.job.description") == "dag"
    assert set(one) == {"dag/ingest:historics"}
    assert sc.getLocalProperty("spark.job.description") is None
