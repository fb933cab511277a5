"""Output checks: order-insensitive result hashes and the DuckDB oracles.

The hash mirrors the repository's oracle compare (``tests/conftest.py``):
columns sorted by name, floats rounded to 6 dp, dates as strings, rows
sorted, so Spark and DuckDB results of the same relation hash equal.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import hashlib
import math
import os

import duckdb

from flu_data_pipeline_spark.plans import flu_fixtures as fx
from flu_data_pipeline_spark.plans.flu_tables import FLU_CTES
from flu_data_pipeline_spark.schemas import STAR_SCHEMA


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return str(v)
    if hasattr(v, "asDict"):  # a struct as a pyspark Row (a tuple subclass)
        return _canon(v.asDict())
    if isinstance(v, dict):  # a struct from DuckDB, or a map
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()


def spark_hash(df) -> str:
    return result_hash(df.columns, [tuple(r) for r in df.collect()])


def duck_hash(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    res = con.execute(sql)
    return result_hash([c[0] for c in res.description], res.fetchall())


def register_tables(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")


# ---------------------------------------------------------------------------
# Warehouse oracle: the registry's FLU_CTES over the landing CSVs
# ---------------------------------------------------------------------------

_CSV_TYPES = {
    "rhino": {f.name: "INTEGER" if f.name in ("row_id", "Week") else "VARCHAR"
              for f in fx.RHINO_SCHEMA.fields},
    "census": {"County Name": "VARCHAR", "Population Density 2020": "DOUBLE"},
    "fluview": {"row_id": "INTEGER", "region": "VARCHAR", "epiweek": "INTEGER",
                "wili": "DOUBLE", "num_ili": "INTEGER", "num_patients": "INTEGER"},
}
_FIXTURE_SQL = {"rhino": fx.RHINO_SQL, "census": fx.CENSUS_SQL, "fluview": fx.FLUVIEW_SQL}


def _read_csv_sql(path: str, types: dict[str, str]) -> str:
    cols = ", ".join(f"'{k}': '{v}'" for k, v in types.items())
    # declared column types, no sniffing: every field reaches the oracle's
    # cleaners as the same string Spark's schema-pinned CSV scan reads
    return (
        f"read_csv('{path}', header=true, delim=',', quote='\"', "
        f"columns={{{cols}}}, auto_detect=false)"
    )


def landing_ctes(landing: dict[str, str]) -> str:
    """FLU_CTES with its rhino_raw, census_raw and fluview_raw CTEs
    reading the landing CSVs instead of the embedded fixture literals."""
    ctes = FLU_CTES
    for feed, fixture_sql in _FIXTURE_SQL.items():
        old = f"{feed}_raw AS (SELECT * FROM {fixture_sql})"
        if old not in ctes:
            raise ValueError(f"FLU_CTES no longer defines {feed}_raw as expected")
        new = f"{feed}_raw AS (SELECT * FROM {_read_csv_sql(landing[feed], _CSV_TYPES[feed])})"
        ctes = ctes.replace(old, new)
    return ctes


def _sorted_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows in the order of their hashed form."""
    res = con.execute(sql)
    cols = [c[0] for c in res.description]
    order = sorted(range(len(cols)), key=cols.__getitem__)
    rows = [tuple(r[i] for i in order) for r in res.fetchall()]
    rows.sort(key=lambda r: repr(tuple(_canon(v) for v in r)))
    return sorted(cols), rows


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9) or (math.isnan(a) and math.isnan(b))
    return _canon(a) == _canon(b)


def same_relation(con: duckdb.DuckDBPyConnection, sql_a: str, sql_b: str) -> bool:
    """The two queries return the same rows, floats equal to 1e-9. The
    engines sum floats in different orders, so a mean can differ in its
    last bits, and rounding both to 6 dp still splits a value that lies
    on a rounding boundary (13.4984375 as 13.498437 and 13.498438)."""
    cols_a, a = _sorted_rows(con, sql_a)
    cols_b, b = _sorted_rows(con, sql_b)
    return cols_a == cols_b and len(a) == len(b) and all(
        len(x) == len(y) and all(_close(u, v) for u, v in zip(x, y))
        for x, y in zip(a, b)
    )


def warehouse_mismatches(landing: dict[str, str], warehouse_dir: str) -> list[str]:
    """Tables whose stored rows differ from the oracle's."""
    ctes = landing_ctes(landing)
    with duckdb.connect() as con:
        return [
            table for table in STAR_SCHEMA
            if not same_relation(
                con,
                f"SELECT * FROM read_parquet('{warehouse_dir}/{table}/*.parquet')",
                f"WITH {ctes} SELECT * FROM {table}",
            )
        ]
