"""The one definition of "hash-identical": a Spark result against its
DuckDB oracle, the driver's t2 compare.

Two results are equal when their column-name sets are equal, their row
counts are equal, and their :func:`result_key` rows are equal: columns
sorted by name, every cell canonicalized, rows sorted. Row order never
matters; order inside an array does. The cell rules, one per case:

- ``None`` stays ``None``.
- NaN becomes ``"NaN"``, at any depth.
- A float or a ``Decimal`` is rounded to 6 dp as a float, and a rounded
  zero is ``0.0``: engines that agree to 1e-9 either side of zero agree.
- A ``date`` or ``datetime`` becomes its ``str``.
- A struct, a pyspark ``Row`` or a DuckDB ``dict``, becomes a tuple of
  ``(field, value)`` pairs sorted by field.
- A map becomes its items, ``(key, value)`` pairs sorted by key. Spark
  fetches a map as a ``dict``; DuckDB fetches one as
  ``{"key": [...], "value": [...]}``, which is read as its zipped pairs
  (so a struct of exactly two equal-length list fields ``key`` and
  ``value`` reads as a map too, and would fail against Spark's ``Row``).
- A list or tuple (an array) is canonicalized element by element, and
  its order is kept.
- Anything else (int, bool, str, bytes) is compared as it is.

Fetch DuckDB results with ``fetchall()`` (native tuples), never
``fetch_df()``: pandas turns nullable BIGINT columns into float64 and
makes false mismatches. :func:`register_tables` puts a view over every
testdata table present in ``sf_dir`` on a DuckDB connection.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

from pyspark.sql import Row

from flu_data_pipeline_spark.catalog import TESTDATA_TABLES

PLACES = 6


def _items(d: dict):
    """A dict's ``(key, value)`` pairs, a DuckDB MAP's zipped."""
    keys, values = d.get("key"), d.get("value")
    if len(d) == 2 and isinstance(keys, list) and isinstance(values, list) \
            and len(keys) == len(values):
        return zip(keys, values)
    return d.items()


def canonicalize(value):
    """The canonical form of one cell (rules in the module docstring)."""
    if value is None:
        return None
    if isinstance(value, (float, decimal.Decimal)):
        f = float(value)
        if math.isnan(f):
            return "NaN"
        return round(f, PLACES) or 0.0  # -0.0 is falsy: a rounded zero is 0.0
    if isinstance(value, (datetime.date, datetime.datetime)):
        return str(value)
    if isinstance(value, Row):
        value = value.asDict()
    if isinstance(value, dict):
        pairs = ((canonicalize(k), canonicalize(v)) for k, v in _items(value))
        return tuple(sorted(pairs, key=repr))
    if isinstance(value, (list, tuple)):
        return tuple(canonicalize(x) for x in value)
    return value


def result_key(columns, rows):
    """Order-insensitive canonical form: sort columns by name, then rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(repr(canonicalize(row[i])) for i in order) for row in rows)
    return [columns[i] for i in order], canon


def compare(s_cols, s_rows, d_cols, d_rows) -> str | None:
    """``None`` when the Spark and DuckDB results are hash-identical, else
    the first failed check: column set, row count, or the first 3
    mismatched row pairs."""
    if sorted(s_cols) != sorted(d_cols):
        return f"column mismatch spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"row count spark={len(s_rows)} duck={len(d_rows)}"
    pairs = zip(result_key(s_cols, s_rows)[1], result_key(d_cols, d_rows)[1])
    bad = [(i, a, b) for i, (a, b) in enumerate(pairs) if a != b]
    return f"{len(bad)} row mismatches; first 3: {bad[:3]}" if bad else None


def fetch(con, sql: str):
    """``(columns, rows)`` of ``sql`` on DuckDB, rows as native tuples."""
    res = con.execute(sql)
    return [c[0] for c in res.description], res.fetchall()


def register_tables(con, sf_dir: str) -> None:
    """A DuckDB view per testdata table present under ``sf_dir``."""
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
