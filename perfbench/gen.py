"""Seeded inputs for the benchmark workloads.

Two families, both pure functions of ``seed``:

- :func:`write_landing_feeds` lands the three raw flu feeds the ETL DAG
  consumes (RHINO, census, FluView) as CSV files with the exact raw
  headers, including the trailing space in ``1-Week Percent ``. The feeds
  carry every case the pipeline must handle: Statewide and Unassigned rows
  (filtered), Spokane's two ACH regions, a Location absent from the ACH
  map, blank / whitespace / junk percents, census counties outside every
  ACH, a null density, a within-year tie on the FluView maximum, and a
  final RHINO calendar year past the FluView span.
- :func:`write_operator_tables` writes the TPC-H-ish star schema plus the
  ``documents`` table, the tables the listed registry queries read, with
  the column names, types and value domains of the repository's sf0.01
  test data.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np

from flu_data_pipeline_spark.plans import flu_fixtures as fx
from flu_data_pipeline_spark.schemas import ACH_TO_COUNTIES, WA_COUNTIES

# ---------------------------------------------------------------------------
# Landing feeds
# ---------------------------------------------------------------------------

#: Filtered by the pipeline, plus one Location the ACH map does not know.
EXTRA_LOCATIONS = ("Statewide", "Unassigned ACH Region", "Pierce County ACH")
LOCATIONS = tuple(ACH_TO_COUNTIES) + EXTRA_LOCATIONS
ILLNESSES = ("Flu", "COVID-19", "RSV")
CARE_TYPES = ("Hospitalizations", "Emergency Visits")
DEMOGRAPHICS = (
    "Overall", "Age 0-4", "Age 5-17", "Age 18-49", "Age 50-64", "Age 65+",
    "Female", "Male", "Hispanic", "Non-Hispanic White", "Non-Hispanic Black",
    "Non-Hispanic Asian", "Rural", "Urban", "Medicaid", "Commercial",
)
_JUNK = ("suppressed", "N/A", "<5", "--")
#: The last RHINO calendar year; FluView stops the year before it, so the
#: final season's post-New-Year weeks have no state ILI match.
LAST_YEAR = 2025


def _weeks(seasons: int) -> list[tuple[str, str, str, int]]:
    """(Season, Week Start, Week End, Week) for ``seasons`` 52-week
    seasons ending in :data:`LAST_YEAR`. Week numbers come from the day of
    the year of Week End, so ``year(Week End) || Week`` is unique."""
    start = dt.date(LAST_YEAR - seasons, 10, 1)
    start += dt.timedelta(days=(6 - start.weekday()) % 7)  # first Sunday
    out = []
    for s in range(seasons):
        label = f"{start.year + s}-{start.year + s + 1}"
        for w in range(52):
            ws = start + dt.timedelta(weeks=52 * s + w)
            we = ws + dt.timedelta(days=6)
            week = (we.timetuple().tm_yday - 1) // 7 + 1
            out.append((label, ws.isoformat(), we.isoformat(), week))
    return out


def _percents(rng: np.random.Generator, n: int) -> list[str]:
    """Percent strings: ~4% blank, ~3% whitespace, ~2% junk, a few with
    padding the cleaner must trim, the rest one-decimal numbers."""
    kind = rng.random(n)
    vals = rng.gamma(2.0, 4.0, n)
    junk = rng.integers(0, len(_JUNK), n)
    out = []
    for k, v, j in zip(kind, vals, junk):
        if k < 0.04:
            out.append("")
        elif k < 0.07:
            out.append("   ")
        elif k < 0.09:
            out.append(_JUNK[j])
        elif k < 0.11:
            out.append(f" {v:.1f} ")
        else:
            out.append(f"{v:.1f}")
    return out


def rhino_rows(seed: int, seasons: int, demographics: int) -> list[tuple]:
    rng = np.random.default_rng([seed, 1])
    demos = DEMOGRAPHICS[:demographics]
    keys = [
        (week, loc, ill, care, demo)
        for week in _weeks(seasons)
        for loc in LOCATIONS
        for ill in ILLNESSES
        for care in CARE_TYPES
        for demo in demos
    ]
    pcts = _percents(rng, len(keys))
    return [
        (i, season, ws, we, wk, loc, ill, care, demo, pct)
        for i, (((season, ws, we, wk), loc, ill, care, demo), pct) in enumerate(
            zip(keys, pcts)
        )
    ]


def census_rows(seed: int) -> list[tuple]:
    rng = np.random.default_rng([seed, 2])
    dens = np.round(rng.lognormal(3.5, 1.3, len(WA_COUNTIES)), 1)
    null_at = int(rng.integers(0, len(WA_COUNTIES)))
    return [
        (name, None if i == null_at else float(d))
        for i, (name, d) in enumerate(zip(WA_COUNTIES, dens))
    ]


def fluview_rows(seed: int, seasons: int) -> list[tuple]:
    rng = np.random.default_rng([seed, 3])
    rows = []
    for year in range(LAST_YEAR - seasons - 1, LAST_YEAR):
        wili = np.round(rng.gamma(2.0, 1.2, 52) + 0.1, 2)
        # a within-year tie on the maximum: idxmax keeps the earlier week
        top = int(np.argmax(wili))
        later = int(rng.integers(top, 52))
        wili[later] = wili[top]
        for wk in range(52):
            rows.append((
                len(rows), "wa", year * 100 + wk + 1, float(wili[wk]),
                int(rng.integers(50, 900)), int(rng.integers(1000, 10000)),
            ))
    return rows


def write_landing_feeds(
    landing_dir: str, seed: int, seasons: int, demographics: int
) -> dict[str, str]:
    """Write ``rhino.csv``, ``census.csv`` and ``fluview.csv``; returns
    feed name → path, the shape ``pipeline.build_tables`` takes."""
    os.makedirs(landing_dir, exist_ok=True)
    feeds = {
        "rhino": (fx.RHINO_COLS, rhino_rows(seed, seasons, demographics)),
        "census": (fx.CENSUS_COLS, census_rows(seed)),
        "fluview": (fx.FLUVIEW_COLS, fluview_rows(seed, seasons)),
    }
    paths = {}
    for name, (cols, rows) in feeds.items():
        path = os.path.join(landing_dir, f"{name}.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(cols)
            w.writerows(rows)
        paths[name] = path
    return paths


# ---------------------------------------------------------------------------
# Operator tables (the shape of the repository's sf0.01 test data)
# ---------------------------------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("small", "red", "blue", "hot", "cold", "big", "green", "old")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve")
_LANGS = ("en", "es", "zh", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, int((b - a).astype(int)) + 1, n)
    return (a + d).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def operator_tables(seed: int) -> dict[str, dict]:
    """Column dicts per table, with the row counts of the repository's
    sf0.01 test data."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_li, n_doc = 15000, 60000, 500

    def pick(options, n, p=None):
        return np.asarray(options, dtype=object)[
            rng.choice(len(options), n, p=p)
        ]

    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(
            ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], dtype=object
        ),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(n_cust)], dtype=object),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(n_supp)], dtype=object),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(
            [f"{a} {b}" for a, b in zip(pick(_ADJ, n_part), pick(_NOUN, n_part))],
            dtype=object,
        ),
        "p_brand": np.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], dtype=object
        ),
        "p_type": pick(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(_PRIORITIES, n_ord),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(("A", "N", "R"), n_li),
        "l_linestatus": pick(("F", "O"), n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    }
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (what the dedup
            # operators look for)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(8, 90))
            texts.append(" ".join(pick(_WORDS, n_words)))
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": pick(_LANGS, n_doc, p=_LANG_P),
        "source": np.array(
            [f"src{s}" for s in rng.integers(0, 20, n_doc)], dtype=object
        ),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }
    return t


def write_operator_tables(sf_dir: str, seed: int) -> None:
    """Write one ``<table>.parquet`` file per table under ``sf_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    for name, cols in operator_tables(seed).items():
        arrays = {col: pa.array(values) for col, values in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(sf_dir, f"{name}.parquet"))
