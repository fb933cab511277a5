"""Property tests pinning each rule of ``flu_data_pipeline_spark.oracle``,
the one "hash-identical" compare that pytest's oracle gate and
``scripts/driver_sweep.py`` share."""

from __future__ import annotations

import decimal
import importlib.util
import math
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from flu_data_pipeline_spark.oracle import canonicalize, compare, result_key

SETTINGS = dict(max_examples=60, deadline=None, derandomize=True)

#: Floats on the 6-dp grid: rounding one ulp either side lands back on it.
grid_floats = st.integers(-10**9, 10**9).map(lambda k: k / 1e6)
moderate_floats = st.floats(-1e6, 1e6, allow_nan=False)
field_names = st.text("abcdefgh", min_size=1, max_size=4)


def key(value):
    """The key of a one-cell result."""
    return result_key(["c"], [(value,)])


def test_negative_zero_and_positive_zero_give_equal_keys():
    assert key(-1e-9) == key(1e-9)
    assert repr(canonicalize(-1e-9)) == repr(canonicalize(1e-9)) == "0.0"


@settings(**SETTINGS)
@given(st.floats(-4e-7, 4e-7))
def test_values_rounding_to_zero_give_the_key_of_zero(x):
    assert key(x) == key(0.0) == key(-0.0)


@settings(**SETTINGS)
@given(moderate_floats)
def test_values_1e5_apart_give_different_keys(x):
    assert key(x) != key(x + 1e-5)


def test_nan_at_top_level():
    assert canonicalize(float("nan")) == "NaN"
    assert key(float("nan")) == key(decimal.Decimal("NaN"))
    assert compare(["c"], [(float("nan"),)], ["c"], [(float("nan"),)]) is None


@settings(**SETTINGS)
@given(st.lists(st.one_of(grid_floats, st.just(math.nan)), max_size=6))
def test_nan_inside_an_array(xs):
    assert canonicalize([*xs, float("nan")])[-1] == "NaN"
    assert key([*xs, float("nan")]) == key([*xs, decimal.Decimal("NaN")])


@settings(**SETTINGS)
@given(st.lists(grid_floats, min_size=1, max_size=8), st.booleans())
def test_array_of_doubles_differing_in_the_last_ulp_gives_equal_keys(xs, up):
    ys = [math.nextafter(x, math.inf if up else -math.inf) for x in xs]
    assert xs != ys
    assert key(xs) == key(ys)
    assert compare(["a"], [(xs,)], ["a"], [(ys,)]) is None


@settings(**SETTINGS)
@given(st.dictionaries(field_names, st.one_of(st.none(), grid_floats,
                                              st.lists(grid_floats, max_size=3)),
                       min_size=1, max_size=5))
def test_row_equals_the_equivalent_dict(fields):
    spark_struct = Row(**fields)
    duck_struct = dict(reversed(fields.items()))
    assert key(spark_struct) == key(duck_struct)
    # a struct inside an array too
    assert key([spark_struct]) == key([duck_struct])


def test_row_and_dict_with_different_values_differ():
    assert key(Row(a=1.0, b=2.0)) != key({"a": 1.0, "b": 2.5})


def test_map_from_spark_equals_the_duckdb_map_form():
    spark_map = {"x": 1.0, "y": None}
    duck_map = {"key": ["y", "x"], "value": [None, 1.0]}
    assert key(spark_map) == key(duck_map)


@settings(**SETTINGS)
@given(st.decimals(-10**6, 10**6, places=6, allow_nan=False, allow_infinity=False))
def test_decimal_equals_float(d):
    assert key(d) == key(float(d))


@st.composite
def result_and_permutations(draw):
    cols = draw(st.lists(field_names, min_size=1, max_size=4, unique=True))
    cell = st.one_of(st.none(), grid_floats, st.integers(), st.text(max_size=3))
    rows = draw(st.lists(st.tuples(*[cell] * len(cols)), max_size=8))
    col_order = draw(st.permutations(range(len(cols))))
    row_order = draw(st.permutations(range(len(rows))))
    p_cols = [cols[i] for i in col_order]
    p_rows = [tuple(rows[r][i] for i in col_order) for r in row_order]
    return cols, rows, p_cols, p_rows


@settings(**SETTINGS)
@given(result_and_permutations())
def test_permuting_columns_or_rows_leaves_the_key_unchanged(case):
    cols, rows, p_cols, p_rows = case
    assert result_key(cols, rows) == result_key(p_cols, p_rows)
    assert compare(cols, rows, p_cols, p_rows) is None


def test_compare_reports_the_first_failed_check():
    assert "column mismatch" in compare(["a"], [], ["b"], [])
    assert "row count" in compare(["a"], [(1,)], ["a"], [])
    assert "1 row mismatches" in compare(["a"], [(1,)], ["a"], [(2,)])


def _driver_sweep():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "scripts", "driver_sweep.py")
    spec = importlib.util.spec_from_file_location("driver_sweep", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_driver_sweep_rejects_unknown_names_before_spark_starts(monkeypatch, capsys):
    sweep = _driver_sweep()

    def no_session(engine):
        pytest.fail("a session was built for an unknown query name")

    monkeypatch.setattr(sweep, "build_session", no_session)
    assert sweep.main(["--only", "pricing_summary,no_such_query"]) == 2
    assert "no_such_query" in capsys.readouterr().err
