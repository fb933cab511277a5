"""Shared fixtures: one SparkSession per test session, a DuckDB connection
with a view per sf0.01 testdata table, and ``compare_query``, which runs a
builder and its oracle and asserts they are hash-identical under
``flu_data_pipeline_spark.oracle.compare`` (the same compare
``scripts/driver_sweep.py`` uses; its rules are in that module)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flu_data_pipeline_spark.oracle import compare, fetch, register_tables
from flu_data_pipeline_spark.session import get_spark

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="flu_data_pipeline_spark-tests", shuffle_partitions=8)
    yield s


#: What a harness-built SparkSession looks like with none of our confs:
#: ANSI on, nanos parquet unreadable, host (non-UTC) timezone, stock
#: shuffle/broadcast sizing, no optimizer exclusions. The driver-parity
#: gate forces these before EVERY query; builders must recover via
#: ensure_session_defaults (CORRECTNESS_r01: 17/19 failures were
#: session coupling invisible to an engine-session-only suite).
STOCK_CONFS = {
    "spark.sql.ansi.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "false",
    "spark.sql.session.timeZone": "America/New_York",
    "spark.sql.shuffle.partitions": "200",
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
}


def stockify(s):
    """Reset a session to driver-stock confs (undo engine runtime confs)."""
    for k, v in STOCK_CONFS.items():
        s.conf.set(k, v)
    try:
        s.conf.unset("spark.sql.optimizer.excludedRules")
    except Exception:
        pass
    return s


@pytest.fixture(scope="session")
def spark_stock(spark):
    """Separate SQLConf namespace on the shared context, simulating the
    driver's own default-config session."""
    return spark.newSession()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    register_tables(con, SF_ORACLE)
    yield con
    con.close()


def compare_query(spark, duck, name, builder, oracle, sf_dir=SF_ORACLE):
    """Driver-style compare of a Spark builder vs its DuckDB oracle."""
    sdf = builder(spark, sf_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    failure = compare(sdf.columns, s_rows, *fetch(duck, oracle))
    assert failure is None, f"{name}: {failure}"
