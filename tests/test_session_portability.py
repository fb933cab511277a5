"""Session-portability contract (VERDICT r1 items 1/2/6).

The engine must produce identical results no matter who built the
SparkSession. These tests force driver-stock confs and verify that
(a) ensure_session_defaults flips the load-bearing ones back at runtime,
(b) the events table is readable on a stock session whichever parquet
timestamp flavor the generator used (TIMESTAMP(NANOS) → long →
timestamp_micros, or TIMESTAMP(MICROS) NTZ → cast), (c) the µs
semantics of ``events.ts`` are pinned against DuckDB so the two engines
can never diverge on the epoch-micros value, and (d) the launch-time
codegen class cache is sized by ``get_spark``, holds a working set
larger than Spark's default, and is warned about when a session runs
with a smaller one.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import load_table
from flu_data_pipeline_spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    ENGINE_RUNTIME_CONFS,
    codegen_compiles,
)

from .conftest import SF_ORACLE, stockify


def test_runtime_confs_recovered_on_stock_session(spark_stock):
    s = stockify(spark_stock)
    assert s.conf.get("spark.sql.ansi.enabled") == "true"
    load_table(s, SF_ORACLE, "nation")
    for key in (
        "spark.sql.ansi.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.session.timeZone",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.excludedRules",
    ):
        assert s.conf.get(key) == ENGINE_RUNTIME_CONFS[key], key
    # stock 200 replaced by the engine default; explicit tunings respected
    assert s.conf.get("spark.sql.shuffle.partitions") != "200"
    s.conf.set("spark.sql.shuffle.partitions", "7")
    load_table(s, SF_ORACLE, "nation")
    assert s.conf.get("spark.sql.shuffle.partitions") == "7"


def test_events_nanos_readable_on_stock_session(spark_stock):
    s = stockify(spark_stock)
    ev = load_table(s, SF_ORACLE, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.limit(5).count() == 5


def test_events_ts_ns_to_us_truncation_pinned(spark_stock, duck):
    """events.ts epoch-micros parity: whichever parquet flavor is on disk
    (NANOS → long → timestamp_micros via integer div 1000, truncation
    toward zero; or MICROS NTZ → cast under the pinned UTC session tz),
    Spark's unix_micros() must agree exactly with DuckDB's epoch_us()."""
    s = stockify(spark_stock)
    ev = load_table(s, SF_ORACLE, "events")
    got = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
        F.sum(F.unix_micros("ts") % 1000000).alias("us_sum"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    want = duck.execute(
        "SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx, "
        "CAST(sum(epoch_us(ts) % 1000000) AS BIGINT) AS us_sum, "
        "count(*) AS n FROM events"
    ).fetchone()
    assert (got["mn"], got["mx"], got["us_sum"], got["n"]) == want


def test_cpu_count_is_read_when_the_session_is_built(spark, monkeypatch):
    """``$SPARK_GRAFT_CPUS`` set after the engine was imported still sizes
    both the local master and the shuffle partitions (the variable used
    to be read once at import, so a late setting gave local[N] with the
    import-time partition count)."""
    from types import SimpleNamespace

    from flu_data_pipeline_spark import session as session_mod
    from flu_data_pipeline_spark.session import ensure_session_defaults

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")

    s = stockify(spark.newSession())
    ensure_session_defaults(s)
    assert s.conf.get("spark.sql.shuffle.partitions") == "3"

    class Built(Exception):
        pass

    class Recorder:
        def __init__(self):
            self.conf = {}

        def appName(self, name):
            return self

        def master(self, master):
            self.conf["master"] = master
            return self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):
            raise Built

    rec = Recorder()
    monkeypatch.setattr(session_mod, "SparkSession", SimpleNamespace(builder=rec))
    try:
        session_mod.get_spark()
    except Built:
        pass
    assert rec.conf["master"] == "local[3]"
    assert rec.conf["spark.sql.shuffle.partitions"] == "3"
    assert rec.conf["spark.sql.codegen.cache.maxEntries"] == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )


def test_second_pass_over_more_than_100_classes_compiles_nothing(spark):
    """A warm loop whose generated classes outnumber Spark's default
    codegen class cache (100 entries, LRU) recompiled every class on
    every pass. 60 distinct one-row projections compile ~120 classes;
    with the cache ``get_spark`` sizes, the second pass over the same 60
    compiles none."""
    def one_pass():
        for i in range(60):
            df = spark.range(1).selectExpr(f"id * 7 + {7_340_033 + i} AS v")
            df.write.format("noop").mode("overwrite").save()

    before = codegen_compiles(spark)
    one_pass()
    first = codegen_compiles(spark) - before
    one_pass()
    second = codegen_compiles(spark) - before - first
    assert first > 100, first
    assert second == 0, second


def test_small_codegen_class_cache_is_warned_about(spark):
    """A session built elsewhere (a harness, ``spark-submit``, an earlier
    ``getOrCreate``) keeps its own static ``maxEntries``; the launch-time
    check reads the live value and warns when it is below the engine's."""
    import warnings
    from types import SimpleNamespace

    from flu_data_pipeline_spark.session import _warn_if_code_cache_not_applied

    def session_with(entries):
        def get(key, default=None):
            if key == "spark.sql.codegen.cache.maxEntries":
                return entries
            return spark.conf.get(key, default)

        return SimpleNamespace(
            conf=SimpleNamespace(get=get), sparkContext=spark.sparkContext
        )

    with pytest.warns(RuntimeWarning, match="maxEntries=100"):
        _warn_if_code_cache_not_applied(session_with("100"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _warn_if_code_cache_not_applied(session_with(str(CODEGEN_CACHE_MAX_ENTRIES)))
        _warn_if_code_cache_not_applied(spark)
    assert not [w for w in caught if "maxEntries" in str(w.message)]
