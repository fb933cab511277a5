"""SparkSession factory.

Defaults are chosen for correctness-parity with the DuckDB oracle (UTC
session timezone, ANSI off so casts return null on junk — mirroring the
reference's try/except cleaner at flu_data_airflow_v2.py:142-154) and for
scale (AQE, skew-join handling, partition coalescing). On a real cluster the
same config applies; only ``master`` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> str:
    """The local master size and default shuffle partition count,
    ``$SPARK_GRAFT_CPUS`` (32 when unset), read when a session is built
    or configured, not when this module is imported."""
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


#: Correctness- and perf-load-bearing confs that are runtime-settable
#: (`spark.conf.set` on an already-built session). Every registered query
#: builder applies these to the session it is handed (see
#: plans/registry.py), so the engine's semantics do NOT depend on who
#: built the SparkSession — a stock session (ANSI on, host timezone, no
#: nanos handling) behaves identically to one from :func:`get_spark`.
ENGINE_RUNTIME_CONFS: dict[str, str] = {
    # parquet TIMESTAMP(NANOS) (events.ts) is otherwise unreadable: read
    # as long ns-since-epoch; catalog.load_table converts to timestamp.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Pin date/timestamp semantics so results hash-match the DuckDB
    # oracle regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # The engine's SQL dialect is non-ANSI: CAST('junk' AS DOUBLE) → null,
    # x/0 → null — the reference's try/except cleaner semantics
    # (flu_data_airflow_v2.py:142-154). Cleaners additionally use
    # try_cast so the core paths hold even if this conf is rejected.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The engine's Python DataSource (sources/pysource.py) implements
    # pushFilters; Spark 4.1 hard-fails such readers unless the planner
    # gate is on.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Broadcast only truly small build sides (see get_spark rationale).
    "spark.sql.autoBroadcastJoinThreshold": str(2 * 1024 * 1024),
    # Let AQE rewrite a sort-merge join to a shuffled-hash join at
    # runtime when EVERY post-shuffle partition is under this bound
    # (default 0 = never). The decision is made from actual partition
    # bytes, so it is scale-adaptive by construction: partitions above
    # the bound keep sort-merge, and the bound itself is a per-task
    # build-side memory promise (64 MiB) independent of corpus size —
    # the guide-§3.1 middle ground between broadcast and SMJ. Measured
    # at sf0.1 (r11): join-heavy set -9% (q7 -27%, q18 -16%), zero
    # regressions, self-proving plan queries (DPP, bucketed-no-shuffle)
    # unaffected.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold":
        str(64 * 1024 * 1024),
    # InferFiltersFromGenerate pushes full generator expressions below
    # repartitions into the scan (measured 17x on HOF-heavy explodes).
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-built session.

    Idempotent and cheap; called by every registered builder and by
    :func:`flu_data_pipeline_spark.catalog.load_table` so harnesses that
    hand us their own default-config SparkSession still get reference
    semantics. Non-settable confs are skipped rather than failing the
    query (the expression-level guards — try_cast, explicit UTC-safe
    projections — keep core semantics intact either way).

    A single sentinel conf.get short-circuits the ~12 py4j round-trips
    when the session is already configured (builders are called in tight
    best-of-N bench loops; the apply must not show up in query timings).
    """
    sentinel = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        if spark.conf.get(sentinel, "unset") == ENGINE_RUNTIME_CONFS[sentinel]:
            return spark
    except Exception:
        pass
    for key, value in ENGINE_RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    # Respect an explicitly tuned shuffle partitioning; only replace
    # Spark's stock 200 default, which is wrong for local correctness
    # runs (200 tiny tasks) and for any tuned cluster alike.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", default_cpus()
            )
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "flu_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    - AQE on: runtime coalescing of post-shuffle partitions, skew-join
      splitting, and dynamic join-strategy switching — the knobs that make a
      fixed plan survive a 100x scale-up.
    - ``spark.sql.session.timeZone=UTC``: pins date/timestamp semantics so
      results hash-match oracles regardless of host TZ.
    - ANSI mode off: ``CAST('junk' AS DOUBLE)`` yields null (reference
      semantics for its percent cleaner) instead of raising.
    - Arrow enabled: fast createDataFrame/toPandas and pandas UDFs.
    """
    cpus = default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # parquet TIMESTAMP(NANOS) (events.ts) is otherwise unreadable:
        # read as long ns-since-epoch; catalog.load_table converts to
        # timestamp (integer div by 1000 — no double round-trip).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Broadcast only truly small build sides. A fat threshold forces
        # fact-sized tables through a serial driver-side broadcast build —
        # measurably slower than a parallel shuffle join even at sf0.1 —
        # and would OOM the driver outright at cluster scale. Known-small
        # dims are broadcast explicitly (F.broadcast) in the plans; AQE's
        # runtime join re-selection can still upgrade a shuffle join whose
        # post-filter build side turns out tiny.
        .config("spark.sql.autoBroadcastJoinThreshold", str(2 * 1024 * 1024))
        # AQE SMJ->SHJ rewrite from ACTUAL post-shuffle partition sizes
        # (see ENGINE_RUNTIME_CONFS for the rationale + measurements)
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # InferFiltersFromGenerate synthesizes size(<explode input>)>0 /
        # isnotnull filters; predicate pushdown then substitutes the FULL
        # generator expression and pushes it below repartitions to the
        # scan — for HOF-heavy explode inputs (shingle/hash pipelines)
        # that re-evaluates the whole chain a second time, serially on
        # the scan's partitioning (measured 17x slowdown at sf0.1). Our
        # explode inputs are never mostly-empty, so the rule only hurts.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Whole-stage codegen emits one compiled class per stage; a session
        # that executes hundreds of distinct queries (the registry sweep,
        # the 41-query bench) overflows the JVM's default 240 MB code
        # cache, after which JIT-compiled query code is evicted and
        # re-runs pay multi-second deopt/re-JIT penalties (measured 9 s
        # on a 0.7 s query after a full bench warmup). Launch-time conf;
        # ignored if the JVM already exists, which is fine — the engine
        # still runs, just without the headroom. SPARK_GRAFT_CODE_CACHE
        # overrides the size (used by the bench suite-size-sensitivity
        # experiment, BASELINE.md "JIT code-cache headroom").
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize="
            + os.environ.get("SPARK_GRAFT_CODE_CACHE", "1g"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warn_if_code_cache_not_applied(spark)
    return spark


def _warn_if_code_cache_not_applied(spark: SparkSession) -> None:
    """Detect the silent launch-mode gap in the JIT headroom conf.

    ``spark.driver.extraJavaOptions`` only takes effect when THIS
    process launches the JVM; under an existing gateway or
    ``spark-submit`` the 1g ReservedCodeCacheSize the bench methodology
    relies on silently does not apply, and bench numbers would compare
    different JIT-eviction regimes. Read the live JVM's input arguments
    via the RuntimeMXBean and warn loudly when the requested value is
    absent — detection only, never a failure (the engine is correct
    either way; only steady-state bench timing is affected).
    """
    try:
        jvm_args = list(
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getRuntimeMXBean()
            .getInputArguments()
        )
        def _cache_mb(arg: str) -> float:
            # -XX:ReservedCodeCacheSize=<n>[kKmMgG] → MiB
            val = arg.split("=", 1)[1].strip()
            unit = val[-1].lower()
            scale = {"k": 1 / 1024, "m": 1, "g": 1024}.get(unit)
            return (
                float(val[:-1]) * scale
                if scale is not None
                else float(val) / (1024 * 1024)
            )

        sizes = [
            _cache_mb(str(a))
            for a in jvm_args
            if "-XX:ReservedCodeCacheSize=" in str(a)
        ]
        # any equivalent-or-larger setting (2g, 1024m, …) satisfies the
        # bench methodology; warn only when absent or below 1 GiB
        if not sizes or max(sizes) < 1024:
            import warnings

            warnings.warn(
                "JVM is running WITHOUT -XX:ReservedCodeCacheSize=1g "
                "(pre-existing gateway or spark-submit launch): bench "
                "timings in this session may pay JIT code-cache "
                "eviction after many distinct query plans; pass the "
                "flag through your launcher's driver JVM options for "
                "comparable numbers.",
                RuntimeWarning,
                stacklevel=3,
            )
    except Exception:
        pass  # py4j introspection is best-effort; never block a session
