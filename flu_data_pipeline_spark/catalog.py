"""Table catalog: the parquet scan layer and its schema resolution.

The driver test data (TESTDATA.md) is a TPC-H-ish star schema plus
``events`` (event stream), ``documents`` (text corpus) and ``embeddings``
(vector table). All queries in :mod:`flu_data_pipeline_spark.plans` load
through here so the scan layer is a single choke point (one place to switch
to bucketed tables / a real metastore at scale).

The choke point also owns schema resolution, the job a metastore does for
a warehouse. A schema-inferring ``spark.read.parquet`` submits a one-task
Spark job to read a footer on every call, even when the files have not
changed. :func:`read_parquet` infers a path's schema once and memoizes it
per absolute path; later reads of the same file state pass the memoized
schema and submit no job. The identity of a file state is the sorted
``(relpath, inode, mtime_ns, size)`` of every file under the path plus
the session confs that change what inference returns
(:data:`INFERENCE_CONFS`), so any rewrite, append or conf flip
re-infers. Its blind spot: a file rewritten in place keeping the same
inode, size and ``mtime_ns`` keeps its old schema. The memo is in-process
metadata only; nothing is persisted.

The choke point also owns every table a query persists from the test
tables (an index layout, a ground truth, a cleaned corpus), through
:func:`derived_table`, the job a catalog's DDL does for a warehouse:

- **path**: ``<repo>/.testdata/<kind>/<sf tag>/<name>``, the sf tag being
  the basename of ``sf_dir``. ``rm -rf .testdata/<kind>`` resets a kind.
- **identity**: the file state (as above) of each named source table
  under ``sf_dir``, plus a params string naming the constants the build
  reads, so editing one of them rebuilds too.
- **freshness**: ``_SUCCESS`` is present in the path and its
  ``_SRC_FINGERPRINT`` file holds the current identity. A source whose
  file state cannot be read is never fresh.
- **build**: a stale artifact is rebuilt by the caller's ``build(path)``,
  which must leave a complete Spark write at ``path`` (its ``_SUCCESS``)
  plus any siblings it owns; the identity is written to
  ``_SRC_FINGERPRINT`` after it returns, so a build that fails midway is
  never marked.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from flu_data_pipeline_spark.session import ensure_session_defaults

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Session confs that change the schema parquet inference returns; their
#: values are part of every memo entry's identity.
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

#: absolute path -> (identity, schema) of its last inference. One memo per
#: process, as a metastore is one per warehouse: the identity, not the
#: caller, decides whether an entry applies. Threads (``overlap``) share it
#: without a lock: an entry is replaced as one tuple whose identity was
#: taken before its inference ran, so a race costs at most a repeated
#: inference, never a schema served for a file state it does not match.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _raise(err: OSError) -> None:
    raise err


def file_state(path: str) -> tuple | None:
    """Sorted ``(relpath, st_ino, st_mtime_ns, st_size)`` of every file
    under ``path`` (a single file is its own state), or None when the
    path cannot be listed on the local file system."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (("", st.st_ino, st.st_mtime_ns, st.st_size),)
        if not os.path.isdir(path):
            return None
        state = []
        for root, _, files in os.walk(path, onerror=_raise):
            for name in files:
                full = os.path.join(root, name)
                st = os.stat(full)
                state.append(
                    (os.path.relpath(full, path), st.st_ino, st.st_mtime_ns, st.st_size)
                )
        return tuple(sorted(state))
    except OSError:
        return None


def _read(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """:func:`read_parquet` plus the schema it resolved."""
    state = file_state(path)
    if state is None:
        df = spark.read.parquet(path)
        return df, df.schema
    key = os.path.abspath(path)
    identity = (state, tuple(spark.conf.get(k) for k in INFERENCE_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == identity:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    schema = df.schema
    _SCHEMAS[key] = (identity, schema)
    return df, schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only when the
    path's file state or the inference confs changed since the last read
    in this process (see the module docstring). A path that cannot be
    listed locally falls back to the plain schema-inferring read."""
    return _read(spark, path)[0]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table. Column pruning / predicate pushdown happen at
    this scan when callers ``select``/``filter`` downstream (Catalyst pushes
    through — verify with ``.explain``: ``PushedFilters`` / ``ReadSchema``).

    ``events.ts`` arrives in whatever flavor the test-data generator used:
    parquet TIMESTAMP(NANOS) reads as long ns-since-epoch under
    ``spark.sql.legacy.parquet.nanosAsLong`` (converted here to a µs
    timestamp via integer division — ns→µs truncation, sub-µs digits are
    never projected by engine queries); parquet TIMESTAMP(MICROS,
    isAdjustedToUTC=false) reads natively as TIMESTAMP_NTZ and is cast to
    TIMESTAMP here. Under the engine's pinned UTC session timezone the
    cast re-labels the same wall-clock micros as a UTC instant, so both
    flavors land on the identical TIMESTAMP value and every downstream
    query (unix_micros, window ranges, date_trunc) sees ONE schema.

    Runtime confs are (re)applied here so a stock, externally-built
    session gets the same read behavior (nanosAsLong + UTC tz are
    runtime-settable and must be on before the read is analyzed)."""
    ensure_session_defaults(spark)
    df, schema = _read(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for f in schema.fields:
        if f.name == "ts" and f.dataType.typeName() == "long":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif f.name == "ts" and f.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def derived_table(
    kind: str,
    sf_dir: str,
    name: str,
    sources: tuple[str, ...],
    build: Callable[[str], object],
    *,
    params: str = "",
    tag: str | None = None,
    base_dir: str | None = None,
) -> str:
    """Path of the persisted table ``name`` derived from the ``sources``
    tables of ``sf_dir``, calling ``build(path)`` first only when it is
    stale (the protocol is in the module docstring). ``tag`` replaces the
    sf tag and ``base_dir`` the whole ``<repo>/.testdata/<kind>/<tag>``
    directory."""
    base = base_dir or os.path.join(
        _REPO, ".testdata", kind, tag or os.path.basename(sf_dir.rstrip("/"))
    )
    path = os.path.join(base, name)
    marker = os.path.join(path, "_SRC_FINGERPRINT")
    states = tuple(
        file_state(os.path.join(sf_dir, f"{src}.parquet")) for src in sources
    )
    identity = None if None in states else repr((states, params))
    fresh = False
    if identity is not None and os.path.exists(os.path.join(path, "_SUCCESS")):
        try:
            with open(marker) as fh:
                fresh = fh.read() == identity
        except OSError:
            pass
    if not fresh:
        build(path)
        if identity is not None:
            with open(marker, "w") as fh:
                fh.write(identity)
    return path


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view named after itself, so SQL
    plans (``spark.sql``) and DataFrame plans share one catalog."""
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
