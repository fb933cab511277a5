"""Sinks (SURVEY §2.1 S4-S7): parquet tables, CSV interchange, and the
idempotent upsert-ignore load.

The reference's load path is staging-COPY + ``INSERT ... ON CONFLICT
(<pk>) DO NOTHING`` per table (flu_data_airflow_v2.py:589-733). The
capability — append only genuinely-new primary keys, safely re-runnable —
maps to a left **anti-join** against the existing table followed by an
append write. At 100 TB the anti-join shuffles only the PK columns of the
increment vs the target's PK projection (column-pruned scan), and the
partitioned layout confines rewrites to touched partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import read_parquet
from flu_data_pipeline_spark.schemas import PRIMARY_KEYS


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    compression: str | None = None,
) -> None:
    """Parquet table write (S5/S7 DDL+load collapse into one lazy write).
    Facts should pass ``partition_by`` (e.g. season / epiweek prefix) so
    downstream queries get static + dynamic partition pruning.

    ``compression``: parquet codec per table (zstd/snappy/gzip/none).
    At 100 TB the right default is zstd for cold fact tables (best
    ratio, fast decode) and snappy for hot intermediates; leaving it
    None inherits the session's ``spark.sql.parquet.compression.codec``."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression:
        writer = writer.option("compression", compression)
    writer.parquet(path)


def write_partition_overwrite(
    df: DataFrame, path: str, partition_by: tuple[str, ...]
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present in
    ``df``, leaving all others untouched — the incremental-load companion
    to ``cdc_snapshot_diff``/``incremental_state_merge``. At 100 TB a
    daily batch touches a handful of date partitions; static overwrite
    would truncate the whole table, append would duplicate reruns. This
    is idempotent per partition: replaying the same batch converges.

    Uses the per-write ``partitionOverwriteMode=dynamic`` option so the
    session-level conf (which defaults to static) is untouched."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    isolation_level: str = "NONE",
    truncate: bool = True,
    options: dict[str, str] | None = None,
) -> None:
    """JDBC bulk-load sink — literal parity with the reference's
    staging-COPY → INSERT Postgres load (flu_data_airflow_v2.py:589-733),
    expressed as Spark's parallel JDBC write.

    Scale contract:
    - ``num_partitions`` caps concurrent DB connections (each partition
      opens one); repartition down before hammering a single Postgres.
    - ``batchsize`` controls rows per round-trip (the COPY-ish path).
    - ``isolation_level=NONE`` skips transactional overhead for bulk
      loads, matching COPY semantics.
    - ``truncate=True`` + mode='overwrite' issues TRUNCATE instead of
      DROP/CREATE, preserving the reference's DDL (indexes, PKs).

    No JDBC driver jars ship in this environment, so runtime use needs
    ``spark.jars`` configured; the wiring is still exercised in tests
    (the save must reach JDBC driver resolution).
    """
    out = df.repartition(num_partitions) if num_partitions else df
    writer = (
        out.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("isolationLevel", isolation_level)
        .option("truncate", str(truncate).lower())
    )
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.save()


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV interchange sink (S4) — kept only where interchange parity
    matters; parquet is the at-rest format."""
    df.write.mode(mode).option("header", True).csv(path)


def _existing_partition_cols(path: str) -> tuple[str, ...]:
    """Hive partition columns of a stored parquet table, read off the
    directory layout (one ``col=value`` level per partition column,
    descending the first branch — all branches share the scheme by
    construction of ``partitionBy``)."""
    cols: list[str] = []
    cur = path
    while True:
        subs = sorted(
            e
            for e in os.listdir(cur)
            if "=" in e and os.path.isdir(os.path.join(cur, e))
        )
        if not subs:
            return tuple(cols)
        cols.append(subs[0].split("=", 1)[0])
        cur = os.path.join(cur, subs[0])


def idempotent_append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    pk_cols: tuple[str, ...],
    partition_cols: tuple[str, ...] = (),
) -> int:
    """``ON CONFLICT DO NOTHING`` semantics (S6): append rows whose PK is
    absent from the existing table; re-running with the same input is a
    no-op. Returns the number of rows appended.

    Within-batch duplicates are also collapsed to one row per PK (the
    staging COPY + PK constraint did the same in the reference).
    ``partition_cols`` makes the target a hive-partitioned table (new
    rows land in their partition directories; the existence anti-join
    reads only the PK columns, so the partitioned layout costs the
    idempotence check nothing extra).
    """
    deduped = df.dropDuplicates(list(pk_cols))
    exists = os.path.exists(path)
    if exists:
        # Layout guard: appending under a different partitioning than
        # the stored table silently produces a mixed directory tree
        # (some rows in col=... dirs, some flat) that reads back but
        # can never be partition-pruned consistently. Fail loudly.
        stored = _existing_partition_cols(path)
        if stored != tuple(partition_cols):
            raise ValueError(
                f"partition layout mismatch at {path}: stored table is "
                f"partitioned by {stored or '()'} but this append uses "
                f"{tuple(partition_cols) or '()'} — repartition the "
                f"table (rewrite) instead of mixing layouts"
            )
        existing = read_parquet(spark, path).select(
            *[F.col(c).alias(f"__ex_{c}") for c in pk_cols]
        )
        # Null-safe key equality: a composite key with a null component
        # must still match its stored copy (plain `=` never matches null,
        # which would re-append such rows on every run — the opposite of
        # ON CONFLICT DO NOTHING).
        cond = None
        for c in pk_cols:
            eq = F.col(c).eqNullSafe(F.col(f"__ex_{c}"))
            cond = eq if cond is None else cond & eq
        new_rows = deduped.join(existing, cond, "left_anti")
    else:
        new_rows = deduped
    # the anti-join plan is consumed twice (count + write): cache the small
    # increment, not the big target
    new_rows = new_rows.cache()
    try:
        n = new_rows.count()
        # an unpartitioned first load writes even when empty: a
        # schema-only table is what the reference's CREATE TABLE leaves,
        # and readers (qc, the report API) need the table to exist. An
        # empty partitioned write leaves no partition directories, so
        # the layout guard would refuse the next append; skip it.
        if n > 0 or not (exists or partition_cols):
            w = new_rows.write.mode("append")
            if partition_cols:
                w = w.partitionBy(*partition_cols)
            w.parquet(path)
    finally:
        new_rows.unpersist()
    return n


def primary_key_counts(df: DataFrame, table: str) -> tuple[int, int]:
    """(row count, duplicated PK tuples) of ``df`` from one aggregate over
    the per-key counts, so a table is read once for both."""
    pk = list(PRIMARY_KEYS[table])
    row = (
        df.groupBy(*pk)
        .count()
        .agg(
            F.sum("count").alias("rows"),
            F.count(F.when(F.col("count") > 1, 1)).alias("duplicates"),
        )
        .first()
    )
    return row["rows"] or 0, row["duplicates"]


def validate_primary_key(df: DataFrame, table: str) -> int:
    """PK-constraint check (the reference's DDL guarantee, S7): number of
    duplicated PK tuples — must be 0."""
    return primary_key_counts(df, table)[1]


def validate_foreign_key(child: DataFrame, parent: DataFrame, key: str) -> int:
    """FK orphan check: child keys missing from the parent — must be 0."""
    return (
        child.select(key)
        .filter(f"{key} IS NOT NULL")
        .distinct()
        .join(parent.select(key).distinct(), [key], "left_anti")
        .count()
    )


def merge_upsert(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    pk_cols: tuple[str, ...],
) -> tuple[int, int]:
    """MERGE semantics (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT):
    incoming rows replace existing rows with the same PK and new PKs are
    inserted — the SCD Type-1 refresh the reference approximates by
    dropping and recreating whole tables daily (flu_data_airflow_v2.py:
    463-554). Returns (n_updated, n_inserted).

    Without a transactional table format the rewrite is
    target-anti-join-increment UNION increment, written atomically to a
    staging dir then swapped. At scale the same call maps 1:1 onto Delta/
    Iceberg ``MERGE INTO`` (which confines the rewrite to matched files);
    this implementation pins the semantics against plain parquet.

    Within-batch duplicates collapse to one arbitrary-but-deterministic
    row per PK via a hash-ordered window (never ``dropDuplicates``'s
    partition-order row).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keys = list(pk_cols)
    order_cols = [c for c in df.columns if c not in keys]
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc_nulls_last() for c in order_cols]
    ) if order_cols else Window.partitionBy(*keys).orderBy(F.lit(1))
    increment = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )
    if os.path.exists(path):
        existing = read_parquet(spark, path)
        n_updated = (
            increment.select(*keys).join(existing.select(*keys), keys, "left_semi").count()
        )
        n_inserted = increment.count() - n_updated
        kept = existing.join(increment.select(*keys), keys, "left_anti")
        merged = kept.unionByName(increment)
    else:
        n_updated, n_inserted = 0, increment.count()
        merged = increment
    staging = path.rstrip("/") + ".__staging__"
    merged.write.mode("overwrite").parquet(staging)
    final = read_parquet(spark, staging)
    final.write.mode("overwrite").parquet(path)
    # best-effort cleanup of the staging dir (local/DFS path)
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    return n_updated, n_inserted


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — interchange with ORC-based warehouses; columnar with
    predicate pushdown symmetrical to the parquet path."""
    df.write.mode(mode).orc(path)


def clustered_write(
    df: DataFrame,
    path: str,
    cluster_by: tuple[str, ...],
    n_files: int,
) -> None:
    """Compacted, clustered table layout: range-repartition into exactly
    ``n_files`` files and sort rows by the cluster key inside each — the
    write-side half of data skipping. Range partitioning gives disjoint
    key ranges per file and the in-file sort tightens parquet row-group
    min/max bounds, so later scans filtering on the cluster key prune
    whole files/row groups.

    This is also the small-files remedy: a shuffle-heavy job can leave
    thousands of tiny outputs; an explicit file-count rewrite is the
    standard compaction pass. At 100 TB pick n_files from target
    file size (~128-512 MB each), and cluster by the dominant filter
    column (e.g. epiweek/date prefix).
    """
    keys = [c for c in cluster_by]
    (
        df.repartitionByRange(n_files, *keys)
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .parquet(path)
    )


def delete_rows(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    pk_cols: tuple[str, ...],
) -> int:
    """Targeted deletion by key (the opt-out / right-to-be-forgotten pass
    a training-data pipeline must support): rows whose PK appears in
    ``keys_df`` are removed via one anti-join rewrite. Returns the number
    of rows deleted.

    Same staging-swap mechanics as :func:`merge_upsert`; on Delta/Iceberg
    this maps to ``DELETE WHERE`` with file-level pruning — against plain
    parquet the anti-join shuffles only the PK columns, and a partitioned
    layout confines the rewrite to partitions containing matches.
    """
    import shutil

    keys = list(pk_cols)
    if not os.path.exists(path):
        return 0
    existing = read_parquet(spark, path)
    key_rows = keys_df.select(*keys).distinct()
    kept = existing.join(key_rows, keys, "left_anti")
    n_before = existing.count()
    n_after = kept.count()
    if n_after == n_before:
        return 0
    staging = path.rstrip("/") + ".__staging__"
    kept.write.mode("overwrite").parquet(staging)
    read_parquet(spark, staging).write.mode("overwrite").parquet(path)
    shutil.rmtree(staging, ignore_errors=True)
    return n_before - n_after


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    buckets: int,
    bucket_cols: tuple[str, ...],
    sort_cols: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table (hash-partitioned ON DISK by join key).

    The 100 TB co-located-join story: two tables bucketed into the same
    bucket count on their join key satisfy the join's distribution
    requirement straight off the scan, so the sort-merge join runs with
    ZERO Exchange — the fact-to-fact shuffle (the single most expensive
    stage at scale, paid per query) is paid once at write time instead.
    ``sortBy`` additionally pre-sorts each bucket file so the SMJ's sort
    can also be elided when each bucket holds one file.

    Registered in the session catalog via ``saveAsTable`` (bucket
    metadata lives in the catalog, not the parquet footer); at scale the
    same call targets a real metastore. Read back with
    ``spark.table(table)`` — a plain parquet read of ``path`` sees the
    files but not the bucket spec.
    """
    (
        df.write.mode(mode)
        .format("parquet")
        .option("path", path)
        .bucketBy(buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
        .saveAsTable(table)
    )
