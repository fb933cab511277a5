"""Distributed exact global ranking / NTILE without a single-partition sort.

A global ``NTILE(k) OVER (ORDER BY ...)`` compiles to ``Exchange
SinglePartition`` + ``Window`` — every row through one task, the shape
that melts first at 100 TB. This module provides the classic scalable
replacement with IDENTICAL output semantics:

1. ``repartitionByRange`` on the (tie-pinned, total) ordering — a range
   shuffle, parallel, the same primitive a distributed sort uses;
2. per-partition ``row_number`` over a window PARTITIONED by
   ``spark_partition_id()`` (never a global window);
3. per-partition row counts (one row per partition — tiny) turned into
   cumulative offsets with a triangular broadcast self-join, so
   ``global_rank = partition_offset + local_rank``;
4. the exact SQL-standard NTILE bucket formula applied map-side:
   with ``n`` rows and ``k`` buckets, the first ``n % k`` buckets get
   ``n div k + 1`` rows, the rest ``n div k``.

Because the range partitioner's bounds come from a *sampling job*, the
ranked frame is ``localCheckpoint``-ed eagerly before the counts branch:
the counts and the rank assignment must observe ONE materialization (two
executions of the exchange could sample different bounds, misaligning
offsets — same Catalyst non-reuse pitfall documented at
plans/warehouse_queries.py brand_affinity_lift). On a real cluster the
checkpoint is executor-local storage of the ranked frame, once.

Reference anchor: the reference computes quantile-style scores only via
pandas on single-node frames (dags/flu_data_airflow_v2.py keeps all
scoring in driver pandas); this operator is the cluster-scale form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flu_data_pipeline_spark.operators.materialize import barrier

__all__ = [
    "global_rank",
    "global_ntile",
    "global_cumsum",
    "global_prefix_max",
    "global_first_following",
]

_PID = "__gn_pid"
_LRANK = "__gn_lrank"
_CNT = "__gn_cnt"
_OFF = "__gn_off"
_N = "__gn_n"
_RANK = "__gn_rank"


def global_rank(
    df: DataFrame, order: list[Column], out_col: str = "rank"
) -> DataFrame:
    """Exact 1-based global row rank over a TOTAL order, no global sort.

    ``order`` must pin a total order (include a unique tiebreaker
    column); with ties unpinned the rank assignment is nondeterministic
    across runs, exactly like ``row_number`` itself.

    Output: ``df``'s columns plus ``out_col`` (bigint rank) and the
    internal ``__gn_n`` total-count column (callers needing NTILE use
    it; :func:`global_ntile` drops it).
    """
    d = df.repartitionByRange(*order).withColumn(
        _PID, F.spark_partition_id()
    )
    w = Window.partitionBy(_PID).orderBy(*order)
    # Eager checkpoint: counts + rank must see ONE materialization of
    # the range exchange (its partitioner bounds come from a sampling
    # job; a second execution may sample different bounds).
    d = barrier(d.withColumn(_LRANK, F.row_number().over(w)), "global_rank")
    counts = d.groupBy(_PID).agg(F.count(F.lit(1)).alias(_CNT))
    total = counts.agg(F.sum(_CNT).cast("bigint").alias(_N))
    # Cumulative offsets over the per-partition counts: a triangular
    # broadcast self-join on a frame with ONE ROW PER PARTITION (tiny at
    # any data scale — cardinality is the shuffle partition count), not
    # a single-partition window over data rows.
    a, b = counts.alias("a"), counts.alias("b")
    offsets = (
        a.join(
            F.broadcast(b), F.col(f"b.{_PID}") < F.col(f"a.{_PID}"), "left"
        )
        .groupBy(F.col(f"a.{_PID}").alias(_PID))
        .agg(
            F.coalesce(F.sum(f"b.{_CNT}"), F.lit(0))
            .cast("bigint")
            .alias(_OFF)
        )
    )
    return (
        d.join(F.broadcast(offsets), _PID)
        .crossJoin(F.broadcast(total))
        .withColumn(out_col, (F.col(_OFF) + F.col(_LRANK)).cast("bigint"))
        .drop(_PID, _LRANK, _OFF)
    )


def global_cumsum(
    df: DataFrame,
    order: list[Column],
    value_col: str | list[str],
    out_col: str | list[str] = "cumsum",
) -> DataFrame:
    """Exact ``SUM(value) OVER (ORDER BY order)`` (running INCLUSIVE
    prefix sum over a total order) without a single-partition window —
    the :func:`global_rank` construction generalized from row counts to
    value sums.

    1. ``repartitionByRange`` on the (tie-pinned, total) ordering;
    2. per-partition running sum over a window PARTITIONED by
       ``spark_partition_id()`` (never a global window);
    3. per-partition TOTAL sums (one row per partition) turned into
       cumulative offsets via the triangular broadcast self-join;
    4. ``cumsum = partition_offset + local_running_sum`` map-side.

    ``value_col`` should be integral (bigint) for cross-engine
    exactness — integer addition is associative, so the distributed
    regrouping cannot diverge from a sequential window sum. Float
    inputs work but inherit sum-order ulps. ``order`` must pin a total
    order (unique tiebreaker), same contract as :func:`global_rank`.

    ``value_col``/``out_col`` may be parallel LISTS: several prefix
    sums over the SAME ordering share one range shuffle, one
    checkpoint, and one offsets join (the PR-curve/KS/stump shape —
    two or more cumulative counters per distinct value).

    This is the primitive behind concat-and-chunk sequence packing
    (plans: corpus_concat_chunk_packing): at 100 TB the naive
    formulation is ``Exchange SinglePartition`` over every document —
    this form's only non-map work is a range shuffle plus a
    partition-count-sized offsets frame.
    """
    v_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    o_cols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(v_cols) != len(o_cols):
        raise ValueError("value_col and out_col must pair up 1:1")
    runs = [f"__gc_run{i}" for i in range(len(v_cols))]
    offs = [f"__gc_off{i}" for i in range(len(v_cols))]
    tots = [f"__gc_tot{i}" for i in range(len(v_cols))]
    d = df.repartitionByRange(*order).withColumn(
        _PID, F.spark_partition_id()
    )
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Eager checkpoint: per-partition totals + the running sums must see
    # ONE materialization of the range exchange (sampled bounds — see
    # global_rank).
    d = barrier(
        d.select(
            "*", *(F.sum(v).over(w).alias(r) for v, r in zip(v_cols, runs))
        ),
        "global_cumsum",
    )
    totals = d.groupBy(_PID).agg(
        *(F.sum(v).alias(t) for v, t in zip(v_cols, tots))
    )
    a, b = totals.alias("a"), totals.alias("b")
    offsets = (
        a.join(
            F.broadcast(b), F.col(f"b.{_PID}") < F.col(f"a.{_PID}"), "left"
        )
        .groupBy(F.col(f"a.{_PID}").alias(_PID))
        .agg(
            *(
                F.coalesce(F.sum(f"b.{t}"), F.lit(0)).alias(o)
                for t, o in zip(tots, offs)
            )
        )
    )
    out = d.join(F.broadcast(offsets), _PID).select(
        "*",
        *(
            (F.col(o) + F.col(r)).alias(oc)
            for o, r, oc in zip(offs, runs, o_cols)
        ),
    )
    return out.drop(_PID, *runs, *offs)


def global_prefix_max(
    df: DataFrame,
    order: list[Column],
    value_col: str,
    out_col: str = "prefix_max",
    exclusive: bool = False,
) -> DataFrame:
    """Exact ``MAX(value) OVER (ORDER BY order [ROWS .. 1 PRECEDING])``
    — the running-maximum twin of :func:`global_cumsum` (max is
    associative/commutative, so the same partition-offset regrouping is
    exact for ANY ordered type, floats included).

    ``exclusive=True`` gives the strictly-before prefix max (NULL for
    the globally first row, matching the SQL frame ``UNBOUNDED
    PRECEDING AND 1 PRECEDING``); the default is the inclusive running
    max. Shape: one range shuffle, a per-partition window, and a
    partition-count-sized offsets frame — never a single-partition
    window over data rows. This is the watermark-sizing primitive
    (plans: events_disorder_audit): the naive form is a global
    running-max window over every event.
    """
    frame_hi = -1 if exclusive else Window.currentRow
    d = df.repartitionByRange(*order).withColumn(
        _PID, F.spark_partition_id()
    )
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, frame_hi)
    )
    # Eager checkpoint: same one-materialization contract as global_rank.
    d = barrier(
        d.withColumn(
            "__gm_run", F.max(value_col).over(w)
        ),
        "global_prefix_max",
    )
    totals = d.groupBy(_PID).agg(F.max(value_col).alias(_CNT))
    a, b = totals.alias("a"), totals.alias("b")
    offsets = (
        a.join(
            F.broadcast(b), F.col(f"b.{_PID}") < F.col(f"a.{_PID}"), "left"
        )
        .groupBy(F.col(f"a.{_PID}").alias(_PID))
        .agg(F.max(f"b.{_CNT}").alias(_OFF))
    )
    # greatest() skips NULLs (returns NULL only when every operand is
    # NULL), which is exactly the semantics of merging an empty
    # earlier-partition max with an empty local exclusive prefix.
    return (
        d.join(F.broadcast(offsets), _PID)
        .withColumn(out_col, F.greatest(F.col(_OFF), F.col("__gm_run")))
        .drop(_PID, _OFF, "__gm_run")
    )


def global_first_following(
    df: DataFrame,
    order: list[Column],
    value_col: str,
    out_col: str = "next_value",
) -> DataFrame:
    """Exact ``FIRST_VALUE(value IGNORE NULLS) OVER (ORDER BY order
    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)`` — the forward
    as-of fill, distributed.

    The standard inverse-CDF / as-of-interleave lookup (plans:
    curation_quantile_normalize) sorts boundary and query rows together
    and takes each query's first FOLLOWING boundary value; the naive
    form is a single global window. Here:

    1. range-shuffle on the total ``order``;
    2. per-partition first-following non-null via a PARTITIONED window;
    3. per-partition FIRST non-null value in order (``min_by`` over a
       rank struct — one row per partition, tiny);
    4. rows whose partition holds no later non-null take the first
       non-null of the NEXT such partition, via the triangular
       broadcast join (``min_by`` over partition id).
    """
    d = df.repartitionByRange(*order).withColumn(
        _PID, F.spark_partition_id()
    )
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    wr = Window.partitionBy(_PID).orderBy(*order)
    # Eager checkpoint: same one-materialization contract as global_rank.
    d = barrier(
        d.withColumn(
            "__gf_loc", F.first(value_col, ignorenulls=True).over(w)
        )
        .withColumn("__gf_rn", F.row_number().over(wr)),
        "global_first_following",
    )
    # First non-null value per partition, in order (one row/partition).
    firsts = (
        d.filter(F.col(value_col).isNotNull())
        .groupBy(_PID)
        .agg(F.min_by(value_col, "__gf_rn").alias(_CNT))
    )
    a = d.select(_PID).distinct().alias("a")
    b = firsts.alias("b")
    nxt = (
        a.join(
            F.broadcast(b), F.col(f"b.{_PID}") > F.col(f"a.{_PID}"), "left"
        )
        .groupBy(F.col(f"a.{_PID}").alias(_PID))
        .agg(F.min_by(f"b.{_CNT}", f"b.{_PID}").alias(_OFF))
    )
    return (
        d.join(F.broadcast(nxt), _PID)
        .withColumn(out_col, F.coalesce(F.col("__gf_loc"), F.col(_OFF)))
        .drop(_PID, _OFF, "__gf_loc", "__gf_rn")
    )


def global_ntile(
    df: DataFrame, order: list[Column], n_buckets: int, out_col: str
) -> DataFrame:
    """Exact ``NTILE(n_buckets) OVER (ORDER BY order)`` — distributed.

    Output values are bit-identical to the window function (and to
    DuckDB's NTILE): with ``n`` rows, the first ``n % k`` buckets hold
    ``n div k + 1`` rows, the remaining hold ``n div k``, assigned in
    rank order. Integer arithmetic throughout (ceil-division via
    ``(x + s - 1) DIV s``), so no float rounding can flip a boundary.
    """
    ranked = global_rank(df, order, _RANK)
    k = int(n_buckets)
    # TRUE integer division (SQL `div` on bigints) throughout — `/` on
    # Spark columns is double division, exact only below 2^53; `div`
    # holds the bit-identical-to-NTILE guarantee at any row count.
    # base = n div k; rem = n % k; pivot = rem * (base + 1);
    # bucket = ceil(r / (base+1)) in the first rem buckets, else
    # rem + ceil((r - pivot) / base); base == 0 (fewer rows than
    # buckets) → bucket = rank, which is what NTILE does.
    bucket = F.expr(
        f"""CASE
            WHEN {_N} div {k} = 0L THEN {_RANK}
            WHEN {_RANK} <= ({_N} % {k}) * ({_N} div {k} + 1L)
                THEN ({_RANK} + {_N} div {k}) div ({_N} div {k} + 1L)
            ELSE ({_N} % {k})
                 + ({_RANK} - ({_N} % {k}) * ({_N} div {k} + 1L)
                    + {_N} div {k} - 1L)
                   div greatest({_N} div {k}, 1L)
        END"""
    )
    return ranked.withColumn(out_col, bucket.cast("int")).drop(_RANK, _N)
