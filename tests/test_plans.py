"""Physical-plan regression tests: pin the plan properties that make the
headline queries scale — predicate pushdown into the parquet scan, column
pruning, broadcast vs shuffled-hash join selection, map-side partial
aggregation, and top-k compilation. These are the `.explain("formatted")`
checks from SURVEY §4 turned into assertions so a refactor can't silently
trade the right plan for a working-but-wrong-at-100TB one.

Plan text comes from ``queryExecution().executedPlan().toString()``
*before* any action — under AQE that is the initial plan (what static
planning chose), which is exactly where scan pushdown / hint / partial-agg
properties live.
"""

from __future__ import annotations

import pytest

from flu_data_pipeline_spark.plans import REGISTRY

from .conftest import SF_ORACLE


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].builder(spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_partial_agg(spark):
    plan = plan_of(spark, "pricing_summary")
    # the shipdate predicate must reach the parquet scan
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1][:300], plan
    # two-phase aggregation: partial (map-side combine) before the shuffle
    assert "partial_sum" in plan or "partial_avg" in plan, plan


def test_pricing_summary_column_pruning(spark):
    plan = plan_of(spark, "pricing_summary")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # the 16-column lineitem scan must NOT read unused wide columns
    assert "l_comment" not in read_schema, read_schema


def test_top_revenue_orders_takeordered_and_agg_below_join(spark):
    plan = plan_of(spark, "top_revenue_orders")
    # top-k compiles to TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in plan, plan
    # revenue aggregate runs BELOW the dim joins: the partial agg's
    # grouping key is the lineitem orderkey, before customer appears
    agg_pos = plan.find("partial_sum")
    join_pos = plan.find("c_custkey")
    assert agg_pos != -1 and join_pos != -1 and agg_pos > join_pos, plan


def test_join_left_broadcast_uses_broadcast(spark):
    plan = plan_of(spark, "join_left_broadcast")
    assert "BroadcastHashJoin" in plan, plan


def test_report_weekly_trends_shuffled_hash_join(spark):
    plan = plan_of(spark, "report_weekly_trends")
    # deliberate SHUFFLE_HASH on the smaller fact (SMJ's two sorts cost
    # more; broadcast would serialize a fact through the driver at scale)
    assert "ShuffledHashJoin" in plan, plan


def test_events_hourly_rollup_partial_agg(spark):
    plan = plan_of(spark, "events_hourly_rollup")
    assert "partial_" in plan, plan


def test_hll_register_build_is_two_phase(spark):
    plan = plan_of(spark, "hll_distinct_by_nation")
    # register build must map-side combine (partial_max over buckets):
    # the shuffle then carries <= groups x 256 rows per partition
    assert "partial_max" in plan, plan


def test_dedup_exact_shuffles_hash_not_text(spark):
    plan = plan_of(spark, "dedup_exact")
    # the groupBy key is the 8-byte content hash; the raw text column
    # must not survive into the exchange below the aggregate
    exchange_tail = plan.split("Exchange hashpartitioning")[1][:200]
    assert "text#" not in exchange_tail, exchange_tail


def test_ann_topk_cosine_broadcasts_queries(spark):
    plan = plan_of(spark, "ann_topk_cosine")
    assert "Broadcast" in plan, plan


def test_q2_min_cost_supplier_topk_and_broadcasts(spark):
    plan = plan_of(spark, "q2_min_cost_supplier")
    # deterministic LIMIT 100 over a total order → top-k physical op
    assert "TakeOrderedAndProject" in plan, plan
    # supplier/nation/region and the part filter are broadcast sides —
    # the ps build must stay the only data-sized aggregation path
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q16_distinct_pairs_partial_agg_and_anti_join(spark):
    plan = plan_of(spark, "q16_supplier_relation_count")
    # the distinct (partkey, suppkey) dedup must partial-aggregate
    # map-side before its shuffle (lineitem measures never move)
    assert "HashAggregate" in plan, plan
    # supplier exclusion compiles to a broadcast anti join
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti" in plan and "Broadcast" in plan
    ), plan


def test_q20_semi_joins_broadcast(spark):
    plan = plan_of(spark, "q20_promotion_part_suppliers")
    # both IN-subqueries compile to broadcast left-semi joins
    assert plan.count("LeftSemi") >= 2, plan
    # the ship-year predicate reaches the lineitem scan
    assert "PushedFilters" in plan and "l_shipdate" in plan, plan


def test_ann_pq_adc_no_window_in_encode(spark):
    plan = plan_of(spark, "ann_pq_adc")
    # encoding argmin is a min-of-struct aggregate with map-side
    # partials; the only Window node is the final per-query top-3
    # (WindowGroupLimit pre-prunes it — that optimization is welcome)
    assert "partial_min" in plan, plan
    windows = [l for l in plan.splitlines() if l.strip().startswith(("Window [", "+- Window ["))]
    assert len(windows) <= 1, plan


def test_kmv_bottomk_window_partitioned_by_segment(spark):
    plan = plan_of(spark, "kmv_distinct_setalgebra")
    # the bottom-k windows must be keyed (the only unpartitioned window
    # runs over the <=2k merged sketch rows)
    assert "row_number" in plan, plan


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling, demonstrated live: a forced sort-merge join
    whose left side carries a 90%-hot key must re-plan with
    SortMergeJoin(skew=true) once the runtime stats expose the skew.
    Thresholds are lowered to fixture scale — NOTE shuffle stats report
    COMPRESSED bytes (lz4 shrinks the repetitive hot partition ~100x, a
    measured gotcha: an 8KB threshold saw a 9MB-raw hot partition as
    un-skewed). This is the runtime half of the skew story —
    skew_salted_dim_join pins the a-priori rewrite, AQE covers joins
    whose skew only shows at run time."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 500_000, 1, 16).select(
            F.when(F.col("id") % 10 < 9, "hot")
            .otherwise(
                F.concat(F.lit("cold"), (F.col("id") % 50).cast("string"))
            )
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.createDataFrame(
            [("hot", 1)] + [(f"cold{i}", 2) for i in range(50)],
            "k string, code int",
        )
        joined = fact.join(dim.hint("merge"), "k").select(
            F.count(F.lit(1)).alias("n"), F.sum("code").alias("s")
        )
        [row] = joined.collect()
        # correctness unchanged by the runtime re-plan
        assert row["n"] == 500_000
        assert row["s"] == 450_000 * 1 + 50_000 * 2
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dpp_assertion_has_teeth(spark):
    """dpp_pruning_gain must RAISE when dynamic partition pruning is
    disabled — the self-proving assertion is only worth its name if it
    actually fires on the regression it guards against."""
    import pytest

    from flu_data_pipeline_spark.plans import REGISTRY
    from .conftest import SF_ORACLE

    key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        with pytest.raises(AssertionError, match="dynamic partition pruning"):
            REGISTRY["dpp_pruning_gain"].builder(spark, SF_ORACLE)
    finally:
        spark.conf.set(key, prev)
    # and with DPP back on, the builder constructs cleanly
    REGISTRY["dpp_pruning_gain"].builder(spark, SF_ORACLE)


def test_window_group_limit_assertion_has_teeth(spark):
    """topk_window_group_limit must RAISE when Spark's window-group-limit
    pushdown is disabled (threshold -1), and build cleanly once it is
    back on."""
    import pytest

    from flu_data_pipeline_spark.plans import REGISTRY
    from .conftest import SF_ORACLE

    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        with pytest.raises(AssertionError, match="WindowGroupLimit"):
            REGISTRY["topk_window_group_limit"].builder(spark, SF_ORACLE)
    finally:
        spark.conf.set(key, prev)
    REGISTRY["topk_window_group_limit"].builder(spark, SF_ORACLE)


def test_salted_join_assertion_has_teeth(spark):
    """The ShuffledHashJoin assertion in skew_salted_dim_join must fire
    when the same shape is built without the SHUFFLE_HASH hint (the
    planner then broadcasts the tiny dim, exactly the degradation the
    assertion guards against)."""
    import pytest

    from flu_data_pipeline_spark.plans import REGISTRY
    from flu_data_pipeline_spark.plans.skew_queries import (
        _salted_dim_join_frame,
    )
    from .conftest import SF_ORACLE

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        # make the unhinted fallback deterministic: a generous broadcast
        # threshold guarantees the 40-row dim broadcasts without a hint
        spark.conf.set(key, str(64 * 1024 * 1024))
        with pytest.raises(AssertionError, match="SHUFFLE_HASH"):
            _salted_dim_join_frame(spark, SF_ORACLE, hinted=False)
    finally:
        spark.conf.set(key, prev)
    REGISTRY["skew_salted_dim_join"].builder(spark, SF_ORACLE)


def test_broadcast_join_assertion_has_teeth(spark):
    """join_left_broadcast's BroadcastHashJoin assertion must fire when
    the same shape is built unhinted with auto-broadcast disabled (the
    planner then shuffle-joins both sides)."""
    import pytest

    from flu_data_pipeline_spark.plans import REGISTRY
    from flu_data_pipeline_spark.plans.relational import (
        _left_broadcast_frame,
    )
    from .conftest import SF_ORACLE

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        with pytest.raises(AssertionError, match="BroadcastHashJoin"):
            _left_broadcast_frame(spark, SF_ORACLE, hinted=False)
    finally:
        spark.conf.set(key, prev)
    REGISTRY["join_left_broadcast"].builder(spark, SF_ORACLE)


def test_exchange_reuse_assertion_has_teeth(spark):
    """The reuse probe must RAISE on a genuinely non-reusable plan.
    Conf knobs cannot produce one in Spark 4.1 (AQE's stage cache and
    the static rule both reuse even under
    spark.sql.exchange.reuse.enabled=false — measured), so the teeth
    case is the real regression shape: a column-ASYMMETRIC self-join
    whose pruned subtrees differ, executing the aggregate twice."""
    import pytest

    from flu_data_pipeline_spark.plans import REGISTRY
    from flu_data_pipeline_spark.plans.layout_queries import (
        _assert_exchange_reuse,
    )
    from .conftest import SF_ORACLE

    with pytest.raises(AssertionError, match="reuse"):
        _assert_exchange_reuse(spark, symmetric=False)
    REGISTRY["exchange_reuse_selfjoin"].builder(spark, SF_ORACLE)


def test_runtime_bloom_filter_assertion_has_teeth(spark):
    """runtime_bloom_filter_join must RAISE when the runtime
    bloom-filter rule is disabled (the probe deliberately leaves the
    master switch alone so a disabled/regressed feature fires the
    assertion), and build cleanly once it is back on."""
    import pytest

    from flu_data_pipeline_spark.plans import REGISTRY
    from .conftest import SF_ORACLE

    key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        with pytest.raises(AssertionError, match="bloom"):
            REGISTRY["runtime_bloom_filter_join"].builder(spark, SF_ORACLE)
    finally:
        spark.conf.set(key, prev)
    REGISTRY["runtime_bloom_filter_join"].builder(spark, SF_ORACLE)


def test_bucketed_join_assertion_has_teeth(spark):
    """bucketed_join_no_shuffle must RAISE when bucketing is disabled
    (the scan loses its output partitioning and the join re-shuffles)."""
    import pytest

    from flu_data_pipeline_spark.plans import REGISTRY
    from .conftest import SF_ORACLE

    key = "spark.sql.sources.bucketing.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        with pytest.raises(AssertionError, match="bucketed"):
            REGISTRY["bucketed_join_no_shuffle"].builder(spark, SF_ORACLE)
    finally:
        spark.conf.set(key, prev)
    REGISTRY["bucketed_join_no_shuffle"].builder(spark, SF_ORACLE)


def test_aqe_skew_join_assertion_has_teeth(spark):
    """aqe_skew_join_split must RAISE when AQE skew-join splitting is
    disabled (the probe leaves the master switch alone so a disabled/
    regressed rule fires the assertion), and build cleanly once it is
    back on."""
    import pytest

    from flu_data_pipeline_spark.plans import REGISTRY
    from .conftest import SF_ORACLE

    key = "spark.sql.adaptive.skewJoin.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        with pytest.raises(AssertionError, match="skew"):
            REGISTRY["aqe_skew_join_split"].builder(spark, SF_ORACLE)
    finally:
        spark.conf.set(key, prev)
    REGISTRY["aqe_skew_join_split"].builder(spark, SF_ORACLE)


#: Every registered builder that serves from the list-partitioned IVF
#: layout (``similarity_queries._ivf_layout_path``).
_IVF_LAYOUT_READERS = (
    "ivf_layout_pruning_gain",
    "rag_retrieval_hydrated",
    "ivf_pruning_files_metric",
    "ann_serving_frontier",
    "ann_serving_frontier_pq",
    "ann_serving_pq_rerank",
    "pq_rerank_hydration_metric",
)


@pytest.mark.parametrize("reader", ("flat_scan",) + _IVF_LAYOUT_READERS)
def test_ivf_layout_pruning_assertion_has_teeth(
    spark, tmp_path, monkeypatch, reader
):
    """The partition-pruning assertion checks the LAYOUT, not the filter.
    ``flat_scan``: _assert_partition_pruned must RAISE on a flat
    (unpartitioned) scan with the same logical filter, and
    ivf_layout_pruning_gain must build cleanly on the real partitioned
    layout. Every other case hands one layout reader a flat copy of the
    layout (same columns, real centroids) and requires it to raise, so
    no reader can scan the layout without the assertion."""
    from pyspark.sql import functions as F

    from flu_data_pipeline_spark.plans import similarity_queries as sq
    from .conftest import SF_SMOKE

    if reader == "flat_scan":
        flat = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").filter(
            F.col("vec_id").isin([1, 2])
        )
        with pytest.raises(AssertionError, match="partition pruning"):
            sq._assert_partition_pruned(flat)
        REGISTRY["ivf_layout_pruning_gain"].builder(spark, SF_ORACLE)
        return
    fact_path, cents_path = sq._ivf_layout_path(spark, SF_SMOKE)
    flat_path = str(tmp_path / "embeddings_flat")
    spark.read.parquet(fact_path).write.parquet(flat_path)
    monkeypatch.setattr(
        sq, "_ivf_layout_path", lambda spark, sf_dir: (flat_path, cents_path)
    )
    with pytest.raises(AssertionError, match="partition pruning"):
        REGISTRY[reader].builder(spark, SF_SMOKE)


def test_nested_level_recall_matches_per_level_search(spark):
    """_nested_level_recall derives every level of a nested sweep from
    one scored frame; each level must equal filtering to rank <= level
    and searching that slice alone. Cases: a tie at the top-3 cut
    broken by neighbor_id, ascending and descending score order, a
    query with fewer than 3 candidates at level 1 (query 1), a query
    with none there (query 2), and a level with no candidates at all
    (level 0), which must still report its row."""
    from pyspark.sql import functions as F

    from flu_data_pipeline_spark.plans.similarity_queries import (
        _nested_level_recall,
    )

    # (query_id, neighbor_id, prn, score); tied rows arrive in
    # descending neighbor_id order, so only the tie-break keeps the
    # lowest ids
    scored_rows = [
        (1, 16, 3, 0.7), (1, 15, 3, 0.5),
        (1, 14, 2, 0.1), (1, 13, 2, 0.9), (1, 12, 2, 0.5),
        (1, 11, 1, 0.5), (1, 10, 1, 0.5),
        (2, 25, 3, 0.8), (2, 24, 3, 0.2),
        (2, 23, 2, 0.3), (2, 22, 2, 0.3), (2, 21, 2, 0.3), (2, 20, 2, 0.3),
    ]
    truth_rows = [(1, 13), (1, 10), (1, 16), (2, 20), (2, 21), (2, 99)]
    levels = (0, 1, 2, 3)
    scored = spark.createDataFrame(
        scored_rows, "query_id int, neighbor_id int, prn int, score double"
    )
    truth = spark.createDataFrame(truth_rows, "query_id int, neighbor_id int")

    for desc in (True, False):
        want = {}
        for p in levels:
            cand = [r for r in scored_rows if r[2] <= p]
            top3 = set()
            for q in {r[0] for r in cand}:
                ranked = sorted(
                    (r for r in cand if r[0] == q),
                    key=lambda r: (-r[3] if desc else r[3], r[1]),
                )
                top3 |= {(q, r[1]) for r in ranked[:3]}
            n_hit = sum(t in top3 for t in truth_rows)
            want[p] = (
                len(truth_rows),
                n_hit,
                round(n_hit / len(truth_rows), 6),
                len(cand),
            )
        order = F.desc("score") if desc else F.asc("score")
        got = {
            r["nprobe"]: (
                r["n_truth_slots"], r["n_hit"], r["recall_at_3"],
                r["n_candidates"],
            )
            for r in _nested_level_recall(
                spark, scored, truth, levels, order
            ).collect()
        }
        assert got == want, (desc, got, want)
    assert want[0] == (6, 0, 0.0, 0)


def test_twolevel_assign_plan_shape(spark):
    """The two-level fit is invisible to plan_lint (its registered
    query reads from localCheckpoint scans), so pin the assignment's
    plan shape here: the ONLY broadcast-nested-loop joins are against
    the O(sqrt(k)) coarse table (vectors x coarse, fine x coarse), and
    the fine-centroid candidate join is an EQUI join on the cell id —
    the no-N*k-stage property the whole design exists for."""
    from pyspark.sql import functions as F

    from flu_data_pipeline_spark.operators.clustering import (
        fine_seeds,
        twolevel_assign,
        twolevel_params,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0, 0.0]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    fine = fine_seeds(df, "embedding", "vec_id", 10)
    k_c, sc = twolevel_params(fine.count())
    coarse = fine.filter((F.col("fcl") % sc) == 0).select(
        F.expr(f"fcl div {sc}").alias("ccl"), "c"
    )
    asg = twolevel_assign(df, "embedding", "vec_id", fine, coarse, 2)
    plan = asg._jdf.queryExecution().executedPlan().toString()
    # every nested-loop join broadcasts a coarse-derived side (vectors x
    # coarse, fine x coarse — the fcell subtree prints twice because the
    # test frame is unched): bounded by 3, never one per fine centroid
    assert plan.count("BroadcastNestedLoopJoin") <= 3
    # the fine candidates arrive via an equi join (hash or sort-merge),
    # never a nested loop against the k-proportional fine frame
    assert (
        "BroadcastHashJoin [ccl" in plan
        or "SortMergeJoin [ccl" in plan
        or "ShuffledHashJoin [ccl" in plan
    )
    # and the result is still a total assignment
    assert asg.count() == 200


@pytest.mark.parametrize(
    "artifact", ["dpp_fact", "ivf_layout", "nnd_graph", "serving_truth"]
)
def test_artifact_fingerprint_invalidation(spark, artifact):
    """Each persisted artifact must rebuild when its source fingerprint
    no longer matches (regenerated testdata must never be served a
    stale index or truth), and must NOT rebuild when it matches. The
    serving truth also pins its content: both metrics present, exactly
    3 slots per (metric, query)."""
    import os

    from flu_data_pipeline_spark.plans import layout_queries as lq
    from flu_data_pipeline_spark.plans import similarity_queries as sq
    from .conftest import SF_SMOKE

    build = {
        "dpp_fact": lambda: lq._dpp_fact_path(spark, SF_SMOKE),
        "ivf_layout": lambda: sq._ivf_layout_path(spark, SF_SMOKE)[0],
        "nnd_graph": lambda: sq._nnd_graph_path(spark, SF_SMOKE),
        "serving_truth": lambda: sq._serving_truth_path(spark, SF_SMOKE),
    }[artifact]
    path = build()
    success = os.path.join(path, "_SUCCESS")
    marker = os.path.join(path, "_SRC_FINGERPRINT")
    mtime1 = os.stat(success).st_mtime_ns
    # fresh fingerprint → no rebuild
    build()
    assert os.stat(success).st_mtime_ns == mtime1
    # corrupt the fingerprint → rebuild
    with open(marker, "w") as fh:
        fh.write("stale")
    build()
    assert os.stat(success).st_mtime_ns > mtime1
    with open(marker) as fh:
        assert fh.read() != "stale"
    if artifact != "serving_truth":
        return
    rows = spark.read.parquet(path).collect()
    assert len(rows) == sq._SRV_NQ * 3 * 2  # 2 metrics x |Q| x top-3
    per = {}
    for r in rows:
        per.setdefault((r["metric"], r["query_id"]), set()).add(r["rn"])
    assert set(per) == {
        (m, q) for m in ("cos", "l2") for q in range(100, 150)
    }
    assert all(v == {1, 2, 3} for v in per.values())


def test_overlap_order_and_error_propagation():
    """overlap (r11 wave 2) must return thunk results in
    CALL order regardless of completion order (the serving evals
    unpack their upfront checkpoints positionally), and a
    failing thunk's exception must reach the caller exactly as in the
    sequential form (the PartitionFilters assert relies on this to
    keep failing queries loudly)."""
    import time as _time

    import pytest

    from flu_data_pipeline_spark.operators.materialize import overlap

    def slow():
        _time.sleep(0.2)
        return "slow"

    def fast():
        return "fast"

    assert overlap(slow, fast) == ["slow", "fast"]
    assert overlap(fast) == ["fast"]

    def boom():
        raise AssertionError("partition pruning did not engage")

    with pytest.raises(AssertionError, match="partition pruning"):
        overlap(fast, boom, slow)


def test_overlap_threads_inherit_local_properties(spark):
    """Jobs a thunk submits must carry the caller's local properties (job
    description and group), so concurrent phases stay attributable.
    PySpark pins each Python thread to its own JVM thread; a plain pool
    thread starts with none of the caller's properties."""
    from flu_data_pipeline_spark.operators.materialize import overlap

    sc = spark.sparkContext
    key = "spark.job.description"
    sc.setLocalProperty(key, "overlap-caller")
    try:
        got = overlap(
            lambda: sc.getLocalProperty(key),
            lambda: sc.getLocalProperty(key),
        )
    finally:
        sc.setLocalProperty(key, None)
    assert got == ["overlap-caller", "overlap-caller"]


def test_aqe_coalesce_assertion_has_teeth(spark):
    """aqe_coalesce_shuffle_read must RAISE when AQE partition
    coalescing is disabled, and build cleanly once it is back on."""
    import pytest

    from flu_data_pipeline_spark.plans import REGISTRY
    from .conftest import SF_ORACLE

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        with pytest.raises(AssertionError, match="coalesce"):
            REGISTRY["aqe_coalesce_shuffle_read"].builder(spark, SF_ORACLE)
    finally:
        spark.conf.set(key, prev)
    REGISTRY["aqe_coalesce_shuffle_read"].builder(spark, SF_ORACLE)


def test_pair_cap_metric_negative(spark):
    """Self-proving v2 teeth: the executed-metric pair bound must
    DISCRIMINATE — on a skewed frame (one hot cluster of 600 rows) the
    UNCHUNKED dominance join moves more pairs than the chunk cap
    allows, while the chunked join on the same frame stays within it.
    Both counts read from the join node's numOutputRows SQLMetric via
    the same reader the registered query uses."""
    from pyspark.sql import functions as F

    from flu_data_pipeline_spark.operators.plan_metrics import (
        collect_with_metrics,
    )

    chunk = 250
    df = spark.createDataFrame(
        [(i, 0, float(i)) for i in range(600)],
        "vid long, cl long, dist double",
    )
    d = df.withColumn(
        "chunk",
        F.expr(
            f"(row_number() over (partition by cl "
            f"order by dist, vid) - 1) div {chunk}"
        ),
    ).localCheckpoint(eager=True)
    better = (F.col("dist_y") > F.col("dist_x")) | (
        (F.col("dist_y") == F.col("dist_x"))
        & (F.col("vid_y") < F.col("vid_x"))
    )

    def pair_metric(with_chunk: bool) -> int:
        x = d.select(
            F.col("vid").alias("vid_x"),
            F.col("cl").alias("cl_x"),
            F.col("chunk").alias("ch_x"),
            F.col("dist").alias("dist_x"),
        )
        y = d.select(
            F.col("vid").alias("vid_y"),
            F.col("cl").alias("cl_y"),
            F.col("chunk").alias("ch_y"),
            F.col("dist").alias("dist_y"),
        )
        cond = (F.col("cl_x") == F.col("cl_y")) & better
        if with_chunk:
            cond = cond & (F.col("ch_x") == F.col("ch_y"))
        probe = x.join(y, cond).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        rows, mets = collect_with_metrics(probe, "Join")
        assert len(mets) == 1
        assert int(mets[0]["numOutputRows"]) == int(rows[0]["cnt"])
        return int(mets[0]["numOutputRows"])

    bound = 600 * (chunk - 1) // 2  # 74_700
    capped = pair_metric(with_chunk=True)
    uncapped = pair_metric(with_chunk=False)
    # chunks of 250/250/100 -> 31125 + 31125 + 4950
    assert capped == 67_200 and capped <= bound
    # the skewed cluster's full dominance join: 600*599/2
    assert uncapped == 179_700 and uncapped > bound


def test_files_metric_flat_layout_negative(spark, tmp_path):
    """ivf_pruning_files_metric's files_read claim rests on the
    partitioned LAYOUT: the same logical filter over a FLAT copy opens
    every file (numFiles == all files written), which the registered
    query's bound (files_read <= probed lists) would reject."""
    from pyspark.sql import functions as F

    from flu_data_pipeline_spark.operators.plan_metrics import (
        collect_with_metrics,
    )

    df = spark.createDataFrame(
        [(i, i % 8) for i in range(4000)], "vec_id long, list_id int"
    )
    flat = str(tmp_path / "flat")
    df.repartition(6).write.parquet(flat)
    probe = (
        spark.read.parquet(flat)
        .filter(F.col("list_id").isin([1, 3]))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    rows, mets = collect_with_metrics(probe, "Scan parquet")
    assert len(mets) == 1
    # every row of every file carries every list_id value, so the
    # row-group/data filter prunes nothing: the flat layout reads all
    # 6 files to answer a 2-list probe
    assert int(mets[0]["numFiles"]) == 6
    assert int(rows[0]["n"]) == 1000


def test_paragraph_join_metric_negative(spark):
    """Fifth metric gate's teeth: the move-once join bound must
    DISCRIMINATE — with the keeper aggregation broken to group by
    (h, chunk), a 56-bit collision splits a hash group into two keeper
    rows and the h-equi-join WIDENS past the chunk count; the correct
    groupBy(h) keeper set joins every chunk exactly once. Both counts
    read from the join node's numOutputRows via the same reader the
    registered query uses."""
    from pyspark.sql import functions as F

    from flu_data_pipeline_spark.operators.plan_metrics import (
        collect_with_metrics,
    )

    rows = [
        (1, 0, "aa", 7),  # h=7: two DISTINCT chunks (simulated collision)
        (1, 1, "bb", 9),  # h=9: a true duplicate pair
        (2, 0, "cc", 7),
        (2, 1, "bb", 9),
    ]
    hashed = spark.createDataFrame(
        rows, "doc_id long, pos int, chunk string, h long"
    ).localCheckpoint(eager=True)

    def join_rows(broken: bool) -> int:
        keys = ["h", "chunk"] if broken else ["h"]
        keepers = hashed.groupBy(*keys).agg(
            F.min(F.struct("doc_id", "pos")).alias("first")
        )
        probe = hashed.join(keepers, "h").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        rws, mets = collect_with_metrics(probe, "Join")
        assert len(mets) == 1
        assert int(mets[0]["numOutputRows"]) == int(rws[0]["cnt"])
        return int(mets[0]["numOutputRows"])

    assert join_rows(broken=False) == 4  # == n_chunks: each moved once
    assert join_rows(broken=True) == 6  # collision split widens the join


def test_pq_rerank_hydration_metric_negative(spark):
    """Sixth metric gate's teeth: the hydration bound must DISCRIMINATE
    — a shortlist with a duplicated neighbor row widens the hydration
    equi-join past the shortlist count (the failure mode the gate's
    n_hydrated == n_short check exists for), while the clean shortlist
    hydrates exactly once per row. Both counts read from the join
    node's numOutputRows via the same reader the registered query
    uses."""
    from pyspark.sql import functions as F

    from flu_data_pipeline_spark.operators.plan_metrics import (
        collect_with_metrics,
    )

    table = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "neighbor_id long, c_emb array<double>",
    ).localCheckpoint(eager=True)

    def hydrated_rows(dup: bool) -> int:
        short_rows = [(1, 1), (2, 2), (3, 3)]
        if dup:
            short_rows.append((3, 4))  # same neighbor, second rank row
        short = spark.createDataFrame(
            short_rows, "neighbor_id long, srn int"
        ).localCheckpoint(eager=True)
        probe = table.join(F.broadcast(short), "neighbor_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        rws, mets = collect_with_metrics(probe, "BroadcastHashJoin")
        assert len(mets) == 1
        assert int(mets[0]["numOutputRows"]) == int(rws[0]["cnt"])
        return int(mets[0]["numOutputRows"])

    assert hydrated_rows(dup=False) == 3   # == shortlist count
    assert hydrated_rows(dup=True) == 4    # duplicate widens the join


def test_barrier_names_the_jobs_it_runs(spark):
    """``barrier`` labels every job its checkpoint submits ``outer/label``:
    all of an eager barrier's jobs, and a lazy barrier's AQE shuffle-stage
    jobs at the call (its final stage runs later, under the consumer's
    label). Barriers in sibling ``overlap`` thunks keep their own labels,
    and the outer description is restored after each."""
    from collections import Counter

    from pyspark.sql import functions as F

    from flu_data_pipeline_spark.operators.materialize import (
        barrier,
        job_label,
        overlap,
    )
    from perfbench.spans import StatusStore

    store = StatusStore(spark)
    sc = spark.sparkContext

    def agg(n):  # one shuffle, so AQE runs a map stage before the result
        return spark.range(n).groupBy((F.col("id") % 7).alias("k")).count()

    def descs(token):
        jobs, _ = store._read()
        return Counter(j.get("description") for j in jobs if j["jobId"] > token[0])

    with job_label(spark, "outer"):
        t = store.mark()
        eager = barrier(agg(100), "eager")
        n_eager = descs(t)["outer/eager"]
        assert n_eager >= 2 and descs(t) == {"outer/eager": n_eager}
        assert sc.getLocalProperty("spark.job.description") == "outer"

        t = store.mark()
        lazy = barrier(agg(200), "lazy", eager=False)
        assert set(descs(t)) == {"outer/lazy"}
        t = store.mark()
        assert lazy.agg(F.sum("count")).first()[0] == 200
        assert "outer/lazy" not in descs(t) and descs(t)["outer"] >= 1

        t = store.mark()
        a, b = overlap(lambda: barrier(agg(300), "a"), lambda: barrier(agg(400), "b"))
        assert descs(t) == {"outer/a": n_eager, "outer/b": n_eager}
        assert sc.getLocalProperty("spark.job.description") == "outer"
    assert sc.getLocalProperty("spark.job.description") is None
    assert [eager.count(), a.count(), b.count()] == [7, 7, 7]
