"""Sources layer: landing fetch, schema-pinned reads, idempotent append
(S6 ≡ ON CONFLICT DO NOTHING), PK/FK validation checks."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import load_table, read_parquet
from flu_data_pipeline_spark.schemas import CENSUS_RAW, FLUVIEW_RAW
from flu_data_pipeline_spark.sources.readers import (
    fetch_to_landing,
    read_csv,
    read_json_records,
)
from flu_data_pipeline_spark.sources.writers import (
    idempotent_append,
    validate_foreign_key,
    validate_primary_key,
    write_table,
)

from .conftest import SF_ORACLE, SF_SMOKE


def test_fetch_and_read_csv(spark, tmp_path):
    payload = b'County Name,Population Density 2020\nKing,1000.5\nFerry,3.2\n,\n'
    path = fetch_to_landing(
        "https://example.invalid/census.csv", str(tmp_path), "census.csv",
        fetcher=lambda url: payload,
    )
    df = read_csv(spark, path, CENSUS_RAW)
    rows = {r["County Name"]: r["Population Density 2020"] for r in df.collect()}
    assert rows == {"King": 1000.5, "Ferry": 3.2, None: None}


def test_read_json_records(spark):
    recs = [
        {"region": "wa", "epiweek": 202001, "wili": 2.5, "num_ili": 10, "num_patients": 400},
        {"region": "wa", "epiweek": 202002, "wili": 3.1},  # missing fields → null
    ]
    df = read_json_records(spark, recs, FLUVIEW_RAW)
    assert df.count() == 2
    assert df.filter(F.col("num_ili").isNull()).count() == 1


def test_idempotent_append(spark, tmp_path):
    target = str(tmp_path / "orders_tbl")
    orders = load_table(spark, SF_ORACLE, "orders").limit(500)
    n1 = idempotent_append(spark, orders, target, ("o_orderkey",))
    assert n1 == 500
    # re-run: same input → no-op (the reference's ON CONFLICT DO NOTHING)
    n2 = idempotent_append(spark, orders, target, ("o_orderkey",))
    assert n2 == 0
    assert spark.read.parquet(target).count() == 500
    # overlapping increment: only genuinely-new keys land
    more = load_table(spark, SF_ORACLE, "orders").limit(800)
    n3 = idempotent_append(spark, more, target, ("o_orderkey",))
    assert n3 == 300
    total = spark.read.parquet(target)
    assert total.count() == 800
    assert total.select("o_orderkey").distinct().count() == 800


def test_idempotent_append_null_safe_composite_key(spark, tmp_path):
    # composite PK with a null component must match its stored copy —
    # plain `=` never matches null, which re-appended such rows forever
    # (found by the end-to-end pipeline run on the illness table)
    target = str(tmp_path / "nullable_pk_tbl")
    rows = [(1, None, "a"), (1, "x", "b"), (None, None, "c")]
    df = spark.createDataFrame(rows, "k1 int, k2 string, payload string")
    assert idempotent_append(spark, df, target, ("k1", "k2")) == 3
    assert idempotent_append(spark, df, target, ("k1", "k2")) == 0
    assert spark.read.parquet(target).count() == 3
    # a genuinely new null-bearing key still lands
    more = spark.createDataFrame(
        [(2, None, "d"), (1, None, "dup")], "k1 int, k2 string, payload string"
    )
    assert idempotent_append(spark, more, target, ("k1", "k2")) == 1
    assert spark.read.parquet(target).count() == 4


def test_idempotent_append_partition_layout_guard(spark, tmp_path):
    """Appending under a different partitioning than the stored table
    must raise — a mixed directory layout reads back but can never be
    partition-pruned consistently."""
    import pytest

    target = str(tmp_path / "layout_tbl")
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "pk int, part string, v string"
    )
    assert idempotent_append(
        spark, df, target, ("pk",), partition_cols=("part",)
    ) == 2
    # same layout: fine (and idempotent)
    assert idempotent_append(
        spark, df, target, ("pk",), partition_cols=("part",)
    ) == 0
    # unpartitioned append into a partitioned table: refused
    with pytest.raises(ValueError, match="partition layout mismatch"):
        idempotent_append(spark, df, target, ("pk",))
    # different partition column: refused
    with pytest.raises(ValueError, match="partition layout mismatch"):
        idempotent_append(
            spark, df, target, ("pk",), partition_cols=("v",)
        )
    # an empty first append into a partitioned target creates nothing,
    # so the next append still sets the layout
    late = str(tmp_path / "late_tbl")
    assert idempotent_append(
        spark, df.limit(0), late, ("pk",), partition_cols=("part",)
    ) == 0
    assert idempotent_append(
        spark, df, late, ("pk",), partition_cols=("part",)
    ) == 2
    # flat table + partitioned append: refused the other way too
    flat = str(tmp_path / "flat_tbl")
    assert idempotent_append(spark, df, flat, ("pk",)) == 2
    with pytest.raises(ValueError, match="partition layout mismatch"):
        idempotent_append(
            spark, df, flat, ("pk",), partition_cols=("part",)
        )


def test_partitioned_write_prunes(spark, tmp_path):
    target = str(tmp_path / "events_tbl")
    ev = load_table(spark, SF_ORACLE, "events").withColumn(
        "day", F.to_date("ts")
    )
    write_table(ev, target, partition_by=("event_type",))
    assert os.path.isdir(os.path.join(target, "event_type=click"))
    one = spark.read.parquet(target).filter(F.col("event_type") == "click")
    # partition pruning: only the click directory is scanned
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert one.count() > 0
    assert "PartitionFilters" in plan or "event_type" in plan


def test_pk_fk_validation(spark):
    from flu_data_pipeline_spark.plans.flu_fixtures import census_df, fluview_df
    from flu_data_pipeline_spark.plans.flu_tables import (
        build_county_region,
        build_illness,
        preprocess_rhino,
    )
    from flu_data_pipeline_spark.plans.flu_fixtures import rhino_df

    rhino_pre = preprocess_rhino(rhino_df(spark))
    cr = build_county_region(census_df(spark), rhino_pre)
    illness = build_illness(rhino_pre, cr, fluview_df(spark))
    assert validate_primary_key(cr, "county_region") == 0
    assert validate_primary_key(illness, "illness") == 0
    assert validate_foreign_key(illness, cr, "county_id") == 0


def test_bucketed_join_no_shuffle(spark):
    """Bucketing both join sides on the key makes the join shuffle-free —
    the 100TB co-location strategy for repeated fact-fact joins (the
    at-rest twin of repartition-before-join). Plan must contain NO
    Exchange on either side of the SortMergeJoin."""
    orders = load_table(spark, SF_SMOKE, "orders")
    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").saveAsTable("b_orders"))
    (lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey")
     .sortBy("l_orderkey").saveAsTable("b_lineitem"))
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path: broadcast would trivially avoid the
        # shuffle and bypass the bucketing we want to prove
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange hashpartitioning" not in plan, (
            f"bucketed join still shuffles:\n{plan[:2000]}"
        )
        # sanity: same result as the unbucketed join
        assert j.count() == orders.join(
            lineitem, F.col("o_orderkey") == F.col("l_orderkey")
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_merge_upsert(spark, tmp_path):
    """MERGE: matched keys take the incoming row's values; unmatched keys
    insert; untouched rows survive byte-identical."""
    from pyspark.sql import functions as F

    from flu_data_pipeline_spark.sources.writers import merge_upsert

    target = str(tmp_path / "merge_tbl")
    orders = load_table(spark, SF_ORACLE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.limit(500)
    n_upd, n_ins = merge_upsert(spark, base, target, ("o_orderkey",))
    assert (n_upd, n_ins) == (0, 500)

    # increment: 200 updated rows (keys in base, new values) + 100 new keys
    keys = [r["o_orderkey"] for r in base.select("o_orderkey").collect()]
    upd = (
        orders.filter(F.col("o_orderkey").isin(keys[:200]))
        .withColumn("o_totalprice", F.lit(-1.0))
    )
    new = (
        orders.join(base.select("o_orderkey"), ["o_orderkey"], "left_anti").limit(100)
    )
    n_upd, n_ins = merge_upsert(spark, upd.unionByName(new), target, ("o_orderkey",))
    assert (n_upd, n_ins) == (200, 100)

    final = spark.read.parquet(target)
    assert final.count() == 600
    assert final.filter("o_totalprice = -1.0").count() == 200
    # idempotent: replaying the same increment changes nothing
    n_upd2, n_ins2 = merge_upsert(spark, upd.unionByName(new), target, ("o_orderkey",))
    assert (n_upd2, n_ins2) == (300, 0)
    assert spark.read.parquet(target).count() == 600
    assert spark.read.parquet(target).filter("o_totalprice = -1.0").count() == 200


def test_orc_roundtrip_pushdown(spark, tmp_path):
    """ORC write/read roundtrip preserves values; predicate and projection
    reach the ORC scan (pushdown parity with parquet)."""
    from flu_data_pipeline_spark.sources.readers import read_orc
    from flu_data_pipeline_spark.sources.writers import write_orc

    target = str(tmp_path / "orders_orc")
    orders = load_table(spark, SF_ORACLE, "orders").limit(1000)
    write_orc(orders, target)
    back = read_orc(spark, target)
    assert back.count() == 1000
    assert sorted(back.columns) == sorted(orders.columns)
    q = back.filter("o_totalprice > 200000").select("o_orderkey", "o_totalprice")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_totalprice" in plan.split("PushedFilters")[1][:200]
    expected = orders.filter("o_totalprice > 200000").count()
    assert q.count() == expected


def test_clustered_write_layout(spark, tmp_path):
    """clustered_write produces the requested file count with disjoint,
    internally-sorted cluster-key ranges (the parquet min/max pruning
    precondition)."""
    import glob

    from flu_data_pipeline_spark.sources.writers import clustered_write

    target = str(tmp_path / "orders_clustered")
    orders = load_table(spark, SF_ORACLE, "orders")
    clustered_write(orders, target, ("o_totalprice",), n_files=8)

    files = sorted(glob.glob(target + "/part-*.parquet"))
    assert len(files) == 8
    # per-file ranges must be disjoint and rows sorted within each file
    ranges = []
    total = 0
    for f in files:
        pdf = spark.read.parquet(f).select("o_totalprice").toPandas()
        if pdf.empty:
            continue
        vals = pdf["o_totalprice"].tolist()
        assert vals == sorted(vals), f"rows not sorted inside {f}"
        ranges.append((min(vals), max(vals)))
        total += len(vals)
    assert total == orders.count()
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file key ranges overlap - no skipping possible"


def test_custom_python_datasource(spark):
    """Spark 4 Python DataSource: registered format reads with its own
    partition planning; contents are the deterministic id-derived rows."""
    from flu_data_pipeline_spark.sources.pysource import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthevents")
        .option("rows", 300)
        .option("partitions", 5)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    rows = sorted((r["event_id"], r["user_id"], r["event_type"], r["value"])
                  for r in df.collect())
    assert len(rows) == 300
    types = ("view", "click", "purchase")
    for eid, uid, et, val in rows[:50]:
        assert uid == eid % 97
        assert et == types[eid % 3]
        assert val == (eid % 1000) / 10.0
    # filters/projection still flow through the standard scan pipeline
    assert df.filter("event_type = 'click'").count() == 100


def test_csv_malformed_record_modes(spark, tmp_path):
    """The three malformed-record policies: PERMISSIVE nulls + dead-letter
    capture, DROPMALFORMED removal, FAILFAST abort."""
    import pytest
    from pyspark.sql import types as T

    from flu_data_pipeline_spark.sources.readers import read_csv

    p = str(tmp_path / "feed.csv")
    with open(p, "w") as f:
        f.write("id,score\n1,10.5\n2,notanumber\n3,7.25\n")
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), True),
            T.StructField("score", T.DoubleType(), True),
        ]
    )
    ok = read_csv(spark, p, schema, corrupt_col="_bad")
    rows = {r["id"]: (r["score"], r["_bad"]) for r in ok.collect()}
    assert rows[1] == (10.5, None) and rows[3] == (7.25, None)
    assert rows[2][0] is None and "notanumber" in rows[2][1]

    dropped = read_csv(spark, p, schema, mode="DROPMALFORMED")
    assert sorted(r["id"] for r in dropped.collect()) == [1, 3]

    with pytest.raises(Exception) as exc:
        read_csv(spark, p, schema, mode="FAILFAST").collect()
    assert "Malformed" in str(exc.value) or "FAILFAST" in str(exc.value)


def test_delete_rows(spark, tmp_path):
    """Key-targeted deletion removes exactly the matching rows and is a
    no-op for absent keys."""
    from flu_data_pipeline_spark.sources.writers import delete_rows, write_table

    target = str(tmp_path / "del_tbl")
    orders = load_table(spark, SF_ORACLE, "orders").limit(400)
    write_table(orders, target)
    doomed = orders.limit(150).select("o_orderkey")
    n = delete_rows(spark, target, doomed, ("o_orderkey",))
    assert n == 150
    remaining = spark.read.parquet(target)
    assert remaining.count() == 250
    assert remaining.join(doomed, ["o_orderkey"], "left_semi").count() == 0
    # absent keys: no-op, no rewrite
    n2 = delete_rows(spark, target, doomed, ("o_orderkey",))
    assert n2 == 0
    assert spark.read.parquet(target).count() == 250


def test_write_jdbc_wiring_reaches_driver_resolution(spark):
    """S5 JDBC sink: no driver jars exist here, so a correct JDBC plan must
    fail at *driver resolution* (proving url/dbtable/options wiring went
    through Spark's JDBC path, not an earlier API error)."""
    import pytest as _pytest

    from flu_data_pipeline_spark.sources.writers import write_jdbc

    df = spark.range(10).withColumnRenamed("id", "k")
    with _pytest.raises(Exception) as ei:
        write_jdbc(
            df,
            url="jdbc:postgresql://localhost:5432/flu",
            table="flu_raw",
            num_partitions=2,
        )
    msg = str(ei.value)
    assert "driver" in msg.lower() or "ClassNotFound" in msg


def test_dynamic_partition_overwrite(spark, tmp_path):
    """write_partition_overwrite replaces only the partitions present in
    the incoming batch; replaying the batch is idempotent."""
    from flu_data_pipeline_spark.sources.writers import write_partition_overwrite

    path = str(tmp_path / "dpo")
    full = spark.createDataFrame(
        [(1, "2025-01", 10.0), (2, "2025-01", 20.0), (3, "2025-02", 30.0)],
        "id long, month string, v double",
    )
    write_partition_overwrite(full, path, ("month",))

    # today's batch: rewrites 2025-02 only (new value + new row)
    batch = spark.createDataFrame(
        [(3, "2025-02", 99.0), (4, "2025-02", 40.0)],
        "id long, month string, v double",
    )
    for _ in range(2):  # replay → same result (idempotent per partition)
        write_partition_overwrite(batch, path, ("month",))
        got = {
            (r["id"], r["month"]): r["v"] for r in spark.read.parquet(path).collect()
        }
        assert got == {
            (1, "2025-01"): 10.0,
            (2, "2025-01"): 20.0,
            (3, "2025-02"): 99.0,
            (4, "2025-02"): 40.0,
        }


def test_bucketed_smb_join_no_exchange(spark, tmp_path):
    """Both sides bucketed by the join key into the same bucket count →
    the executed sort-merge join contains NO Exchange: the per-query
    fact-to-fact shuffle is traded for a one-time bucketed write."""
    from flu_data_pipeline_spark.sources.writers import write_bucketed

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    try:
        write_bucketed(
            orders, "orders_b", str(tmp_path / "orders_b"), 8, ("o_orderkey",)
        )
        write_bucketed(
            li, "lineitem_b", str(tmp_path / "lineitem_b"), 8, ("l_orderkey",)
        )
        a, b = spark.table("orders_b"), spark.table("lineitem_b")
        # hint forces SMJ (at sf0.001 the small side would be broadcast;
        # at real scale both sides are facts and SMJ is what AQE picks)
        joined = a.hint("merge").join(
            b, a["o_orderkey"] == b["l_orderkey"]
        ).agg(F.sum("l_quantity").alias("qty"), F.count(F.lit(1)).alias("n"))
        got = joined.collect()[0]

        # The one-row final aggregate keeps its SinglePartition exchange;
        # the join itself must introduce NO repartitioning — the bucketed
        # scans already satisfy the SMJ's hash-distribution requirement.
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "BroadcastExchange" not in plan, plan

        plain = (
            orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
            .agg(F.sum("l_quantity").alias("qty"), F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )
        assert got["n"] == plain["n"] and got["qty"] == plain["qty"]
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Schema evolution across file generations: a v2 writer adds a column
    and a v1 reader's column order differs; mergeSchema must union the
    schemas, null-fill the missing column for v1 files, and keep
    column-pruning working (reading only v1 columns must not fail on v2
    files). The landing-zone reality at 100 TB: producers upgrade
    without rewriting history."""
    base = str(tmp_path / "evolving")
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id bigint, name string, score double"
    )
    v1.write.parquet(base + "/gen=1")
    v2 = spark.createDataFrame(
        [(3, "c", 30.0, "en"), (4, "d", 40.0, "fr")],
        "id bigint, name string, score double, lang string",
    )
    v2.write.parquet(base + "/gen=2")

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"id", "name", "score", "lang", "gen"}
    rows = {r["id"]: r for r in merged.collect()}
    assert len(rows) == 4
    # v1 rows get null for the added column, v2 rows keep it
    assert rows[1]["lang"] is None and rows[3]["lang"] == "en"
    # pruned read touching only v1-era columns works over both generations
    assert merged.select("id", "score").count() == 4
    # aggregation across generations sees every row exactly once
    assert merged.agg(F.sum("id")).collect()[0][0] == 10


def test_analyze_stats_feed_cbo(spark, tmp_path):
    """Catalog tables + ANALYZE: table and column statistics persist in
    the metastore and, with CBO on, the optimizer's logical plan carries
    the analyzed row count — the precondition for cost-based join
    reordering on a real cluster (SURVEY §4.2). Runtime-settable conf,
    restored after."""
    prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    loc = str(tmp_path / "cbo_t")
    try:
        spark.sql(
            f"CREATE TABLE cbo_stats_t (k BIGINT, v STRING) "
            f"USING parquet LOCATION '{loc}'"
        )
        spark.range(1000).selectExpr(
            "id as k", "cast(id as string) as v"
        ).write.insertInto("cbo_stats_t")
        spark.sql("ANALYZE TABLE cbo_stats_t COMPUTE STATISTICS FOR ALL COLUMNS")

        desc = {
            r.col_name: r.data_type
            for r in spark.sql("DESCRIBE EXTENDED cbo_stats_t").collect()
        }
        assert "1000 rows" in desc.get("Statistics", ""), desc.get("Statistics")

        # column-level stats: distinct-count for the key column
        kdesc = {
            r.info_name: r.info_value
            for r in spark.sql("DESCRIBE EXTENDED cbo_stats_t k").collect()
        }
        assert kdesc.get("distinct_count") not in (None, "NULL"), kdesc

        spark.conf.set("spark.sql.cbo.enabled", "true")
        stats = (
            spark.table("cbo_stats_t")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        assert "1000" in stats.rowCount().toString(), stats.rowCount().toString()
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)
        spark.sql("DROP TABLE IF EXISTS cbo_stats_t")


def test_dynamic_partition_pruning(spark, tmp_path):
    """Dynamic partition pruning: when the partition-column filter only
    materializes at runtime through a join (dim side filtered, fact side
    partitioned), the fact scan must carry a dynamicpruning subquery so
    non-qualifying partitions are skipped — the mechanism that makes
    star-schema joins over partitioned 100 TB facts read only the
    partitions the dim selects."""
    target = str(tmp_path / "events_dpp")
    ev = load_table(spark, SF_ORACLE, "events")
    write_table(ev, target, partition_by=("event_type",))
    fact = spark.read.parquet(target)
    dim = spark.createDataFrame(
        [("click", 1), ("view", 0), ("purchase", 0)],
        "event_type string, flag int",
    )
    joined = fact.join(dim.filter(F.col("flag") == 1), "event_type")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result is exactly the click partition
    n_click = fact.filter(F.col("event_type") == "click").count()
    assert joined.count() == n_click > 0


def test_runtime_bloom_filter_join_prunes_probe_side(spark):
    """Runtime Bloom-filter join injection: with a selective filter on the
    creation side, the optimizer builds a bloom_filter_agg over the join
    keys and semi-prunes the probe-side scan before the shuffle — the
    automatic engine twin of the manual bloom_semi_prune query.
    Thresholds are lowered because the feature gates on estimated sizes
    tuned for clusters; results must be identical with and without."""
    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF_ORACLE, "lineitem")
        orders = load_table(spark, SF_ORACLE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        with_bloom = j.count()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    li = load_table(spark, SF_ORACLE, "lineitem")
    orders = load_table(spark, SF_ORACLE, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    assert li.join(orders, li.l_orderkey == orders.o_orderkey).count() == with_bloom


def test_aqe_coalesces_shuffle_partitions(spark):
    """AQE partition coalescing: with an oversized shuffle.partitions
    setting, the post-shuffle read must coalesce at runtime to a
    byte-targeted partition count instead of launching hundreds of tiny
    tasks — the knob that makes one static config survive both sf0.001
    and a 100 TB run (session.py's scale rationale, proven)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        df = (
            load_table(spark, SF_ORACLE, "lineitem")
            .groupBy("l_returnflag")
            .agg(F.sum("l_quantity").alias("q"))
        )
        # execute THIS frame (count() would plan a different query and
        # leave this one's adaptive plan unfinalized)
        assert len(df.collect()) > 0
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:300]
        assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:1500]
        assert df.rdd.getNumPartitions() < 200
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_python_datasource_filter_pushdown(spark):
    """Spark 4.1 Python DataSource filter pushdown: with the planner gate
    on, range/equality predicates reach SyntheticEventsReader.pushFilters,
    the accepted filters are REMOVED from the Spark plan, and the source
    generates only matching rows — results must equal the unpushed twin
    (if the source ignored an accepted filter, extra rows would leak and
    this test would fail)."""
    from flu_data_pipeline_spark.sources.pysource import register_synthetic_source

    register_synthetic_source(spark)
    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        def scan():
            return (
                spark.read.format("synthevents")
                .option("rows", 300)
                .option("partitions", 5)
                .load()
            )

        pushed = scan().filter(
            "event_id >= 30 AND event_id < 120 AND event_type = 'click'"
        )
        got = sorted(r["event_id"] for r in pushed.collect())
        expect = [e for e in range(30, 120) if e % 3 == 1]
        assert got == expect
        # value predicate is NOT pushable by the reader (returned to
        # Spark): still filtered correctly by the retained Filter node
        mixed = scan().filter("event_id < 60 AND value > 3.0")
        assert sorted(r["event_id"] for r in mixed.collect()) == [
            e for e in range(60) if (e % 1000) / 10.0 > 3.0
        ]
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)


def test_parquet_compression_codecs_roundtrip(spark, tmp_path):
    """S5 codec surface: zstd/snappy/gzip writes all round-trip exactly;
    zstd compresses the repetitive fact below snappy (the cold-table
    default at scale)."""
    import glob

    from flu_data_pipeline_spark.sources.writers import write_table

    li = load_table(spark, SF_SMOKE, "lineitem").limit(2000)
    want = li.count()
    sizes = {}
    for codec in ("zstd", "snappy", "gzip"):
        p = str(tmp_path / codec)
        write_table(li, p, compression=codec)
        back = spark.read.parquet(p)
        assert back.count() == want, codec
        sizes[codec] = sum(
            os.path.getsize(f) for f in glob.glob(p + "/*.parquet")
        )
        files = glob.glob(p + "/*.parquet")
        assert any(f".{codec.replace('zstd', 'zstd')}." in f or codec in f
                   for f in files), files
    assert sizes["zstd"] < sizes["snappy"], sizes


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema evolution across appended generations: a later writer adds
    a column; mergeSchema reconciles the footers and old rows surface
    null for the new column — the contract that lets a 100 TB table
    evolve without rewriting history. The default (no mergeSchema) read
    keeps the first-found schema rather than failing."""
    p = str(tmp_path / "evolving")
    spark.range(0, 10).selectExpr("id", "id * 2 AS v").write.parquet(p)
    spark.range(10, 20).selectExpr(
        "id", "id * 2 AS v", "CAST(id AS STRING) AS tag"
    ).write.mode("append").parquet(p)

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "v", "tag"}
    assert merged.count() == 20
    old_gen = merged.filter("id < 10")
    assert old_gen.filter("tag IS NULL").count() == 10
    new_gen = merged.filter("id >= 10 AND tag IS NOT NULL")
    assert new_gen.count() == 10


def test_pysource_contradictory_equalities_yield_empty_scan():
    """Two different pushed EqualTo(event_type) filters are accepted as
    an empty id range instead of last-write-wins — correctness must not
    depend on the planner collapsing contradictory equalities before
    pushdown (it does in 4.1.2, but that is planner behavior, not an
    API guarantee)."""
    from pyspark.sql.datasource import EqualTo, InputPartition

    from flu_data_pipeline_spark.sources.pysource import SyntheticEventsReader

    r = SyntheticEventsReader({"rows": "100", "partitions": "2"})
    leftover = list(
        r.pushFilters(
            [EqualTo(("event_type",), "view"), EqualTo(("event_type",), "click")]
        )
    )
    assert leftover == []  # both accepted (removed from Spark's plan)
    assert r.id_hi == r.id_lo  # ...because the scan is provably empty
    assert list(r.read(InputPartition(0))) == []
    assert list(r.read(InputPartition(1))) == []
    # same-value duplicate equality keeps the scan intact
    r2 = SyntheticEventsReader({"rows": "100", "partitions": "2"})
    list(r2.pushFilters(
        [EqualTo(("event_type",), "view"), EqualTo(("event_type",), "view")]
    ))
    assert r2.id_hi > r2.id_lo and r2.etype == "view"


def test_cleaned_corpus_pipeline_runtime(spark, tmp_path):
    """Cleaned-corpus write path, runtime contract: partitioned layout
    on disk, second-run ZERO delta (full-batch replay appends nothing),
    and fingerprint invalidation rebuilds from scratch."""
    from flu_data_pipeline_spark.plans.text_queries import (
        _cleaned_corpus_paths,
    )

    base = str(tmp_path / "cleaned")
    corpus, manifest, rerun, _ = _cleaned_corpus_paths(
        spark, SF_SMOKE, base_dir=base
    )
    # first invocation: built + replayed; replay must append nothing
    assert rerun == 0
    # hive layout: one directory per source partition
    parts = [d for d in os.listdir(corpus) if d.startswith("source=")]
    assert len(parts) > 1
    back = spark.read.parquet(corpus)
    docs = load_table(spark, SF_SMOKE, "documents")
    assert back.count() == docs.count()
    # every doc exactly once (PK holds through append + replay)
    assert back.select("doc_id").distinct().count() == docs.count()
    # manifest covers the corpus, shards contiguous from 0 per source
    man = spark.read.parquet(manifest)
    assert man.count() == docs.count()
    assert man.agg(F.min("shard_id")).first()[0] == 0
    # second invocation on the SAME fingerprint: no rebuild, still 0
    _, _, rerun2, _ = _cleaned_corpus_paths(spark, SF_SMOKE, base_dir=base)
    assert rerun2 == 0
    assert back.count() == docs.count()
    # stale fingerprint forces a rebuild (never serve a stale corpus)
    with open(os.path.join(corpus, "_SRC_FINGERPRINT"), "w") as fh:
        fh.write("stale")
    _, _, rerun3, _ = _cleaned_corpus_paths(spark, SF_SMOKE, base_dir=base)
    assert rerun3 == 0
    assert spark.read.parquet(corpus).count() == docs.count()


# ---------------------------------------------------------------------------
# catalog.read_parquet: one schema inference per file state
# ---------------------------------------------------------------------------


def _read_counting_jobs(spark, path):
    """``read_parquet(spark, path)`` and the number of Spark jobs it
    submitted, read from the status store."""
    from perfbench.spans import StatusStore

    store = StatusStore(spark)
    token = store.mark()
    df = read_parquet(spark, path)
    return df, store.since(token)["jobs"]


def test_read_parquet_second_read_of_unchanged_file_runs_no_job(spark, tmp_path):

    path = str(tmp_path / "t")
    spark.range(20).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(path)
    first, inferred = _read_counting_jobs(spark, path)
    again, memoized = _read_counting_jobs(spark, path)
    assert inferred >= 1 and memoized == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_read_parquet_overwritten_file_returns_new_schema(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq


    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    got = read_parquet(spark, path)
    assert got.columns == ["b", "c"]
    assert [tuple(r) for r in got.collect()] == [("x", 1.5)]


def test_read_parquet_append_to_directory_reinfers(spark, tmp_path):

    path = str(tmp_path / "grow")
    spark.range(5).write.parquet(path)
    read_parquet(spark, path)
    assert _read_counting_jobs(spark, path)[1] == 0
    spark.range(5, 8).write.mode("append").parquet(path)
    grown, jobs = _read_counting_jobs(spark, path)
    assert jobs >= 1
    assert grown.count() == 8


def test_read_parquet_nanos_conf_flip_reinfers(spark, tmp_path):
    """The memoized schema must not outlive the conf it was inferred
    under: with ``nanosAsLong`` off a TIMESTAMP(NANOS) column is
    unreadable, so a read after the flip has to fail in inference rather
    than serve the long-typed schema inferred with it on."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest


    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_000, 2_000], pa.timestamp("ns"))}), path)
    s = spark.newSession()
    key = "spark.sql.legacy.parquet.nanosAsLong"
    s.conf.set(key, "true")
    assert dict(read_parquet(s, path).dtypes)["ts"] == "bigint"
    assert _read_counting_jobs(s, path)[1] == 0
    s.conf.set(key, "false")
    with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
        read_parquet(s, path)
    s.conf.set(key, "true")
    assert dict(read_parquet(s, path).dtypes)["ts"] == "bigint"


def test_read_parquet_partitioned_directory_matches_plain_read(spark, tmp_path):
    import re


    path = str(tmp_path / "lists")
    (
        spark.range(40)
        .selectExpr("id AS vec_id", "CAST(id % 4 AS INT) AS list_id", "id * 0.5 AS x")
        .write.partitionBy("list_id")
        .parquet(path)
    )
    plain = spark.read.parquet(path)
    read_parquet(spark, path)
    memo = read_parquet(spark, path)  # served from the memoized schema
    assert memo.columns == plain.columns == ["vec_id", "x", "list_id"]
    assert memo.schema == plain.schema
    assert sorted(memo.collect()) == sorted(plain.collect())
    one = memo.filter(F.col("list_id") == 2)
    assert one.count() == 10
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*list_id", plan), plan


def test_read_parquet_concurrent_readers_get_their_own_schema(spark, tmp_path):
    """The memo is shared by driver threads (``overlap``): many threads
    reading two tables of different schemas, with a short switch
    interval, must each get the schema and rows of the path they read."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    paths = {
        "ab": (str(tmp_path / "ab"), ["a", "b"]),
        "xyz": (str(tmp_path / "xyz"), ["x", "y", "z"]),
    }
    spark.range(3).selectExpr("id AS a", "id AS b").write.parquet(paths["ab"][0])
    spark.range(4).selectExpr("id AS x", "id AS y", "id AS z").write.parquet(paths["xyz"][0])

    def read(key):
        path, cols = paths[key]
        df = read_parquet(spark, path)
        return df.columns == cols and df.count() == len(cols) + 1

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(read, k) for k in ("ab", "xyz") * 8]
            got = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert got == [True] * 16


def test_derived_table_builds_only_when_stale(tmp_path):
    """``catalog.derived_table`` calls the build only when the artifact
    is missing, a source table was rewritten, the params changed, or a
    source's file state cannot be read; otherwise it serves the path
    it built, ``<repo>/.testdata/<kind>/<sf tag>/<name>``."""
    import shutil

    from flu_data_pipeline_spark.catalog import derived_table

    sf_dir = tmp_path / f"sf_derived_{os.getpid()}"
    sf_dir.mkdir()
    (sf_dir / "src.parquet").write_bytes(b"v1")
    kind_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".testdata",
        "derived_table_test",
    )
    built = []

    def build(path):
        built.append(path)
        os.makedirs(path, exist_ok=True)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    def get(params="", sources=("src",)):
        derived_table(
            "derived_table_test", str(sf_dir), "t", sources, build, params=params
        )
        return len(built)

    try:
        assert get() == 1
        assert built == [os.path.join(kind_dir, sf_dir.name, "t")]
        # an unchanged source does not call the build
        assert get() == 1
        # a rewritten source rebuilds, once
        (sf_dir / "src.parquet").write_bytes(b"v2, rewritten")
        assert get() == 2
        assert get() == 2
        # changed params rebuild, once
        assert get(params="k2") == 3
        assert get(params="k2") == 3
        # a source whose file state cannot be read is never fresh
        assert get(sources=("src", "missing")) == 4
        assert get(sources=("src", "missing")) == 5
    finally:
        shutil.rmtree(kind_dir, ignore_errors=True)


#: Literals each held by one module only, as ``name: (module, pattern,
#: a stray use the pattern must catch)``. ``catalog.py`` holds a bare
#: parquet read (schema inference with a Spark job on every call; use
#: ``catalog.read_parquet``) and the persisted-artifact path and marker
#: (use ``catalog.derived_table``). ``operators/materialize.py`` holds
#: every checkpoint and persist (use ``materialize.barrier``).
#: ``sources/writers.py`` holds the one cache: ``idempotent_append``
#: caches its anti-joined increment for a count and a write and
#: unpersists it before returning, a lifetime scoped to one call that no
#: barrier has, and ``etl_load`` measures it. ``operators/dedup.py``
#: holds the one whitespace word split (use ``dedup.tokenize``).
_ONE_MODULE_ONLY = {
    "bare_parquet_read": (
        "catalog.py",
        r"\.read\s*\.\s*(parquet\s*\(|format\(\s*['\"]parquet)",
        "spark.read.parquet(path)",
    ),
    "testdata_path": (
        "catalog.py", r"['\"]\.testdata", 'os.path.join(ROOT, ".testdata", "x")'
    ),
    "artifact_marker": (
        "catalog.py", r"_SRC_FINGERPRINT", 'os.path.join(path, "_SRC_FINGERPRINT")'
    ),
    "local_checkpoint": (
        "operators/materialize.py", r"localCheckpoint\(", "df.localCheckpoint()"
    ),
    "reliable_checkpoint": (
        "operators/materialize.py", r"\.checkpoint\(", "df.checkpoint()"
    ),
    "persist": ("operators/materialize.py", r"\.persist\(", "df.persist()"),
    "cache": ("sources/writers.py", r"\.cache\(\)", "df.cache()"),
    "whitespace_tokens": (
        "operators/dedup.py",
        r"F\.split\(\s*F\.lower\(\s*F\.trim",
        'F.split(F.lower(F.trim(F.col("text"))), r"\\s+")',
    ),
}


def _offenders(root: str, literal: str) -> list[str]:
    """``path:line`` of every match of ``literal``'s pattern in the
    package under ``root`` outside the module that may hold it."""
    import glob
    import re

    module, pattern, _ = _ONE_MODULE_ONLY[literal]
    found = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        if rel == module:
            continue
        with open(path) as fh:
            text = fh.read()
        for m in re.finditer(pattern, text):
            found.append(f"{rel}:{text.count(chr(10), 0, m.start()) + 1}")
    return found


@pytest.mark.parametrize("literal", sorted(_ONE_MODULE_ONLY))
def test_no_schema_inferring_parquet_read_outside_catalog(literal, tmp_path):
    """Every parquet read and every persisted derived table in the
    package goes through ``catalog``, and every driver-side
    materialization through ``materialize.barrier``, so a bare read that
    infers the schema with a Spark job on every call, a second
    hand-rolled artifact cache, or a checkpoint that picks its own
    policy and names no jobs cannot come back. A stray copy of the
    literal in another module is caught."""
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "flu_data_pipeline_spark",
    )
    module, _, stray = _ONE_MODULE_ONLY[literal]
    offenders = _offenders(root, literal)
    assert not offenders, f"{literal} outside {module}: {offenders}"

    (tmp_path / "plans").mkdir()
    (tmp_path / "plans" / "stray.py").write_text(stray + "\n")
    assert _offenders(str(tmp_path), literal) == ["plans/stray.py:1"]
