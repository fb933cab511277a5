"""Oracle-checked Structured Streaming queries.

The rest of the streaming surface (:mod:`flu_data_pipeline_spark.streaming`)
is verified by runtime pytest (watermark drops, session windows, stateful
stats) because those behaviors are about *when* rows emit. This module
registers the cases where the streaming computation, driven to completion
with ``trigger(availableNow=True)``, must equal its batch twin exactly —
so Structured Streaming itself gets a hash-compared CORRECTNESS row, not
just a rows-only check.

Replayability contract (what makes an exact oracle possible):
- ``availableNow`` processes every file currently present, then stops —
  the stream result is a pure function of the input files;
- ``complete`` output mode emits ALL windows, including ones the
  watermark hasn't closed (append mode would truncate the tail hour);
- streaming aggregations can't do COUNT(DISTINCT) (state would be
  unbounded per group), so the rollup carries count + sum only — the
  batch twin ``events_hourly_rollup`` keeps the distinct-users column.

Scale notes (100 TB): the same pipeline pointed at a landing bucket with
a real trigger is incremental — per micro-batch work is new-files only,
state = open windows x event types (bounded by the watermark horizon),
and the memory sink becomes a parquet/foreachBatch sink. The stream
schema is taken from the file footer (one cheap static read) and the
``ts`` column normalized to TIMESTAMP exactly like catalog.load_table,
so both parquet timestamp flavors (NANOS-as-long, MICROS NTZ) work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import read_parquet
from flu_data_pipeline_spark.functions.hashing import hash64_sql
from flu_data_pipeline_spark.operators.materialize import barrier
from flu_data_pipeline_spark.plans.registry import register
from flu_data_pipeline_spark.plans.window_queries import SESSIONS_CTE_SQL

def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream with ``ts`` normalized to
    TIMESTAMP exactly like catalog.load_table (NANOS-as-long → integer
    div 1000; MICROS NTZ → cast under the pinned UTC session tz). The
    stream schema comes from one static footer read (readStream requires
    a declared schema); the listing is glob-pinned to the events file
    because the sibling tables' schemas differ."""
    import os

    raw_schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    for f in raw_schema.fields:
        if f.name == "ts" and f.dataType.typeName() == "long":
            stream = stream.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif f.name == "ts" and f.dataType.typeName() == "timestamp_ntz":
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_to_memory(agg: DataFrame, name: str, mode: str = "complete") -> None:
    """Drive a streaming computation over everything currently present
    (availableNow) into a memory sink named ``name`` — complete mode for
    aggregations (all windows visible), append for joins."""
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@register(
    "stream_hourly_rollup_exact",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Structured Streaming tumbling 1h rollup driven to completion: "
    "readStream(parquet) -> withWatermark -> window(ts, '1 hour') -> "
    "count/sum per event_type, memory sink, availableNow trigger, "
    "complete mode. The emitted table is hash-compared against the "
    "batch SQL — proving the streaming engine's event-time windowing "
    "computes exactly the batch answer on a replayed input (the "
    "streaming analogue of events_hourly_rollup, minus COUNT(DISTINCT) "
    "which streaming state rightly refuses).",
    tags=("streaming", "A7", "S3"),
)
def stream_hourly_rollup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    name = "stream_hourly_rollup_exact_sink"
    _run_to_memory(agg, name)
    return spark.table(name)


@register(
    "stream_session_window_exact",
    oracle=f"""
    WITH {SESSIONS_CTE_SQL}
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(duration_s) AS BIGINT) AS total_duration_s,
           ROUND(SUM(sum_value), 2) AS sum_value
    FROM sessions GROUP BY user_id
    """,
    doc="Structured Streaming session windows driven to completion: "
    "readStream -> session_window(ts, '30 minutes') per user (the "
    "state-store-backed gap-merge), availableNow, complete mode. "
    "Streaming allows one aggregation per query, so the stream emits "
    "per-(user, session) rows and the per-user rollup is a batch agg "
    "over the emitted memory table — the oracle is the identical "
    "gaps-and-islands CTE used by the batch twin events_session_window, "
    "so streaming session assignment is hash-compared exactly.",
    tags=("streaming", "window", "sessionize"),
)
def stream_session_window_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read_events_stream(spark, sf_dir)
    floored = ev.select(
        "user_id",
        "value",
        F.timestamp_seconds(F.unix_timestamp("ts")).alias("ts"),
    )
    per_session = (
        floored.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).alias("duration_s"),
            F.sum("value").alias("s_value"),
        )
    )
    name = "stream_session_window_exact_sink"
    _run_to_memory(per_session, name)
    return spark.table(name).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("duration_s").cast("long").alias("total_duration_s"),
        F.round(F.sum("s_value"), 2).alias("sum_value"),
    )


@register(
    "stream_interval_join_exact",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id AS purchase_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT user_id, event_id AS click_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id, c.click_id, p.user_id AS p_user
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.ts_s <= p.ts_s
     AND c.ts_s >= p.ts_s - 3600
    """,
    doc="Stream-stream event-time interval join driven to completion: "
    "purchases x clicks by the same user within the preceding hour "
    "(streaming/ingest.py:streaming_purchase_click_join — watermarked "
    "both sides so join state is bounded by the interval), availableNow, "
    "append sink. The emitted pair set is hash-compared against the "
    "batch interval join — matches whose sides arrive in different "
    "micro-batches must still pair exactly. Timestamps are floored to "
    "whole seconds on both engines (asof_purchase_click pattern) so the "
    "parquet ns-vs-us boundary can't flip an interval endpoint.",
    tags=("streaming", "join", "asof"),
)
def stream_interval_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flu_data_pipeline_spark.streaming.ingest import (
        streaming_purchase_click_join,
    )

    ev = _read_events_stream(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.unix_timestamp("ts"))
    )
    joined = streaming_purchase_click_join(ev)
    name = "stream_interval_join_exact_sink"
    _run_to_memory(joined, name, mode="append")
    return spark.table(name)


@register(
    "stream_dedup_exact",
    oracle="""
    WITH d AS (SELECT DISTINCT event_id FROM events)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_id,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM d
    """,
    doc="Structured Streaming stateful dedup driven to completion and "
    "hash-compared exactly: the event stream UNIONed with itself (every "
    "row arrives twice, possibly in different micro-batches) passes "
    "through dropDuplicates on the key, lands in a memory sink, and a "
    "batch summary over the emitted rows must equal batch DISTINCT on "
    "the original — proving the dedup state removed exactly the "
    "duplicate half. The summary aggregates only functions of the KEY "
    "SET (count/sum/min/max of event_id), so it is deterministic "
    "whichever physical copy the state kept. The runtime twin "
    "(test_streaming_dedup_within_watermark) covers the bounded-state "
    "watermark variant; at scale that is the production form — state "
    "size = keys within the watermark horizon, not all history.",
    tags=("streaming", "dedup", "A8"),
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read_events_stream(spark, sf_dir).select("event_id")
    doubled = ev.union(_read_events_stream(spark, sf_dir).select("event_id"))
    deduped = doubled.dropDuplicates(["event_id"])
    name = "stream_dedup_exact_sink"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("event_id").cast("long").alias("sum_id"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )


@register(
    "stream_burst_collapse_exact",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
               LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
               ) AS prev_s
        FROM events
    ), marked AS (
        SELECT *, CASE WHEN prev_s IS NULL OR ts_s - prev_s > 5
                       THEN 1 ELSE 0 END AS is_new
        FROM seq
    ), numbered AS (
        SELECT *, CAST(SUM(is_new) OVER (
                  PARTITION BY user_id, event_type
                  ORDER BY ts_s, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS burst_idx
        FROM marked
    ), bursts AS (
        SELECT user_id, event_type, burst_idx,
               CAST(COUNT(*) AS BIGINT) AS burst_size
        FROM numbered GROUP BY 1, 2, 3
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_bursts,
           CAST(SUM(burst_size) AS BIGINT) AS n_events,
           CAST(MAX(burst_size) AS BIGINT) AS max_burst
    FROM bursts GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Streaming twin of events_burst_collapse, hash-compared exactly: "
    "the burst rule 'same burst while consecutive events are <= 5 s "
    "apart (integer seconds)' is EXACTLY session_window(ts_floored, "
    "'5 seconds') — session windows merge an event landing ON the "
    "previous session's end (diff == gap merges, diff > gap splits; "
    "pinned by test_burst_session_window_gap_boundary on constructed "
    "5 s/6 s gaps), matching the batch lag rule boundary-for-"
    "boundary. The "
    "stream groups by (session_window, user, event_type) in the state "
    "store, availableNow to a memory sink, and the per-event-type "
    "rollup over emitted bursts must equal the batch gaps-and-islands "
    "CTE. At scale this is the 'collapse retry/click storms at "
    "ingest' operator: state per key = one open burst, closed by the "
    "watermark; the batch twin is the backfill path.",
    tags=("streaming", "events", "sessionize", "D2"),
)
def stream_burst_collapse_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read_events_stream(spark, sf_dir)
    floored = ev.select(
        "user_id",
        "event_type",
        F.timestamp_seconds(F.unix_timestamp("ts")).alias("ts"),
    )
    per_burst = (
        floored.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "5 seconds"), "user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("burst_size"))
    )
    name = "stream_burst_collapse_exact_sink"
    _run_to_memory(per_burst, name)
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bursts"),
            F.sum("burst_size").cast("long").alias("n_events"),
            F.max("burst_size").cast("long").alias("max_burst"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_topk_exact",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY user_id
    ORDER BY n_events DESC, user_id
    LIMIT 10
    """,
    doc="Structured Streaming live leaderboard driven to completion: "
    "readStream -> groupBy(user_id) count/sum -> ORDER BY + LIMIT 10, "
    "memory sink, availableNow, complete mode (the only output mode "
    "where streaming allows a global sort, because the full result is "
    "re-emitted each trigger). Hash-compared against the batch top-10 "
    "with ties pinned on (count DESC, user_id) — the always-on "
    "dashboard top-k every event platform runs. State note: complete-"
    "mode aggregation state is O(distinct users), the accepted cost "
    "of a live leaderboard; at 100 TB you bound it by windowing the "
    "leaderboard period (see decayed_user_leaderboard for the "
    "incremental-merge variant).",
    tags=("streaming", "A7", "O3", "S3"),
)
def stream_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
    )
    name = "stream_topk_exact_sink"
    _run_to_memory(agg, name)
    return spark.table(name)


@register(
    "stream_changelog_compaction_exact",
    oracle=f"""
    WITH log AS (
        SELECT user_id, epoch_us(ts) AS tsu, event_id,
               CASE WHEN {hash64_sql('CAST(event_id AS VARCHAR)')} % 10 = 0
                    THEN 'D' ELSE 'U' END AS op
        FROM events
    ), ranked AS (
        SELECT user_id, tsu, event_id, op,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY tsu DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        FROM log
    )
    SELECT user_id,
           CAST(n_changes AS BIGINT) AS n_changes,
           op AS last_op,
           CAST(op = 'D' AS INT) AS tombstoned
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
    doc="Streaming materialized-view maintenance of the changelog "
    "compaction (the batch twin is cdc_changelog_compaction): the same "
    "synthetic CDC feed consumed as a stream, per-key latest-record "
    "state kept by a max-of-struct aggregate in complete mode — the "
    "log-compacted-table view a streaming consumer would maintain "
    "continuously. State per key is ONE struct (bounded by key "
    "cardinality, not stream length); the emitted table is "
    "hash-compared against the batch window oracle.",
    tags=("streaming", "cdc", "D2", "A6"),
)
def stream_changelog_compaction_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from flu_data_pipeline_spark.functions.hashing import hash64

    ev = _read_events_stream(spark, sf_dir)
    log = ev.select(
        "user_id",
        F.unix_micros("ts").alias("tsu"),
        "event_id",
        F.when(
            hash64(F.col("event_id").cast("string")) % 10 == 0, F.lit("D")
        )
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    agg = log.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.max(F.struct("tsu", "event_id", "op")).alias("m"),
    )
    name = "stream_changelog_compaction_sink"
    _run_to_memory(agg, name)
    return (
        spark.table(name)
        .select(
            "user_id",
            "n_changes",
            F.col("m.op").alias("last_op"),
            (F.col("m.op") == "D").cast("int").alias("tombstoned"),
        )
        .orderBy("user_id")
    )


def _register_semdedup_stream() -> None:
    """Deferred registration: the oracle constant lives in
    similarity_queries (imported lazily to keep this module's import
    graph acyclic — plans/__init__ imports both)."""
    from flu_data_pipeline_spark.plans.similarity_queries import (
        _INGEST_MOD,
        _INGEST_REM,
        _SEMDEDUP_INCR_ORACLE,
        _semdedup_base_index,
        _semdedup_chunk_of,
        _semdedup_refresh_verdict,
        norm,
    )

    @register(
        "stream_semdedup_refresh_exact",
        oracle=_SEMDEDUP_INCR_ORACLE,
        doc="dedup_semdedup_incremental's refresh stage DRIVEN AS A "
        "STREAM — the deployment shape of the crawl pipeline: the "
        "frozen served state (two-level-fit quantizer + chunk-capped "
        "kept index) is built once in batch, then the refresh feed "
        f"(vec_id % {_INGEST_MOD} = {_INGEST_REM}, read via "
        "readStream over the embeddings file) is absorbed through "
        "foreachBatch: each micro-batch is assigned under the frozen "
        "(fine, coarse) model, chunked, and run through the SAME "
        "verdict builder the batch registration uses (vs-index + "
        "in-batch dominance), with verdicts accumulated the way the "
        "other seven stream twins use the memory sink (a real "
        "deployment points the same function at idempotent_append). "
        "availableNow + a single input file = one micro-batch, so the "
        "emitted table must hash-match the FULL batch oracle — "
        "proving the streaming path computes exactly the batch "
        "answer; with a real trigger the in-batch dominance pass "
        "confines to each micro-batch, which is the standard "
        "streaming-dedup semantics (documented, not hidden). State "
        "per micro-batch is the batch itself; the frozen index never "
        "re-clusters.",
        tags=("streaming", "similarity", "dedup", "incremental"),
    )
    def stream_semdedup_refresh_exact(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        import os

        kept, fine, coarse, npart = _semdedup_base_index(spark, sf_dir)
        from flu_data_pipeline_spark.operators.clustering import (
            twolevel_assign,
        )

        raw_schema = read_parquet(
            spark, os.path.join(sf_dir, "embeddings.parquet")
        ).schema
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
            .filter((F.col("vec_id") % _INGEST_MOD) == _INGEST_REM)
            .select("vec_id", "embedding")
        )
        verdicts: list = []

        def _absorb(batch_df: DataFrame, _batch_id: int) -> None:
            asgnew = barrier(
                twolevel_assign(
                    batch_df, "embedding", "vec_id",
                    fine, coarse, nprobe=2, keep_vec=True,
                )
                .withColumn("nrm", norm(F.col("embedding")))
                .withColumn("chunk", _semdedup_chunk_of()),
                "asgnew",
                eager=False,
            )
            verdicts.extend(
                _semdedup_refresh_verdict(asgnew, kept, npart).collect()
            )

        q = (
            stream.writeStream.foreachBatch(_absorb)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.createDataFrame(
            verdicts,
            "vec_id long, cluster long, dist_to_centroid double, "
            "dup_vs_index int, dup_vs_batch int, keep int",
        ).orderBy("vec_id")


_register_semdedup_stream()


def _register_paragraph_stream() -> None:
    """Deferred registration (same acyclicity trick as the semdedup twin):
    the builder + oracle live in dedup_queries."""
    from flu_data_pipeline_spark.plans.dedup_queries import (
        PARA_REWRITE_ORACLE,
        paragraph_rewrite,
    )

    @register(
        "stream_paragraph_dedup_exact",
        oracle=PARA_REWRITE_ORACLE,
        doc="dedup_paragraph_rewrite DRIVEN AS A STREAM — the crawl-"
        "cleaning deployment shape: documents arrive as files, each "
        "micro-batch is paragraph-deduped and rewritten through the "
        "SAME builder the batch registration uses, audit rows "
        "accumulated memory-sink-style (a real deployment points "
        "foreachBatch at idempotent_append on the cleaned-corpus "
        "table). availableNow + a single input file = one micro-batch, "
        "so the emitted audit must hash-match the full batch oracle — "
        "the streaming path computes exactly the batch answer. With a "
        "real trigger, first-occurrence keep confines to each "
        "micro-batch plus previously-seen state; extending it across "
        "batches is the bounded-state keyed-dedup pattern "
        "(stream_dedup_exact) keyed on the paragraph hash — "
        "documented, not hidden. Ninth exact stream twin.",
        tags=("streaming", "dedup", "curation", "text"),
    )
    def stream_paragraph_dedup_exact(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        import os

        raw_schema = read_parquet(
            spark, os.path.join(sf_dir, "documents.parquet")
        ).schema
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .select("doc_id", "text")
        )
        audits: list = []

        def _clean(batch_df: DataFrame, _batch_id: int) -> None:
            audits.extend(paragraph_rewrite(batch_df).collect())

        q = (
            stream.writeStream.foreachBatch(_clean)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.createDataFrame(
            audits,
            "doc_id bigint, n_chunks int, n_kept int, n_removed int, "
            "new_n_chars int, new_text_md5 string",
        ).orderBy("doc_id")


_register_paragraph_stream()


def _register_quality_gate_stream() -> None:
    """Deferred registration (dedup-twin precedent): trainer, feature
    builder, and oracle live in curation_queries."""
    from flu_data_pipeline_spark.plans.curation_queries import (
        QC_APPLY_ORACLE,
        _qc_features,
        _qc_fit,
    )

    @register(
        "stream_quality_gate_exact",
        oracle=QC_APPLY_ORACLE,
        doc="curation_quality_classifier_apply DRIVEN AS A STREAM — the "
        "train-offline / score-online deployment shape every quality "
        "gate ships with: the classifier is fit ONCE in batch (the "
        "same replay-exact GD loop), the resulting 3-scalar weight "
        "vector is FROZEN into the stream plan as literals, and the "
        "document stream is scored per micro-batch through "
        "foreachBatch, per-source audit counts accumulated memory-"
        "sink-style and folded into the final report (a real "
        "deployment points the same function at a metrics sink). "
        "availableNow + a single input file = one micro-batch, so the "
        "emitted per-source audit must hash-match the full batch "
        "apply oracle. Scoring is stateless per row — with a real "
        "trigger the same plan runs unchanged; only the audit "
        "accumulation becomes a streaming aggregation. Tenth exact "
        "stream twin.",
        tags=("streaming", "curation", "quality", "text"),
    )
    def stream_quality_gate_exact(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        import os

        # 1) batch fit (frozen model)
        docs = read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
        _, history = _qc_fit(_qc_features(docs))
        q = history[-1]
        b0, b1, b2 = q["q0"] / 1e9, q["q1"] / 1e9, q["q2"] / 1e9

        # 2) stream scoring under the frozen weights
        raw_schema = docs.schema
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        parts: list = []

        def _score(batch_df: DataFrame, _batch_id: int) -> None:
            feat = _qc_features(batch_df, with_source=True)
            z = F.lit(b0) + F.lit(b1) * F.col("x1") + F.lit(b2) * F.col("x2")
            scored = feat.withColumn("z", z)
            flagged = F.when(F.col("z") >= 0, 1).otherwise(0)
            correct = F.when(
                (F.col("z") >= 0) == (F.col("y") == 1), 1
            ).otherwise(0)
            parts.extend(
                scored.groupBy("source")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                    F.sum(flagged).cast("bigint").alias("n_flagged"),
                    F.sum("y").cast("bigint").alias("n_en"),
                    F.sum(correct).cast("bigint").alias("n_correct"),
                )
                .collect()
            )

        qr = (
            stream.writeStream.foreachBatch(_score)
            .trigger(availableNow=True)
            .start()
        )
        qr.awaitTermination()
        acc = spark.createDataFrame(
            parts,
            "source string, n_docs bigint, n_flagged bigint, "
            "n_en bigint, n_correct bigint",
        )
        # fold micro-batch partials into the final per-source audit
        return acc.groupBy("source").agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_flagged").cast("bigint").alias("n_flagged"),
            F.sum("n_en").cast("bigint").alias("n_en"),
            F.sum("n_correct").cast("bigint").alias("n_correct"),
            (
                F.sum("n_flagged").cast("double") / F.sum("n_docs")
            ).alias("flag_rate"),
        )


_register_quality_gate_stream()


def _register_binary_signature_stream() -> None:
    """Deferred import of the binary-quantization helpers from
    similarity_queries (same lazy pattern as the semdedup/paragraph
    twins — keeps the module import graph acyclic)."""
    from flu_data_pipeline_spark.plans.similarity_queries import (
        _BQ_WORD_SQL,
        _bq_word,
    )

    @register(
        "stream_binary_signature_ingest_exact",
        oracle=f"""
        WITH sig AS (
            SELECT vec_id,
                   {_BQ_WORD_SQL.format(v='embedding', k=0)} AS w0,
                   {_BQ_WORD_SQL.format(v='embedding', k=1)} AS w1
            FROM embeddings
        ),
        d AS (SELECT DISTINCT w0, w1 FROM sig)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_signatures,
               CAST(SUM(w0) AS BIGINT) AS sum_w0,
               CAST(SUM(w1) AS BIGINT) AS sum_w1,
               CAST(MIN(w0) AS BIGINT) AS min_w0,
               CAST(MAX(w1) AS BIGINT) AS max_w1
        FROM d
        """,
        doc="ann_binary_hamming_rerank's ingest half DRIVEN AS A STREAM "
        "— the vector-store writer path: embeddings arrive via "
        "readStream, each micro-batch sign-quantizes map-side into the "
        "64-bit signature (two 32-bit words, the exact packing the "
        "serving query scans), and streaming dropDuplicates on the "
        "signature de-duplicates sign-identical vectors AT INGEST "
        "(the cheapest near-dup guard a crawl pipeline can run — "
        "SimHash-style: equal signs = cosine-close with high "
        "probability). Driven to completion with availableNow and "
        "hash-compared to the batch DISTINCT-signature summary, so "
        "the packing arithmetic AND the stateful dedup are pinned "
        "cross-engine; the summary aggregates only functions of the "
        "signature SET (count/sums/min/max), deterministic whichever "
        "physical row the state kept. Scale: state = one 16-byte "
        "entry per distinct signature within the watermark horizon; "
        "the map stage is stateless int ops, shuffle carries 16-byte "
        "keys, never the float payload.",
        tags=("streaming", "similarity", "dedup", "A8"),
    )
    def stream_binary_signature_ingest_exact(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        import os

        raw_schema = read_parquet(
            spark, os.path.join(sf_dir, "embeddings.parquet")
        ).schema
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
        )
        sigs = stream.select(
            _bq_word(F.col("embedding"), 0).alias("w0"),
            _bq_word(F.col("embedding"), 1).alias("w1"),
        ).dropDuplicates(["w0", "w1"])
        name = "stream_binary_signature_ingest_sink"
        q = (
            sigs.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name).agg(
            F.count(F.lit(1)).cast("long").alias("n_signatures"),
            F.sum("w0").cast("long").alias("sum_w0"),
            F.sum("w1").cast("long").alias("sum_w1"),
            F.min("w0").cast("long").alias("min_w0"),
            F.max("w1").cast("long").alias("max_w1"),
        )


_register_binary_signature_stream()


def _register_doremi_stream() -> None:
    """Deferred import of the DoReMi helpers from curation_queries
    (same lazy pattern as the quality-gate twin)."""
    from flu_data_pipeline_spark.plans.curation_queries import (
        DOREMI_MIXTURE_ORACLE,
        _doremi_quota_from_dom,
        _qc_features,
        _qc_fit,
    )

    @register(
        "stream_doremi_stats_ingest_exact",
        oracle=DOREMI_MIXTURE_ORACLE,
        doc="curation_doremi_mixture's corpus-size input DRIVEN AS A "
        "STREAM — the mixture-refresh deployment shape: the proxy "
        "classifier is fit ONCE in batch (frozen 3-scalar weights), "
        "the document stream is scored per micro-batch through "
        "foreachBatch, and each batch contributes per-domain "
        "SUFFICIENT STATISTICS (n_docs, sum of integer micro-unit "
        "scores) — exact BIGINTs, so the fold across micro-batches is "
        "associative and order-free, the property the whole house "
        "integer-quantization discipline buys. The folded 20-row "
        "frame then re-derives excess -> multiplicative weights -> "
        "smoothed mixture -> largest-remainder quotas (the identical "
        "domain-cardinality tail the batch query runs), and the "
        "emitted table must hash-match curation_doremi_mixture's own "
        "oracle. This is how a production pipeline keeps its training "
        "mixture CURRENT: per-domain stats accumulate incrementally "
        "at ingest (state = one row per domain, bounded), quotas are "
        "re-read at any time; nothing corpus-global ever recomputes. "
        "Twelfth exact stream twin.",
        tags=("streaming", "curation", "llm", "quality"),
    )
    def stream_doremi_stats_ingest_exact(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        import os

        # 1) batch fit (frozen model) — train-offline / ingest-online
        docs = read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
        _, history = _qc_fit(_qc_features(docs))
        q = history[-1]
        b0, b1, b2 = q["q0"] / 1e9, q["q1"] / 1e9, q["q2"] / 1e9

        # 2) stream: per-batch per-domain sufficient statistics
        stream = (
            spark.readStream.schema(docs.schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        parts: list = []

        def _stats(batch_df: DataFrame, _batch_id: int) -> None:
            feat = _qc_features(batch_df, with_source=True)
            z = F.lit(b0) + F.lit(b1) * F.col("x1") + F.lit(b2) * F.col("x2")
            p = F.lit(0.5) + z / (2.0 * (1.0 + F.abs(z)))
            parts.extend(
                feat.select(
                    "source",
                    F.floor(p * 1000000.0 + 0.5)
                    .cast("bigint")
                    .alias("p_micro"),
                )
                .groupBy("source")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                    F.sum("p_micro").cast("bigint").alias("s_micro"),
                )
                .collect()
            )

        qr = (
            stream.writeStream.foreachBatch(_stats)
            .trigger(availableNow=True)
            .start()
        )
        qr.awaitTermination()

        # 3) order-free fold of the micro-batch partials (exact BIGINTs)
        dom = (
            spark.createDataFrame(
                parts, "source string, n_docs bigint, s_micro bigint"
            )
            .groupBy("source")
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("s_micro").cast("bigint").alias("s_micro"),
            )
        )

        # 4) the identical domain-cardinality tail as the batch query
        quot = _doremi_quota_from_dom(dom)
        return (
            quot.select(
                "source",
                "n_docs",
                F.round(F.col("mean_micro") / 1000000.0, 6).alias(
                    "mean_score"
                ),
                F.round("excess_micro", 3).alias("excess_micro"),
                F.round("w_mw", 6).alias("w_mw"),
                F.round("w", 6).alias("w"),
                "quota",
            )
            .orderBy("source")
        )


_register_doremi_stream()
