"""The benchmark workloads. Each is a class with ``setup`` (everything
before the first timed operation: inputs, warm-up, lazy artifacts),
``measure`` (the timed loop, ``seconds`` long) and ``check`` (the untimed
output checks), plus ``summary`` (end-to-end figures) and ``layers``
(per-layer figures from a traced run).

Every workload reports its operations by kind. ``work_s`` is the sum over
kinds of the kind's median latency and ``geomean_ms`` their geometric
mean, so both read the same way on every workload. Between operations
each run times a fixed reference job (:func:`reference_job`); the
bounded ``work_norm_s`` and ``geomean_norm_ms`` are the two scaled by
``REF_NOMINAL_MS`` over the reference job's median, so a run on a host
slowed by its neighbours reads about the same as one on a quiet host.
The kinds:

- etl_load: kinds ``load`` (build, ingest into an empty warehouse, qc)
  and ``reload``;
- operator_batch: one kind per registry query.
"""

from __future__ import annotations

import os
import shutil
import time

import spans as sp
from spans import Tracer, median

EXEC_TOTALS = ("cpu_s", "run_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
               "spill_bytes", "peak_exec_mem_mb", "input_bytes", "jobs", "stages")

#: Rows of the reference job, and the median latency (ms) the normalized
#: metrics scale it to: about what it took on a quiet 4-CPU host.
REF_ROWS = 2_000_000
REF_NOMINAL_MS = 125.0

# ---------------------------------------------------------------------------
# shared
# ---------------------------------------------------------------------------


def reference_job(spark, threads: int) -> None:
    """Fixed Spark work that runs no program code: scan, hash, aggregate
    through one shuffle, noop sink. Its median latency over a run
    measures how fast the host ran the engine during that run."""
    (spark.range(0, REF_ROWS, 1, threads)
     .selectExpr("id % 1000 AS k", "hash(id) AS h").groupBy("k").sum("h")
     .write.format("noop").mode("overwrite").save())


class Workload:
    name = ""
    #: reference-job runs after each timed operation (and before the first)
    REF_REPS = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer: Tracer = ctx.tracer
        self.times: dict[str, list[float]] = {}  # kind -> seconds
        self.ref_times: list[float] = []  # seconds
        self.attempted = 0
        self.failures: list[str] = []
        self.window = (0.0, 0.0)  # epoch seconds of the timed loop
        self.window_work: dict = {}

    def record(self, kind: str, seconds: float) -> None:
        self.times.setdefault(kind, []).append(seconds)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def kind_medians(self) -> dict[str, float]:
        """Median latency per kind, untraced operations only."""
        return {k: median(v) for k, v in self.times.items() if not k.endswith("~traced")}

    def reference(self, reps: int) -> None:
        """Times ``reps`` runs of the reference job (untimed for the
        workload: called between its operations)."""
        for _ in range(reps):
            t = time.perf_counter()
            reference_job(self.spark, self.ctx.threads)
            self.ref_times.append(time.perf_counter() - t)

    def summary(self) -> dict[str, float]:
        meds = list(self.kind_medians().values())
        work_s, geomean_ms = sum(meds), sp.geomean(meds) * 1000
        ref_ms = median(self.ref_times) * 1000
        scale = REF_NOMINAL_MS / ref_ms
        return {
            "work_norm_s": work_s * scale, "geomean_norm_ms": geomean_ms * scale,
            "work_s": work_s, "geomean_ms": geomean_ms, "ref_ms": ref_ms,
        }

    def run_timed(self, seconds: float) -> None:
        token = self.ctx.store.mark() if self.tracer.enabled else None
        self.window = (time.time(), 0.0)
        self.reference(self.REF_REPS)
        self.measure(seconds)
        self.window = (self.window[0], time.time())
        if token is not None:
            self.window_work = self.ctx.store.since(token)

    def exec_layer(self) -> dict[str, float]:
        """Executor work over the timed loop, from the status store."""
        w = self.window_work
        out = {f"exec.{k}": w.get(k, 0.0) for k in EXEC_TOTALS}
        wall = self.window[1] - self.window[0]
        out["exec.busy_ratio"] = w.get("run_s", 0.0) / (wall * self.ctx.threads)
        return out

    def trace_overhead(self) -> dict[str, float]:
        """Traced minus untraced median latency, over the kinds timed both
        ways (traced runs alternate the two)."""
        diffs = [
            median(self.times[k + "~traced"]) - median(self.times[k])
            for k in list(self.times)
            if not k.endswith("~traced") and k + "~traced" in self.times
        ]
        return {"trace.overhead_ms": 1000 * sum(diffs)}


def _gap(wall: float, work: dict, lo: float, hi: float) -> float:
    """Wall time of a call not covered by any of its jobs."""
    return wall - sp.union_length(sp.clip(work.get("job_intervals", []), lo, hi))


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet")
        )
    return total


# ---------------------------------------------------------------------------
# etl_load
# ---------------------------------------------------------------------------


class EtlLoad(Workload):
    """Closed loop, one caller: the daily DAG run. Each iteration builds
    the five tables from the landing feeds, ingests them into an empty
    warehouse, runs qc, then re-ingests the same feeds (0 rows appended)."""

    name = "etl_load"
    SEASONS = 3
    DEMOGRAPHICS = 16
    REF_REPS = 10

    def setup(self) -> None:
        from gen import write_landing_feeds

        self.landing = write_landing_feeds(
            os.path.join(self.ctx.work, "landing"), self.ctx.seed,
            self.SEASONS, self.DEMOGRAPHICS,
        )
        self.landing_bytes = sum(os.path.getsize(p) for p in self.landing.values())
        self.layer_rows: list[dict] = []
        # warm-up, untimed: the first iteration pays JIT and code
        # generation, so set-up time carries the cold run's cost
        self.iteration(traced=False)

    def iteration(self, traced: bool) -> dict[str, float]:
        from flu_data_pipeline_spark import pipeline as pl

        wh = os.path.join(self.ctx.work, "warehouse")
        shutil.rmtree(wh, ignore_errors=True)
        tr = self.tracer if traced else sp.OFF
        t0 = time.perf_counter()
        with tr.span("pipeline.build_tables") as s_build:
            tables = pl.build_tables(self.spark, self.landing)
        pl.assert_schemas(tables)
        cold = self._ingest(pl, tables, wh, tr, "pipeline.ingest")
        with tr.span("pipeline.qc", work=True) as s_qc:
            report = pl.qc(self.spark, wh)
        t1 = time.perf_counter()
        tables = pl.build_tables(self.spark, self.landing)
        pl.assert_schemas(tables)
        again = self._ingest(pl, tables, wh, tr, "pipeline.reingest")
        t2 = time.perf_counter()

        self.attempted += 2
        bad = [
            t for t, r in report.items()
            if r["pk_duplicates"] or r["rows"] != cold["appended"][t]
        ]
        if bad:
            self.fail(f"etl_load: load wrong for {bad}")
        if any(again["appended"].values()):
            self.fail(f"etl_load: reload appended {again['appended']}")
        self.last_warehouse = wh
        self.last_appended = cold["appended"]
        if not traced:
            return {"load": t1 - t0, "reload": t2 - t1}
        cold_w = sp.merge_work(cold["works"])
        again_w = sp.merge_work(again["works"])
        row = {
            "pipeline.build_tables_ms": s_build.duration * 1000,
            "pipeline.qc_s": s_qc.duration,
            "pipeline.driver_gap_s": cold["gap"] + again["gap"]
            + _gap(s_qc.duration, s_qc.work, s_qc.start, s_qc.end),
            "readers.csv_bytes_read": cold_w.get("input_bytes", 0),
            "readers.scan_amplification": cold_w.get("input_bytes", 0) / self.landing_bytes,
            "writers.rows_appended": sum(cold["appended"].values()),
            "writers.bytes_written": cold_w.get("output_bytes", 0),
            "writers.stored_bytes_per_input_byte": _du(wh) / self.landing_bytes,
            "writers.reload_bytes_read": again_w.get("input_bytes", 0),
        }
        row.update(cold["per_table"])
        row.update(again["per_table"])
        self.layer_rows.append(row)
        return {"load": t1 - t0, "reload": t2 - t1}

    def _ingest(self, pl, tables, wh, tr, prefix) -> dict:
        """Untraced: one ``ingest`` call, as the DAG makes it. Traced: one
        call per table (a one-table dict), each its own span."""
        if not tr.enabled:
            appended, _ = pl.ingest(self.spark, tables, wh)
            return {"appended": appended}
        appended, works, per_table, gap = {}, [], {}, 0.0
        for name, df in tables.items():
            with tr.span(f"{prefix}.{name}", work=True) as s:
                got, _ = pl.ingest(self.spark, {name: df}, wh)
            appended.update(got)
            works.append(s.work)
            per_table[f"{prefix}.{name}_s"] = s.duration
            gap += _gap(s.duration, s.work, s.start, s.end)
        return {"appended": appended, "works": works, "per_table": per_table, "gap": gap}

    def measure(self, seconds: float) -> None:
        end = time.perf_counter() + seconds
        i = 0
        # traced runs order iterations untraced, traced, traced, untraced
        # (as far as the time allows) so a warm-up trend cancels out of
        # the tracing overhead
        while time.perf_counter() < end or i < (2 if self.tracer.enabled else 1):
            traced = self.tracer.enabled and i % 4 in (1, 2)
            got = self.iteration(traced)
            suffix = "~traced" if traced else ""
            for kind, secs in got.items():
                self.record(kind + suffix, secs)
            self.reference(self.REF_REPS)
            i += 1

    def check(self) -> None:
        from checks import warehouse_mismatches

        self.attempted += 1
        bad = warehouse_mismatches(self.landing, self.last_warehouse)
        if bad:
            self.fail(f"etl_load: warehouse differs from the DuckDB oracle for {bad}")

    def summary(self) -> dict[str, float]:
        out = super().summary()
        meds = self.kind_medians()
        out["etl_load_s"] = meds["load"]
        out["etl_reload_s"] = meds["reload"]
        return out

    def layers(self) -> dict[str, float]:
        """Pipeline, reader and writer figures (medians over the traced
        iterations), plus the report API's per-route split, measured here
        because the benchmark has no report_api workload."""
        from flu_data_pipeline_spark.api.app import create_app

        keys = self.layer_rows[0]
        out = {k: median([r[k] for r in self.layer_rows]) for k in keys}
        out.update(api_layers(self.spark, self.tracer, create_app(self.spark).test_client()))
        return out

    def sizes(self) -> dict:
        return {
            "landing_bytes": self.landing_bytes,
            "rows_appended": self.last_appended,
        }


# ---------------------------------------------------------------------------
# report routes (measured in traced etl_load runs)
# ---------------------------------------------------------------------------

#: route kind -> path
ROUTES = {
    "weekly_trends": "/api/reports/weekly-trends",
    "healthcare_impact": "/api/reports/healthcare-impact",
    "historical_summary": "/api/reports/historical-summary",
    "export_csv": "/api/export/csv?table=illness",
    "health": "/health",
}


def api_layers(spark, tracer: Tracer, client, reps: int = 2) -> dict[str, float]:
    """Serially, per route: the route call through ``client``, then the
    route's ``flu_reports`` builder, ``collect`` and ``format_report`` as
    separate calls. A route's overhead is its latency minus the three;
    jobs and executor CPU per request come from the route calls."""
    from flu_data_pipeline_spark.plans import flu_reports as fr

    tables = fr._all_tables(spark)
    units = {
        "weekly_trends": (
            lambda: fr.weekly_trends(tables["temporal"], tables["illness"]),
            dict(percent_cols=("avg_percent_positive",)),
        ),
        "healthcare_impact": (
            lambda: fr.healthcare_impact(tables["healthcare"], tables["county_region"]),
            dict(percent_cols=("avg_hospitalization_percent", "avg_er_visit_percent"),
                 f3_cols=("avg_hospital_to_er_ratio",),
                 f1_cols=("avg_population_density",)),
        ),
        "historical_summary": (
            lambda: fr.historical_summary(tables["historics"]),
            dict(percent_cols=("peak_ili_percent", "average_wili_percent",
                               "peak_vs_avg_diff")),
        ),
        "export_csv": (lambda: fr.export_table(tables, "illness"), None),
        "health": (lambda: spark.sql("SELECT 1"), None),
    }
    rows: dict[str, list[dict]] = {k: [] for k in units}
    routes = []
    for _ in range(reps):
        for kind, (build, fmt) in units.items():
            with tracer.span(f"api.{kind}.route", work=True) as s_route:
                client.get(ROUTES[kind])
            with tracer.span(f"api.{kind}.build") as s_b:
                df = build()
            with tracer.span(f"api.{kind}.collect") as s_c:
                got = df.collect()
            with tracer.span(f"api.{kind}.format") as s_f:
                if fmt is not None:
                    fr.format_report([r.asDict() for r in got], **fmt)
            parts = (s_b.duration, s_c.duration, s_f.duration)
            rows[kind].append({
                "build_ms": parts[0] * 1000, "collect_ms": parts[1] * 1000,
                "format_ms": parts[2] * 1000,
                "overhead_ms": (s_route.duration - sum(parts)) * 1000,
            })
            routes.append(s_route.work)
    out = {
        f"api.{kind}.{k}": median([r[k] for r in rs])
        for kind, rs in rows.items() for k in rs[0]
    }
    out["report.jobs_per_request"] = sum(w["jobs"] for w in routes) / len(routes)
    out["report.cpu_ms_per_request"] = 1000 * sum(w["cpu_s"] for w in routes) / len(routes)
    return out


# ---------------------------------------------------------------------------
# operator_batch
# ---------------------------------------------------------------------------

#: Five more queries were planned and left out to fit the run budget (see
#: DESIGN.md): ann_serving_frontier, ann_nndescent_knn_graph,
#: dedup_semdedup_incremental, dedup_minhash_lsh_pairs and
#: customer_rfm_segments_scale.
QUERIES = (
    "curation_ccnet_ppl_buckets",
    "text_hashed_embedding_projection",
    "dedup_lsh_recall_audit",
    "text_bigram_lm_score",
    "q7_volume_shipping",
    "q18_large_volume_customers",
    "hll_distinct_by_nation",
)

#: Directory name of the generated tables; registry queries key the
#: artifacts they persist under ``.testdata/<kind>/`` on it.
SF_TAG = "perfbench_sf0.01"


class OperatorBatch(Workload):
    """Closed loop, one query at a time, each warmed, into the noop sink.
    The warm pass collects every result for the oracle check. Every run
    starts with no persisted artifact for its tables, so a query that
    builds one (none of the listed queries does) pays for it in set-up."""

    name = "operator_batch"

    def setup(self) -> None:
        from gen import write_operator_tables
        from flu_data_pipeline_spark.plans import REGISTRY

        testdata = os.path.join(self.ctx.root, ".testdata")
        for kind in os.listdir(testdata) if os.path.isdir(testdata) else ():
            for tag in (SF_TAG, SF_TAG.replace(".", "_")):
                shutil.rmtree(os.path.join(testdata, kind, tag), ignore_errors=True)
        self.sf = os.path.join(self.ctx.work, SF_TAG)
        write_operator_tables(self.sf, self.ctx.seed)
        self.reg = REGISTRY
        self.warm_s: dict[str, float] = {}
        self.rows: dict[str, tuple[list[str], list[tuple]]] = {}
        for q in QUERIES:
            t = time.perf_counter()
            df = REGISTRY[q].builder(self.spark, self.sf)
            self.rows[q] = (df.columns, [tuple(r) for r in df.collect()])
            self.warm_s[q] = time.perf_counter() - t
        self.layer_rows: dict[str, list[dict]] = {q: [] for q in QUERIES}

    def run_query(self, q: str, traced: bool) -> float:
        if not traced:
            t0 = time.perf_counter()
            df = self.reg[q].builder(self.spark, self.sf)
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span(f"batch.{q}", work=True) as s:
            with tr.span(f"batch.{q}.build") as build:
                df = self.reg[q].builder(self.spark, self.sf)
            df.write.format("noop").mode("overwrite").save()
        # timed from outside, so the status-store reads count as tracing
        # overhead
        wall = time.perf_counter() - t0
        w = s.work
        self.layer_rows[q].append({
            "s": s.duration,
            "build_ms": build.duration * 1000,
            "cpu_s": w["cpu_s"],
            "shuffle_bytes": w["shuffle_read_bytes"] + w["shuffle_write_bytes"],
            "jobs": w["jobs"],
            "driver_gap_s": _gap(s.duration, w, s.start, s.end),
        })
        return wall

    def measure(self, seconds: float) -> None:
        end = time.perf_counter() + seconds
        # traced runs time each query untraced and traced, in the opposite
        # order on the next pass, so a warm-up trend cancels out
        orders = [(False, True), (True, False)] if self.tracer.enabled else [(False,)]
        passes = 0
        # at least two passes: queries still speed up from pass to pass,
        # so a run that fits a second pass into --seconds and one that
        # does not would read differently
        while passes < 2 or time.perf_counter() < end:
            for q in QUERIES:
                for traced in orders[passes % len(orders)]:
                    secs = self.run_query(q, traced)
                    self.record(q + ("~traced" if traced else ""), secs)
                    self.reference(self.REF_REPS)
            passes += 1

    def check(self) -> None:
        import duckdb

        from checks import duck_hash, register_tables, result_hash

        with duckdb.connect() as con:
            register_tables(con, self.sf)
            for q in QUERIES:
                self.attempted += 1
                if result_hash(*self.rows[q]) != duck_hash(con, self.reg[q].oracle):
                    self.fail(f"operator_batch: {q} differs from its DuckDB oracle")

    def summary(self) -> dict[str, float]:
        out = super().summary()
        out["batch_total_s"] = out["work_s"]
        out["batch_geomean_s"] = out["geomean_ms"] / 1000
        return out

    def layers(self) -> dict[str, float]:
        return {
            f"batch.{q}.{k}": median([r[k] for r in rs])
            for q, rs in self.layer_rows.items() for k in rs[0]
        }

    def sizes(self) -> dict:
        import pyarrow.parquet as pq

        return {
            "rows": {
                t[: -len(".parquet")]: pq.ParquetFile(os.path.join(self.sf, t)).metadata.num_rows
                for t in sorted(os.listdir(self.sf)) if t.endswith(".parquet")
            },
            "query_s": self.kind_medians(),
            "warm_s": self.warm_s,
        }


WORKLOADS = {w.name: w for w in (EtlLoad, OperatorBatch)}
