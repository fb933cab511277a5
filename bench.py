#!/usr/bin/env python
"""Registry sweep: runs the headline queries (registry entries flagged
``bench=True``), or only the queries named on the command line, at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <sum of best-of-3 sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": ...,
     "queries_median": {...}, "value_median": ...,
     "work": {"q": {"cpu_s", "jobs", "shuffle_bytes", "spill_bytes",
                    "peak_exec_mem_mb", "compiles"}, ...},
     "max_run": {"jobs": ..., "stages": ...},
     "verdict": "flat" | "work-regression" | "no-prior", "vs_prior": {...}}

    python bench.py                  # every bench=True query
    python bench.py name [name ...]  # only these registry queries

Timing = full query execution into Spark's ``noop`` sink: every output
column is materialized on the executors and discarded, nothing is
collected to the driver (a bare ``count()`` would let Catalyst prune
unreferenced computed columns). Each query is warmed immediately before
its 5 timed runs, not in a separate all-queries pass: a global warmup
lets later queries evict earlier queries' JIT code from the code cache
and their compiled classes from Spark's codegen class cache, so the
timed runs would re-pay compilation and deopt/re-JIT. ``queries`` is
the best of the first 3 runs (the series of the committed
BENCH_r*.json records), ``queries_median`` the median of all 5.

``work`` is the median per run of the executor work Spark's status
store holds for the jobs and stages each run created (perfbench's
``StatusStore``), read right after the run and outside its timing. All
of a query's jobs, including those from ``overlap`` worker threads,
carry the query's name as their job description. Job counts repeat
exactly from run to run and executor CPU does not follow ambient host
load the way wall time does, so the verdict is taken on work against
one anchor, the previous ``bench_last.json`` at the same sf, over the
queries both readings ran. A full sweep replaces the anchor; a run of
named queries merges their work into it.

``compiles`` is the median per run of the generated-code compilations
(Janino) the run caused, the count of Spark's ``CodegenMetrics``
compilation-time histogram read before and after the run, also outside
its timing. A warmed query whose classes fit Spark's codegen class cache
(``session.CODEGEN_CACHE_MAX_ENTRIES``) reads 0; a positive value means
its runs recompile. It is reported only, not part of the verdict.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from flu_data_pipeline_spark.operators.materialize import job_label  # noqa: E402
from flu_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from flu_data_pipeline_spark.session import codegen_compiles, get_spark  # noqa: E402
from perfbench.spans import StatusStore  # noqa: E402

WORK_KEYS = ("cpu_s", "jobs", "shuffle_bytes", "spill_bytes", "peak_exec_mem_mb",
             "compiles")

#: Summed executor CPU of the shared queries may rise this much over the
#: anchor before the verdict reads ``work-regression``. Set just above
#: the measured spread: 20 queries at sf0.01 on a 4-CPU VM, 3 idle runs
#: alternated with 3 beside 4 busy loops, summed ``cpu_s`` 5.93-7.33 s,
#: largest ratio between any two runs 1.237 (idle/idle alone 1.122),
#: while wall time moved up to 2.0x and every query's ``jobs`` was
#: identical in all six runs (CHANGES.md).
CPU_REGRESSION_RATIO = 1.25

SIDECAR = "bench_last.json"
TIMED_RUNS = 5


def measure(spark, store: StatusStore, thunk) -> tuple[float, dict]:
    """Wall seconds of ``thunk()``, the executor work of the jobs and
    stages it created, and the compilations it caused. The store and the
    compile counter are read before and after, outside the timed span."""
    token = store.mark()
    compiled = codegen_compiles(spark)
    t0 = time.perf_counter()
    thunk()
    sec = time.perf_counter() - t0
    compiled = codegen_compiles(spark) - compiled
    work = store.since(token)
    work["shuffle_bytes"] = work["shuffle_read_bytes"] + work["shuffle_write_bytes"]
    work["compiles"] = compiled
    return sec, work


def median_work(runs: list[dict]) -> dict:
    """Per-key median over the runs of one query."""
    return {k: round(statistics.median(r[k] for r in runs), 4) for k in WORK_KEYS}


def verdict(work: dict, prior: dict | None) -> tuple[str, dict]:
    """Compare this sweep's per-query work with the anchor's over the
    queries both ran: ``work-regression`` when their summed ``cpu_s``
    rose past ``CPU_REGRESSION_RATIO`` or any one query's ``jobs`` rose,
    else ``flat``; ``no-prior`` when there is no anchor or nothing
    shared."""
    shared = sorted(set(work) & set(prior or {}))
    if not shared:
        return "no-prior", {}
    cpu = sum(work[q]["cpu_s"] for q in shared)
    prior_cpu = sum(prior[q]["cpu_s"] for q in shared)
    ratio = cpu / prior_cpu if prior_cpu else None
    jobs_rose = [q for q in shared if work[q]["jobs"] > prior[q]["jobs"]]
    regressed = (ratio is not None and ratio > CPU_REGRESSION_RATIO) or bool(jobs_rose)
    return ("work-regression" if regressed else "flat"), {
        "queries": len(shared),
        "cpu_s": round(cpu, 4),
        "prior_cpu_s": round(prior_cpu, 4),
        "cpu_ratio": round(ratio, 4) if ratio is not None else None,
        "threshold": CPU_REGRESSION_RATIO,
        "jobs_rose": jobs_rose,
    }


def _read_sidecar(repo: str, sf) -> dict | None:
    """The per-query work of the previous reading at ``sf``, if any."""
    try:
        with open(os.path.join(repo, SIDECAR)) as fh:
            last = json.loads(fh.read())
    except (OSError, ValueError):
        return None
    return last.get("work") if last.get("sf") == sf else None


def _write_sidecar(repo: str, rec: dict, merge: bool) -> None:
    """Persist the record to ``bench_last.json`` at the repo root: a
    copy that survives a truncated stdout capture, and the next sweep's
    anchor. A full sweep, or a run at another sf, replaces the anchor;
    with ``merge`` (a run of named queries) the run's per-query work is
    merged into the anchor at the same sf, so the next full sweep is
    still compared over every query the anchor held."""
    prior = _read_sidecar(repo, rec["sf"]) if merge else None
    if prior:
        rec = {**rec, "work": {**prior, **rec["work"]}}
    try:
        with open(os.path.join(repo, SIDECAR), "w") as fh:
            fh.write(json.dumps(rec) + "\n")
    except OSError:
        pass


def run_query(spark, store: StatusStore, name: str,
              sf_dir: str) -> tuple[list[float], list[dict]]:
    """Warm registry query ``name`` up at ``sf_dir``, then time it
    ``TIMED_RUNS`` times into the noop sink, every job labelled with the
    name; returns each timed run's seconds and work."""
    builder = REGISTRY[name].builder

    def run() -> None:
        builder(spark, sf_dir).write.format("noop").mode("overwrite").save()

    with job_label(spark, name):
        run()  # warmup: JIT, codegen class and IO caches for THIS query
        measured = [measure(spark, store, run) for _ in range(TIMED_RUNS)]
    return [sec for sec, _ in measured], [work for _, work in measured]


def sweep(spark, sf_dir: str, queries: list[str], repo: str = ROOT) -> dict:
    """Warm up and time each query, read its work, and take the verdict
    against the anchor in ``repo``; returns the record to print."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    store = StatusStore(spark)
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    work: dict[str, dict] = {}
    every_run: list[dict] = []
    for name in queries:
        secs, runs = run_query(spark, store, name, sf_dir)
        timings[name] = round(min(secs[:3]), 4)
        medians[name] = round(statistics.median(secs), 4)
        work[name] = median_work(runs)
        every_run += runs

    call, vs_prior = verdict(work, _read_sidecar(repo, sf_val))
    return {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "queries_median": medians,
        "value_median": round(sum(medians.values()), 4),
        "work": work,
        "max_run": {k: max((r[k] for r in every_run), default=0)
                    for k in ("jobs", "stages")},
        "verdict": call,
        "vs_prior": vs_prior,
    }


def main(names: list[str]) -> int:
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown registry queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="flu_data_pipeline_spark-bench")
    queries = names or [n for n, q in REGISTRY.items() if q.bench]
    rec = sweep(spark, sf_dir, queries)
    print(json.dumps(rec))
    _write_sidecar(ROOT, rec, merge=bool(names))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
