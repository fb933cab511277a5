"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run. The line before it carries every figure of the
run by name (including each workload's own metrics such as
``etl_reload_s`` or ``batch_total_s``, and the raw ``work_s`` beside the
host-normalized ``work_norm_s``), the input sizes and any failed check. The exit code is 0 only when every output check passed.

Spark runs in this process at local[2] (fewer threads if fewer CPUs are
usable); everything the run writes
(inputs, warehouse, Spark scratch, temp files, spans) goes under
``.perfbench_work/`` in the repository root, except the artifacts some
registry queries persist under ``.testdata/``, which are deleted first.
See DESIGN.md for what each workload and metric is for.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = ("setup_s", "work_norm_s", "geomean_norm_ms")

TABLES = ("county_region", "temporal", "illness", "healthcare", "historics")
DRIVER_MEM = "3g"
#: Spark task threads: at most this many, fewer if fewer CPUs are usable
THREADS = 2
QUERY_FIELDS = ("s", "build_ms", "cpu_s", "shuffle_bytes", "jobs", "driver_gap_s")


def per_layer_names() -> list[str]:
    from workloads import EXEC_TOTALS, QUERIES, ROUTES

    names = ["session.start_s", "session.action_ms", "pipeline.build_tables_ms"]
    names += [f"pipeline.ingest.{t}_s" for t in TABLES]
    names += [f"pipeline.reingest.{t}_s" for t in TABLES]
    names += ["pipeline.qc_s", "pipeline.driver_gap_s",
              "readers.csv_bytes_read", "readers.scan_amplification",
              "writers.rows_appended", "writers.bytes_written",
              "writers.stored_bytes_per_input_byte", "writers.reload_bytes_read"]
    names += [f"api.{r}.{f}" for r in ROUTES
              for f in ("build_ms", "collect_ms", "format_ms", "overhead_ms")]
    names += ["report.jobs_per_request", "report.cpu_ms_per_request"]
    names += [f"exec.{e}" for e in EXEC_TOTALS + ("busy_ratio",)]
    names += [f"batch.{q}.{f}" for q in QUERIES for f in QUERY_FIELDS]
    names += ["trace.overhead_ms", "host.ref_ms"]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms") or name.endswith("_ms_per_request"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name and "per_input_byte" not in name:
        return "B"
    if name.endswith((".jobs", ".stages", "rows_appended", "jobs_per_request")):
        return "count"
    return "ratio"


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (VmHWM in /proc) of this process plus the
    driver JVM."""
    kb = _vm_hwm_kb(os.getpid())
    if jvm_pid is not None:
        kb += _vm_hwm_kb(jvm_pid)
    return kb / 1024


def start_spark(work: str, threads: int, trace: bool):
    from flu_data_pipeline_spark.session import get_spark

    conf = {
        # a fixed-size heap: heap resizing varied from run to run
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:ReservedCodeCacheSize=1g "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # the timed loop's executor totals are one status-store read over
        # the whole loop: keep every job and stage it submits
        conf["spark.ui.retainedJobs"] = conf["spark.ui.retainedStages"] = "100000"
    return get_spark(app_name="perfbench", master=f"local[{threads}]", extra_conf=conf)


def stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def action_ms(spark, reps: int = 7) -> float:
    """Median wall time of a one-row action into the noop sink."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        times.append((time.perf_counter() - t) * 1000)
    return statistics.median(times)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # found, not imported: the program reads its environment on import
    if importlib.util.find_spec("flu_data_pipeline_spark") is None:
        print(f"perfbench: the program is not importable from {ROOT}",
              file=sys.stderr)
        return 2
    from spans import StatusStore, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    threads = min(nproc, THREADS)
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(threads),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata files in the system temp directory
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })

    t = time.perf_counter()
    spark = start_spark(work, threads, bool(args.trace))
    session_start_s = time.perf_counter() - t
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    store = StatusStore(spark) if args.trace else None
    ctx = SimpleNamespace(
        spark=spark, seed=args.seed, threads=threads, root=ROOT, work=work,
        tracer=Tracer(bool(args.trace), store), store=store,
    )
    wl = WORKLOADS[args.workload](ctx)
    try:
        wl.setup()
        wl.reference(3)  # the reference job's own warm-up
        wl.ref_times.clear()
        setup_s = time.perf_counter() - T0
        layers = {"session.start_s": session_start_s}
        if args.trace:
            layers["session.action_ms"] = action_ms(spark)
        wl.run_timed(args.seconds)
        wl.check()
        figures = {"setup_s": setup_s, **wl.summary()}
        if args.trace:
            layers.update(wl.layers())
            layers.update(wl.exec_layer())
            layers.update(wl.trace_overhead())
            layers["host.ref_ms"] = figures["ref_ms"]
            ctx.tracer.dump(os.path.join(work, "spans.jsonl"))
        figures["peak_rss_mb"] = peak_rss_mb(jvm.pid if jvm else None)
        sizes = wl.sizes()
    finally:
        stop_spark(spark)

    failed = len(wl.failures)
    figures["error_ratio"] = failed / wl.attempted
    names = per_layer_names() if args.trace else END_TO_END
    values = layers if args.trace else figures
    metrics = {
        n: {"value": float(values.get(n, 0.0)), "unit": unit_of(n)} for n in names
    }
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "threads": threads, "figures": figures, "layers": layers if args.trace else {},
        "sizes": sizes, "failures": wl.failures,
    }, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": wl.attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
