#!/usr/bin/env python
"""Per-barrier profile of registry queries, or PLANS.md.

    python scripts/profile_query.py name [name ...] [sf_dir]
    python scripts/profile_query.py [sf_dir]

With names, each query runs one warm pass and one profiled pass into
Spark's ``noop`` sink under its name as job description, as ``bench.py``
runs it. The profiled pass's jobs are read from Spark's status store
with perfbench's ``StatusStore`` and grouped by description: one row per
``materialize.barrier`` (``name/label``), then ``(query)`` for the rest
(the final action and any driver collect). Each row has the wall (the
union of its jobs' spans), jobs, executor ``cpu_s``, shuffle bytes (read
+ write) and peak execution memory; the rows' jobs sum to the pass's.
Each barrier's input plan, the final adaptive plan of the SQL execution
its checkpoint ran (the shape before ``Scan ExistingRDD`` replaces it),
goes to ``plans/profile/<name>/<nn>_<label>.txt``.

With no names, it writes ``PLANS.md``: the plan Spark executes for each
bench query and each ``SHOWCASE`` query, with the registry docstring,
at sf0.01 unless ``sf_dir`` is given.
"""

from __future__ import annotations

import glob
import os
import re
import sys
import textwrap
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from flu_data_pipeline_spark.operators.materialize import job_label  # noqa: E402
from flu_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from flu_data_pipeline_spark.session import get_spark  # noqa: E402
from perfbench.spans import StatusStore, attribute, summarize, union_length  # noqa: E402

SF = "/root/testdata/sf0.01"

#: non-bench queries whose plans document a specific scale mechanism
#: (distributed ranking, curve layouts, one-pass CV, sketches, incremental
#: dedup, self-proving layout and AQE gates, executed-metric probes)
SHOWCASE = (
    "grouping_sets_revenue",
    "ts_forward_fill", "skew_salted_term_counts",
    "cdc_snapshot_diff", "zorder_pruning_gain", "pagerank_trade_graph",
    "dq_constraint_report", "mannwhitney_rank_sum", "spearman_rho_ranks",
    "hilbert_vs_zorder_locality", "curation_js_divergence", "cv_kfold_regression",
    "ts_rolling_slope", "hits_trade_graph", "curation_quantile_normalize",
    "events_survival_km", "stump_best_split", "embedding_jl_distortion",
    "huber_irls_regression", "ann_mmr_rerank", "ranking_ndcg_eval",
    "kendall_tau_daily", "quantile_histogram_sketch", "embedding_dim_stats",
    "split_leakage_audit", "text_textrank_keywords",
    "abtest_cuped_adjustment", "shard_rebalance_audit",
    "skew_salted_dim_join", "text_chunk_dedup_ratio",
    "incremental_partition_manifest", "curation_hash_stratified_sample",
    "cdc_changelog_compaction", "events_rate_limit_audit",
    "multimodal_bytes_shard_pack",
    "events_variant_extract", "embedding_centroid_drift",
    "ntile_equidepth_scale",
    "dedup_ngram_jaccard_capped",
    "text_winnow_density", "dedup_winnow_overlap", "curation_dsir_selection",
    "corpus_unimax_allocation", "ann_ivf_pq", "sample_es_topk",
    "dedup_components_scale", "dedup_cluster_size_histogram",
    "ivf_index_ingest_maintenance",
    "corpus_padding_waste_audit", "text_bpe_encode_compression", "ann_sq8_asymmetric",
    "text_e2e_semantic_neighbors", "contamination_semantic_check",
    "aqe_coalesce_shuffle_read",
    # executed-metric gates: the returned frames are local one-row results;
    # the documented value is the probe plan they assert on (docstrings)
    "semdedup_pair_cap_metric", "lsh_band_pair_metric",
    "eval_isotonic_calibration", "pq_rerank_hydration_metric",
    "sample_group_split_leakproof", "curation_doremi_apply",
)

COLS = ("wall_s", "jobs", "cpu_s", "shuffle_bytes", "peak_exec_mem_mb")

#: Ids in a plan's text that count over the life of the process, not
#: over the plan: expression ids (``#<n>``), ``plan_id=<n>``, the counter
#: in a Python lambda's variable name (``lambda x_<n>``, which counts
#: every lambda the process built before, derived-table builds included),
#: RDD ids (``RDD[<n>]``), codegen stage ids (``[codegen id : <n>]``)
#: and AQE query stage ids (a query stage's ``Arguments: <n>``).
_RUN_IDS = (r"(#)(\d+)", r"(plan_id=)(\d+)", r"(lambda [xyz]_)(\d+)", r"(RDD\[)(\d+)",
            r"(\[codegen id : )(\d+)",
            r"(QueryStage\n(?:(?:Input|Output) \[\d+\]: .*\n)?Arguments: )(\d+)")


def normalize_plan(plan: str) -> str:
    """``plan`` with each kind of :data:`_RUN_IDS` renumbered in order of
    first appearance and the checkout root read as ``<repo>``, so that
    unchanged code writes the same text in any process."""
    for pattern in _RUN_IDS:
        ids: dict[str, str] = {}
        plan = re.sub(pattern, lambda m: m.group(1) + ids.setdefault(
            m.group(2), str(len(ids) + 1)), plan)
    return plan.replace(ROOT, "<repo>")


def profile(spark, name: str, sf_dir: str, out_dir: str) -> list[dict]:
    """Warm ``name``, profile one pass, write each barrier's input plan
    into ``out_dir`` and return the rows: ``label`` plus :data:`COLS`,
    one per barrier in the order they ran (a lazy one whose plan has no
    shuffle runs no job of its own), then ``(query)`` for the jobs
    outside any barrier, then ``total``, the whole pass."""
    qd = REGISTRY[name]
    store = StatusStore(spark)
    sql = spark._jsparkSession.sharedState().statusStore()

    def run() -> None:
        qd.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()

    with job_label(spark, name):
        run()
        token = store.mark()
        seen = max((ex.executionId() for ex in _executions(sql)), default=-1)
        t0 = time.perf_counter()
        run()
        wall = time.perf_counter() - t0
    jobs, stages = store._read()
    jobs = sorted(attribute(jobs, "jobId", token[0], float("inf")),
                  key=lambda j: j["jobId"])
    stages = attribute(stages, "stageId", token[1], float("inf"))
    barriers = [ex for ex in _executions(sql) if ex.executionId() > seen
                and (ex.description() or "").startswith(f"{name}/")]
    # a stage is the work of the first job that lists it; later jobs
    # only skip it (a reused shuffle)
    owner: dict[int, str] = {}
    for j in jobs:
        for sid in j["stageIds"]:
            owner.setdefault(sid, j.get("description"))
    rows = []
    for desc in dict.fromkeys([ex.description() for ex in barriers]
                              + [j.get("description") for j in jobs]):
        w = summarize([j for j in jobs if j.get("description") == desc],
                      [s for s in stages if owner.get(s["stageId"]) == desc])
        label = (desc or "")[len(name) + 1:] or "(query)"
        rows.append(_row(label, w, union_length(w["job_intervals"])))
    rows.append(_row("total", summarize(jobs, stages), wall))

    os.makedirs(out_dir, exist_ok=True)
    for stale in glob.glob(os.path.join(out_dir, "*.txt")):
        os.remove(stale)
    for n, ex in enumerate(barriers):
        label = ex.description()[len(name) + 1:].replace("/", "_")
        with open(os.path.join(out_dir, f"{n:02d}_{label}.txt"), "w") as fh:
            fh.write(normalize_plan(ex.physicalPlanDescription()))
    return rows


def _executions(sql) -> list:
    """The SQL executions Spark's SQL status store holds, oldest first:
    one per action (each barrier's checkpoint is one), with its
    description and final plan."""
    seq = sql.executionsList()
    return [seq.apply(i) for i in range(seq.size())]


def _row(label: str, w: dict, wall: float) -> dict:
    return {"label": label, "wall_s": round(wall, 3), "jobs": w["jobs"],
            "cpu_s": round(w["cpu_s"], 3),
            "shuffle_bytes": int(w["shuffle_read_bytes"] + w["shuffle_write_bytes"]),
            "peak_exec_mem_mb": round(w["peak_exec_mem_mb"], 1)}


def plans_md(spark, sf_dir: str) -> str:
    """PLANS.md: each bench and showcase query's executed plan, written
    so that unchanged code regenerates it byte for byte: scan metadata is
    never truncated (Spark cuts it at a width, so ids of another digit
    count cut it elsewhere) and each section goes through
    :func:`normalize_plan`."""
    spark.conf.set("spark.sql.maxMetadataStringLength", str(2**31 - 1))
    names = [n for n, q in REGISTRY.items() if q.bench] + list(SHOWCASE)
    out = [
        "# PLANS — executed physical plans of the headline queries",
        "",
        "Generated by `python scripts/profile_query.py` at sf0.01.",
        "What to look for: `PushedFilters`/`ReadSchema` at the `Scan parquet`",
        "nodes (pushdown + pruning reach the format reader), broadcast vs",
        "shuffle join selection per the 2MB policy, exchange counts (the",
        "shuffle budget each docstring claims), and Expand/Window/TakeOrdered",
        "physical operators backing the declarative plans. Expression ids,",
        "`plan_id`s and lambda variable numbers are renumbered per section and",
        "the checkout root reads `<repo>`, so unchanged code regenerates this",
        "file byte for byte.",
        "",
    ]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    for name in names:
        qd = REGISTRY[name]
        plan = normalize_plan(
            qd.builder(spark, sf_dir)._jdf.queryExecution().explainString(mode))
        out += [f"## {name}" + ("  _(bench)_" if qd.bench else ""), "",
                "\n".join(textwrap.wrap(" ".join(qd.doc.split()), width=76)), "",
                # NUL bytes appear when a plan renders an empty-string
                # literal (xxhash64 coalesce); strip them so PLANS.md stays text
                "```", plan.rstrip().replace("\x00", "''"), "```", ""]
    return "\n".join(out) + "\n"


def main(argv: list[str]) -> int:
    sf_dir = SF
    if argv and argv[-1] not in REGISTRY and os.path.isdir(argv[-1]):
        sf_dir = argv.pop()
    unknown = [n for n in argv if n not in REGISTRY]
    if unknown:
        print(f"unknown registry queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="profile-query")
    if not argv:
        text = plans_md(spark, sf_dir)
        with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
            fh.write(text)
    for name in argv:
        out_dir = os.path.join(ROOT, "plans", "profile", name)
        rows = profile(spark, name, sf_dir, out_dir)
        print(f"\n{name} at {sf_dir} (plans: {os.path.relpath(out_dir, ROOT)}/)")
        print(f"{'barrier':<28}" + "".join(f"{c:>18}" for c in COLS))
        for r in rows:
            print(f"{r['label']:<28}" + "".join(f"{r[c]:>18}" for c in COLS))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
