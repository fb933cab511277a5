#!/usr/bin/env python
"""Scaling curve: run registry queries at each data decade and print
SCALING.md's markdown.

A plan whose time grows ~linearly (or better) across decades of data,
while the per-query fixed cost (planning, job and task launch)
amortizes, is shuffle/partition-structured correctly; a plan that grows
super-linearly has a hidden quadratic (unblocked pair join, driver
collect, exploding skew) and would not survive the next 100x.

    python scripts/scaling_check.py [--twins] [name ...]

Without ``--twins`` it runs the bench set plus ``EXTRA_QUERIES`` (or
only the named registry queries) at sf0.001, sf0.01, sf0.1 and, when
``.testdata/sf1`` exists (``scripts/gen_sf1.py``), sf1. ``--twins``
runs ``TWIN_QUERIES`` (or the named queries) at sf1 and sf10
(``scripts/gen_sf1.py .testdata/sf10 <sf0.1 dir> 100``).

Each cell is ``bench.run_query`` (a warm run, then 5 timed runs) and
holds the median wall seconds and the median work; the warm run builds
any persisted derived table outside the timed runs. A cell whose query
raises holds the exception class and the sweep goes on, so one failure
does not lose the hours of cells around it. Each cell, with its runs'
seconds, goes to stderr as a JSON line when it completes; the table goes
to stdout. Exits 1 when a query's ``jobs`` changes with size and
``JOBS_VARY_WITH_SF`` does not list it, 2 on an unknown name.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: Members of the table that are deliberately not in the bench set
#: (scale twins and insurance variants for regimes the fixture does not
#: produce) but whose curves the table exists to compare.
EXTRA_QUERIES = [
    # two-stage distributed ranking, unrolled space-filling-curve math
    "spearman_rho_ranks",
    "hilbert_vs_zorder_locality",
    # substring dedup
    "text_chunk_dedup_ratio",
    # salted hot-key join (self-proving ShuffledHashJoin)
    "skew_salted_dim_join",
    # the global-ntile query vs its distributed exact-rank twin: the
    # pair the scaling table exists to compare (single-partition sort
    # growth vs range-shuffle growth; the twin is in the bench set)
    "customer_rfm_segments",
    # df-capped near-dup twin (adaptive: falls through to the uncapped
    # plan when max shingle df <= cap, as on this fixture)
    "dedup_ngram_jaccard_capped",
    # winnowing fingerprints (O(n*w) map-side HOFs per doc), DSIR
    # importance scoring (explode + two aggregates)
    "text_winnow_density",
    "dedup_winnow_overlap",
    "curation_dsir_selection",
    # the (e)-family on global_cumsum / global_prefix_max /
    # global_first_following: their rows evidence that the fixed-stage
    # cost amortizes, where the single-partition distinct-value sort
    # they replaced grew with N on one task
    "eval_auc_purchase",
    "eval_pr_curve_purchase",
    "eval_calibration_bins",
    "eval_isotonic_calibration",
    "ks_two_sample",
    "stump_best_split",
    "trimmed_mean_exact",
    "conformal_interval_coverage",
    "conversion_latency_quantiles",
    "curation_quantile_normalize",
    "mannwhitney_rank_sum",
    "events_disorder_audit",
    "vocab_coverage_cutoff",
    "text_zipf_fit",
]

#: The scale-headline subset measured at the fifth decade (sf10, 60M
#: lineitem rows / 500k documents / 200k embeddings): the queries whose
#: 100 TB story rests on a named structural claim (two-level fit,
#: distributed rank, banded candidates, partition pruning), paired
#: where possible with the twin whose asymptote is known to be worse,
#: so the decade measures the separation instead of extrapolating it.
TWIN_QUERIES = [
    "dedup_semdedup_scale",       # two-level IVF fit + chunk-capped pairs
    "dedup_semdedup",             # brute N*k twin (expected super-linear)
    "dedup_components_scale",     # large/small-star connected components
    "customer_rfm_segments_scale",  # distributed exact NTILE
    "ntile_equidepth_scale",
    "skyline_price_size_scale",   # triangular carry-in partition sweep
    "dedup_ngram_jaccard",        # banded shingle candidates
    "dedup_ngram_jaccard_capped",  # + adaptive hot-shingle df cap
    "ivf_layout_pruning_gain",    # partition-pruned IVF serving layout
    "rag_retrieval_hydrated",     # probe -> prune -> rerank -> hydrate
    "ann_serving_frontier",       # recall/cost table off the layout
    "corpus_cleaned_write_pipeline",  # surgery -> partitioned write ->
                                  # shard manifest -> zero-delta replay
    "semdedup_pair_cap_metric",   # executed-metric pair bound at scale
    "ann_ingest_drift_recall",    # fixed-k fit, frozen-quantizer ingest
    "dedup_semdedup_incremental",  # two-level base fit + frozen-model
                                  # refresh
    "dedup_substring_clone_runs",  # df-capped positional postings join
    "tokenizer_unigram_viterbi_em",  # corpus scan -> vocab-bounded EM
    "dedup_paragraph_rewrite",    # explode -> groupBy-min -> join ->
                                  # ordered re-concat at 5M paragraphs
    "paragraph_rewrite_join_metric",  # the move-once bound executed at
                                  # the fifth decade
    "curation_quality_classifier_train",  # 7 integer-sum GD scans over
                                  # 500k docs, 3-scalar driver state
    "embedding_matryoshka_recall",  # exact truth x 3 prefixes (eval)
    "tokenizer_wordpiece_encode",  # broadcast-piece-map greedy fold
    "tokenizer_fertility_tri",    # tri-trainer fertility comparison
    "curation_gate_calibration",  # equi-WIDTH bins + B^3 minimax solve
    "ann_serving_pq_rerank",      # trained-PQ shortlist -> exact rerank
    "eval_isotonic_calibration",  # (e)-family representative:
                                  # equi-depth bins via global_cumsum
    "sample_cluster_split_leakproof",  # signatures -> banded pairs ->
                                  # components -> leakproof split
    "ann_binary_hamming_rerank",  # sign-pack -> XOR+popcount shortlist
                                  # -> bounded exact-cosine rerank
    "tokenizer_split_fertility",  # train-split WordPiece -> per-split
                                  # fertility/OOV (vocab-bounded)
    "sample_group_split_leakproof",  # exact-fingerprint group split +
                                  # leak audit
    "curation_doremi_mixture",    # GD proxy fit -> excess -> MW quotas
    "curation_doremi_apply",      # quotas -> per-doc pass counts via
                                  # global_rank (no per-source window)
    "ann_serving_frontier_pq",    # untrained PQ rows of the frontier
    "pq_rerank_hydration_metric",  # executed hydration bound at scale
    "ann_nndescent_knn_graph",    # NN-descent rounds, rho-sampled
                                  # (K+R)^2-bounded local join
    "ann_nndescent_beam_search",  # graph-serving walk: budget is
                                  # B*K*hops per query, N-independent
                                  # (build grows linearly, serving
                                  # should read flat)
]

#: Queries whose job count legitimately changes with the data size, each
#: with the reason. A job count that grows with data otherwise means a
#: driver loop over data, which would not survive the next decade.
JOBS_VARY_WITH_SF: dict[str, str] = {
    "text_repetition_rules": "+1 job at sf1 only: sf1's documents is a "
    "multi-file directory scanned in 4 tasks, not 1, and AQE submits one "
    "more query-stage job (job lists at sf0.1 vs sf1)",
    "text_bigram_lm_score": "+2 jobs at sf1 only: the 4-task documents scan "
    "adds two AQE query-stage jobs to the bigram LM (job lists at sf0.1 vs sf1)",
    "curation_ccnet_ppl_buckets": "+2 jobs at sf1 only: the same two AQE "
    "query-stage jobs in its bigram LM (job lists at sf0.1 vs sf1)",
    "dedup_lsh_recall_audit": "reads 11 or 12 jobs from run to run at one sf "
    "(the known wobble, also seen in bench.py sweeps)",
}

SFS = ["sf0.001", "sf0.01", "sf0.1"]

#: sf1 (10x sf0.1) and sf10 (100x) are repo-generated
#: (scripts/gen_sf1.py), not driver data.
_SF1_DIR = os.path.join(ROOT, ".testdata", "sf1")
_SF10_DIR = os.path.join(ROOT, ".testdata", "sf10")


def _ratio_name(lo: str, hi: str) -> str:
    """``r10_1`` for sf0.001 -> sf0.01: row multiples of sf0.001."""
    return "r%d_%d" % tuple(round(float(sf[2:]) * 1000) for sf in (hi, lo))


def render(results: dict[str, dict[str, dict]]) -> str:
    """The markdown table of ``results`` ({query: {sf: cell}}, the sfs in
    run order): per sf the median wall seconds, then each decade's wall
    ratio, then per sf the median ``jobs``, shuffle MB and peak execution
    memory MB. A cell with an ``error`` shows the exception class."""
    sfs = list(next(iter(results.values())))
    decades = list(zip(sfs, sfs[1:]))
    head = ([f"{sf} s" for sf in sfs] + [_ratio_name(*d) for d in decades]
            + [f"{k} {'/'.join(sfs)}" for k in ("jobs", "shuffle MB", "peak MB")])
    lines = ["| query | " + " | ".join(head) + " |",
             "|---" * (len(head) + 1) + "|"]
    for name, cells in results.items():
        ok = {sf: c for sf, c in cells.items() if "error" not in c}
        wall = [f"{ok[sf]['s']:.3f}" if sf in ok else cells[sf]["error"] for sf in sfs]
        ratios = [f"{ok[hi]['s'] / ok[lo]['s']:.2f}" if {lo, hi} <= ok.keys() else "-"
                  for lo, hi in decades]
        work = ["/".join(fmt(ok[sf]) if sf in ok else "-" for sf in sfs) for fmt in (
            lambda c: str(int(c["jobs"])),
            lambda c: f"{c['shuffle_bytes'] / 1e6:.2f}",
            lambda c: f"{c['peak_exec_mem_mb']:.0f}",
        )]
        lines.append(f"| {name} | " + " | ".join(wall + ratios + work) + " |")
    return "\n".join(lines)


def jobs_vary_unlisted(results: dict[str, dict[str, dict]],
                       allowed: dict[str, str] = JOBS_VARY_WITH_SF) -> list[str]:
    """The queries whose ``jobs`` differs across the sizes they ran at
    and that ``allowed`` does not list."""
    return [name for name, cells in results.items()
            if name not in allowed
            and len({c["jobs"] for c in cells.values() if "error" not in c}) > 1]


def main(argv: list[str]) -> int:
    from bench import REGISTRY, median_work, run_query
    from flu_data_pipeline_spark.session import default_cpus, get_spark
    from perfbench.spans import StatusStore

    testdata = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    twins = "--twins" in argv
    names = [a for a in argv if a != "--twins"]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown registry queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    if twins:
        sfs = {"sf1": _SF1_DIR, "sf10": _SF10_DIR}
        if not all(map(os.path.isdir, sfs.values())):
            raise SystemExit("--twins needs .testdata/sf1 and .testdata/sf10: run "
                             "python scripts/gen_sf1.py, then python scripts/"
                             "gen_sf1.py .testdata/sf10 <sf0.1 dir> 100")
        queries = names or TWIN_QUERIES
    else:
        sfs = {sf: os.path.join(testdata, sf) for sf in SFS}
        if os.path.isdir(_SF1_DIR):
            sfs["sf1"] = _SF1_DIR
        queries = names or ([n for n, q in REGISTRY.items() if q.bench]
                            + [n for n in EXTRA_QUERIES if not REGISTRY[n].bench])

    spark = get_spark(app_name="scaling_check")
    store = StatusStore(spark)
    results: dict[str, dict[str, dict]] = {}
    for name in queries:
        for sf, sf_dir in sfs.items():
            try:
                secs, runs = run_query(spark, store, name, sf_dir)
                cell = {"s": round(statistics.median(secs), 4), **median_work(runs)}
            except Exception as exc:  # noqa: BLE001 - the cell records it
                secs, cell = [], {"error": type(exc).__name__}
            results.setdefault(name, {})[sf] = cell
            print(json.dumps({"query": name, "sf": sf, **cell,
                              "runs_s": [round(x, 4) for x in secs]}),
                  file=sys.stderr, flush=True)

    print((_TWINS_MD if twins else _HEADER_MD) % default_cpus())
    print(render(results))
    if not twins:
        print(_CATCHES_MD)
    drift = jobs_vary_unlisted(results)
    if drift:
        print(f"jobs change with sf, not in JOBS_VARY_WITH_SF: {', '.join(drift)}",
              file=sys.stderr)
    spark.stop()
    return 1 if drift else 0


_WORK_MD = (
    "Each cell is `bench.run_query` on local[%s] (`$SPARK_GRAFT_CPUS`): a "
    "warm run, which also builds any persisted derived table (IVF layout, "
    "cleaned corpus, serving truth, kNN graph), then 5 timed runs into the "
    "noop sink. `s` is their median wall seconds and `rX_Y` the ratio of "
    "two sizes' medians, sizes in rows relative to sf0.001. The work "
    "columns give one value per size, `/`-separated, each the median over "
    "the 5 runs of Spark's status store for the run's jobs: `jobs`, "
    "`shuffle MB` (read + write bytes / 1e6) and `peak MB` (the largest "
    "stage's peak execution memory). A query's `jobs` may change with size "
    "only if `JOBS_VARY_WITH_SF` in the script lists it with the reason.\n"
)

_HEADER_MD = (
    "# SCALING — measured wall time and work across decades of data\n\n"
    "Generated by `python scripts/scaling_check.py`. sf1 is "
    "repo-synthesized 10x of sf0.1 (`scripts/gen_sf1.py`), with TPC-H-style "
    "key remapping so join/group cardinality scales, not duplicate "
    "multiplicity. " + _WORK_MD + "\nRatios well under 10 mean fixed "
    "overheads still dominate (plan cost, job and task launch): headroom, "
    "not saturation; ratios near 10 are linear scaling; ratios above 10 "
    "flag a hidden super-linearity.\n"
)

_TWINS_MD = (
    "## sf10 — fifth decade (scale twins)\n\n"
    "Generated by `python scripts/scaling_check.py --twins` (.testdata/sf10 "
    "= 100x sf0.1 via `scripts/gen_sf1.py`, 60M lineitem / 500k documents "
    "/ 200k embeddings). " + _WORK_MD
)

#: Appended to the generated SCALING.md: regressions this table has
#: caught — the reason it exists.
_CATCHES_MD = """
## Catches — super-linearities this table has caught

- **Round 4 (generator)**: the first sf1 synthesis left every replica a
  near-dup of its original; near-dup queries read 14-20x (quadratic
  candidate inflation) until the per-replica full-alphabet rotation fix.
- **Round 4 (winnowing)**: character-level fingerprints saw fake
  cross-replica hot 8-grams from a partial (a-t) alphabet rotation —
  df^2 postings cost, 12.3x — fixed by rotating the full a-z range.
- **Round 5 (dedup_semdedup)**: the first registration used FIXED k=8
  clusters; at sf1 the within-cluster pair join went quadratic
  (r1000_100 = 14.2, 8.1 s -> 115 s). Fix: adaptive k via modular-id
  init (one centroid per 250 vec_ids, so k grows with N — the SemDeDup
  paper's own cluster-count scaling), which keeps per-cluster pair
  work bounded and restored the decade to the linear gate (see the
  measured dedup_semdedup row above — the narrative deliberately
  carries no frozen numbers, so the table stays the single source of
  truth across regens) with the oracle still exact (the modular init
  is a static WHERE clause in both engines, where a data-dependent
  LIMIT could not be).
- **Round 6 (dedup_semdedup assignment)**: adaptive k fixed the pair
  pass but left the brute-force N*k centroid assignment (k grows with
  N => N^2/stride) plus an O(N) driver collect in kmeans_fit — named
  design-weak in VERDICT r5. Fix: dedup_semdedup_scale's two-level
  (IVF) fit in operators/clustering.py — fine centroids stay in a
  DataFrame, only the O(sqrt(k)) coarse level broadcasts, assignment
  probes 2 coarse cells and equi-joins fine centroids; compare the
  two semdedup rows above at the sf1 decade."""


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
