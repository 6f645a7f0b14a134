"""Mechanical guard over unpartitioned windows in every registered plan
(r7 verdict task 3 — the dupscreen pattern applied to plans).

The repo's unpartitioned-window call sites were audited by hand each
round ("the input relation is a bounded grid"), but a new operator can
silently add a site whose input GROWS with the corpus — the class
`peak_concurrent_sessions` carried until round 8, and the class this
round also removed from `pps_systematic_sample` (fact-scale cumsum),
`quality_score_quantile_norm` (corpus-scale global ROW_NUMBER), and
`fagin_ta_topk` (three entity-scale rankings).

This test builds EVERY registered query's executed plan and extracts
each window spec with zero partition columns (tools/window_audit.py).
The result must equal ALLOWLIST exactly, in both directions:

- a query gaining an unpartitioned window fails until a human writes
  down WHY its input relation is corpus-bounded (the rationale string);
- a query losing one fails too, so the allowlist can never go stale.

Signatures are the spec's order keys with expression IDs stripped —
stable across plan builds, specific enough that moving a window to a
different relation (different order columns) re-trips the guard.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tools.window_audit import nested_loop_joins, unpartitioned_specs

# query -> (sorted unpartitioned-window signatures, boundedness rationale)
ALLOWLIST: dict[str, tuple[tuple[str, ...], str]] = {
    'ann_ivf_topk': (
        ('cosine_sim DESC NULLS LAST, vec_id ASC NULLS FIRST',),
        'rank re-assignment over a LIMIT-k candidate slice (k rows)',
    ),
    'ann_lsh_topk': (
        ('cosine_sim DESC NULLS LAST, vec_id ASC NULLS FIRST',),
        'rank re-assignment over a LIMIT-k candidate slice (k rows)',
    ),
    'ann_pq_topk': (
        ('dist2 ASC NULLS FIRST, vec_id ASC NULLS FIRST',),
        'rank re-assignment over a LIMIT-k candidate slice (k rows)',
    ),
    'ann_recall_curve': (
        ('cosine_sim DESC NULLS LAST, vec_id ASC NULLS FIRST',),
        'rank re-assignment over a LIMIT-k candidate slice (k rows)',
    ),
    'average_precision_exact': (
        ('<no order>', 'score DESC NULLS LAST',),
        '4-dp distinct-score grid (<=10^4 rows by quantization)',
    ),
    'bpe_pair_frequencies': (
        ('pair_count DESC NULLS LAST, pair ASC NULLS FIRST',),
        'vocabulary-bounded pair table, top-slice ordering',
    ),
    'calibration_bins_ece': (
        ('<no order>',),
        '10-row calibration bin table',
    ),
    'compaction_bin_packing': (
        ('source ASC NULLS FIRST, lang ASC NULLS FIRST',),
        'file manifest (metadata-sized |sources|x|langs|); running bin-pack by design',
    ),
    'competing_risks_incidence': (
        ('lifetime_days ASC NULLS FIRST',),
        'distinct-lifetime day grid (bounded by the dataset day span)',
    ),
    'cosine_topk_exact': (
        ('cosine_sim DESC NULLS LAST, vec_id ASC NULLS FIRST',),
        'rank re-assignment over a LIMIT-k candidate slice (k rows)',
    ),
    'cumulative_gains_deciles': (
        ('<no order>', 'score DESC NULLS LAST',),
        '4-dp distinct-score grid (<=10^4 rows by quantization)',
    ),
    'curriculum_interleave_order': (
        ('_sb ASC NULLS FIRST',),
        'two-phase prefix residual over super-buckets (corpus/span^2 rows)',
    ),
    'cv_fold_leakage_audit': (
        ('<no order>',),
        'K^2 = 25 fold cells',
    ),
    'daily_user_accession': (
        ('day ASC NULLS FIRST',),
        'day spine (O(days), never data-sized)',
    ),
    'dedup_cascade_report': (
        ('tier_rank ASC NULLS FIRST',),
        '4-row dedup tier table',
    ),
    'drift_panel_report': (
        ('<no order>', 'bucket ASC NULLS FIRST',),
        '0.1-quantized bucket grid (bounded value domain)',
    ),
    'eval_scorecard_report': (
        ('<no order>', 'score ASC NULLS FIRST', 'score DESC NULLS LAST',),
        '4-dp distinct-score grid (<=10^4 rows by quantization)',
    ),
    'experiment_readout_report': (
        ('<no order>', 'score DESC NULLS LAST',),
        'bounded constituent grids (score grid / decile passes)',
    ),
    'forward_fill_hourly': (
        ('hour ASC NULLS FIRST',),
        'hour spine (O(hours), never data-sized)',
    ),
    'group_aware_fold_assignment': (
        ('<no order>',),
        'K-row fold share table',
    ),
    'heaps_law_fit': (
        ('<no order>',),
        '10-row corpus-prefix checkpoint table',
    ),
    'hybrid_rrf_fusion': (
        ('bm25 DESC NULLS LAST, doc_id ASC NULLS FIRST', 'cosine_sim DESC NULLS LAST, vec_id ASC NULLS FIRST',),
        'rank re-assignment over a LIMIT-k candidate slice (k rows)',
    ),
    'isotonic_calibration_bins': (
        ('bin ASC NULLS FIRST',),
        '50-row isotonic bin grid',
    ),
    'join_order_advisor': (
        ('<no order>',),
        'join-graph metadata (tables x candidate keys)',
    ),
    'kaplan_meier_retention': (
        ('lifetime_days ASC NULLS FIRST',),
        'distinct-lifetime day grid (bounded by the dataset day span)',
    ),
    'kruskal_wallis_h': (
        ('bucket ASC NULLS FIRST',),
        '0.1-quantized bucket grid (bounded value domain)',
    ),
    'ks_drift_two_sample': (
        ('bucket ASC NULLS FIRST',),
        '0.1-quantized bucket grid (bounded value domain)',
    ),
    'cramer_von_mises_drift': (
        ('<no order>', 'bucket ASC NULLS FIRST'),
        '0.1-quantized bucket grid (bounded value domain) + whole-frame '
        'totals over it',
    ),
    'anderson_darling_drift': (
        ('<no order>', 'bucket ASC NULLS FIRST'),
        '0.1-quantized bucket grid (bounded value domain) + whole-frame '
        'totals over it',
    ),
    'anytime_confidence_sequence': (
        ('<no order>', 'd ASC NULLS FIRST'),
        'day spine (O(days), never data-sized): running trial/success '
        'prefix sums + the one-row corpus total',
    ),
    'lang_source_chi_square': (
        ('<no order>',),
        '|langs| x |sources| contingency grid',
    ),
    'linear_interpolate_hourly': (
        ('hour ASC NULLS FIRST',),
        'hour spine (O(hours), never data-sized)',
    ),
    'lorenz_curve_deciles': (
        ('decile ASC NULLS FIRST',),
        '10-row decile curve (the NTILE underneath is exact_global_ntiles)',
    ),
    'mann_whitney_u_test': (
        ('<no order>', 'bucket ASC NULLS FIRST',),
        '0.1-quantized bucket grid (bounded value domain)',
    ),
    'mood_scale_rank_test': (
        ('<no order>', 'bucket ASC NULLS FIRST',),
        '0.1-quantized bucket grid (bounded value domain) — the '
        'mann_whitney plan shape with squared-midrank scores',
    ),
    'mrr_first_relevant': (
        ('<no order>',),
        'per-source best-hit aggregate (|sources| rows)',
    ),
    'ndcg_retrieval_eval': (
        ('bm25 DESC NULLS LAST, doc_id ASC NULLS FIRST', 'grade DESC NULLS LAST', 'rnk ASC NULLS FIRST',),
        'top-k run list + <=4-row grade histogram',
    ),
    'alpha_dcg_novelty_eval': (
        ('bm25 DESC NULLS LAST, doc_id ASC NULLS FIRST', 'rnk ASC NULLS FIRST',),
        'top-k run list (<=30 rank x subtopic rows)',
    ),
    'err_retrieval_eval': (
        ('bm25 DESC NULLS LAST, doc_id ASC NULLS FIRST', 'rnk ASC NULLS FIRST'),
        'top-k run list (20 rows) + the rank-ordered prefix windows over it',
    ),
    'nelson_aalen_hazard': (
        ('lifetime_days ASC NULLS FIRST',),
        'distinct-lifetime day grid (bounded by the dataset day span)',
    ),
    'peak_concurrent_sessions': (
        ('_sb ASC NULLS FIRST',),
        'two-phase prefix residual over super-buckets (corpus/span^2 rows)',
    ),
    'poisson_bootstrap_ci': (
        ('_w0 ASC NULLS FIRST, b ASC NULLS FIRST',),
        '100-row bootstrap replicate frame',
    ),
    'pps_systematic_sample': (
        ('_sb ASC NULLS FIRST',),
        'two-phase prefix residual over super-buckets (corpus/span^2 rows)',
    ),
    'qini_curve_deciles': (
        ('<no order>', 'score DESC NULLS LAST',),
        '4-dp distinct-score grid (<=10^4 rows by quantization)',
    ),
    'quality_score_quantile_norm': (
        ('<no order>', 'q ASC NULLS FIRST',),
        'integer score-domain histogram (<=1002 values incl. the -1 NULL-text sentinel)',
    ),
    'rank_biased_overlap': (
        ('<no order>', 's_idf DESC NULLS LAST, doc_id ASC NULLS FIRST', 's_tf DESC NULLS LAST, doc_id ASC NULLS FIRST'),
        'rank re-assignment over two LIMIT-10 top-k slices + whole-frame sum over the 10-row depth grid',
    ),
    'revenue_contribution_pareto': (
        ('<no order>', 'revenue DESC NULLS LAST, n_name ASC NULLS FIRST',),
        '|nations|-row aggregate (dimension-sized)',
    ),
    'revenue_share_of_parent': (
        ('<no order>',),
        '|nations|-row aggregate (dimension-sized)',
    ),
    'roc_auc_exact': (
        ('<no order>', 'score ASC NULLS FIRST',),
        '4-dp distinct-score grid (<=10^4 rows by quantization)',
    ),
    'skipgram_ppmi_pairs': (
        ('ppmi DESC NULLS LAST, w1 ASC NULLS FIRST, w2 ASC NULLS FIRST',),
        'vocab-bounded PPMI pair top slice',
    ),
    'skyline_size_price': (
        ('p_size DESC NULLS LAST',),
        'p_size domain (<=50 rows)',
    ),
    'source_concentration_panel': (
        ('n_toks DESC NULLS LAST, source ASC NULLS FIRST',),
        '|sources|-row token-mix aggregate',
    ),
    'spearman_rank_correlation': (
        ('x ASC NULLS FIRST', 'y ASC NULLS FIRST',),
        'distinct-value bucket grids (USD-10 quantized)',
    ),
    'unigram_sampling_table': (
        ('<no order>', 'c DESC NULLS LAST, term ASC NULLS FIRST',),
        'top-200 vocabulary table',
    ),
    'wasserstein_drift_1d': (
        ('<no order>', 'bucket ASC NULLS FIRST',),
        '0.1-quantized bucket grid (bounded value domain)',
    ),
    'weibull_survival_fit': (
        ('lifetime_days ASC NULLS FIRST',),
        'distinct-lifetime day grid (bounded by the dataset day span; '
        'the kaplan_meier_retention window reused for the plot points)',
    ),
    'zipf_law_fit': (
        ('c DESC NULLS LAST, tok ASC NULLS FIRST',),
        'top-200 vocabulary slice',
    ),
    # --- round-9 crop ---
    'logrank_test_arms': (
        ('lifetime_days ASC NULLS FIRST',),
        'distinct-lifetime day grid (bounded by the dataset day span)',
    ),
    'auc_hanley_mcneil_ci': (
        ('<no order>', 'score ASC NULLS FIRST',),
        '4-dp distinct-score grid (<=10^4 rows by quantization)',
    ),
    'meta_analysis_fixed_effect': (
        ('<no order>',),
        'bounded source grid (~20 study rows)',
    ),
    'sprt_conversion_monitor': (
        ('<no order>', 'd ASC NULLS FIRST',),
        'distinct-day grid (bounded by the dataset day span)',
    ),
    'mantel_haenszel_pooled_or': (
        ('<no order>',),
        'pooled MH sums over the ~25-row nation-stratum grid',
    ),
    'dunn_posthoc_pairs': (
        ('<no order>', 'bucket ASC NULLS FIRST', 'i DESC NULLS LAST',
         'p ASC NULLS FIRST, grp_a ASC NULLS FIRST, grp_b ASC NULLS FIRST',),
        'KW bucket grid (<=4901 rows) + the K(K-1)/2 pair family '
        '(BH rank/step-up windows over <=10 rows)',
    ),
    'friedman_test_daily': (
        ('<no order>',),
        'whole-frame deviation sum over the k-row treatment table',
    ),
    'theil_inequality_decomposition': (
        ('<no order>',),
        'whole-frame between/within sums over the |sources|-row grid',
    ),
    'page_trend_test': (
        ('<no order>',),
        'whole-frame L sum over the k-row treatment table',
    ),
    'hosmer_lemeshow_gof': (
        ('<no order>',),
        '10-row calibration bin table',
    ),
}


@pytest.fixture(scope="module")
def plan_surfaces(registry_walk):
    """Both screens parse the plan strings recorded by the shared
    parallel registry walk (conftest.registry_walk, r12) — previously a
    second serial 488-builder walk of its own (~6.5 min of the suite)."""
    windows: dict[str, tuple[str, ...]] = {}
    joins: dict[str, tuple[str, ...]] = {}
    for name, rec in registry_walk.items():
        if rec.error is not None:
            raise rec.error
        wsigs = tuple(sorted(set(unpartitioned_specs(rec.plan))))
        if wsigs:
            windows[name] = wsigs
        jsigs = tuple(nested_loop_joins(rec.plan))
        if jsigs:
            joins[name] = jsigs
    return windows, joins


def test_every_unpartitioned_window_is_allowlisted(plan_surfaces):
    found = plan_surfaces[0]
    allow = {n: sigs for n, (sigs, _) in ALLOWLIST.items()}
    new = {n: s for n, s in found.items() if allow.get(n) != s}
    gone = {n: s for n, s in allow.items() if found.get(n) != s}
    assert found == allow, (
        "unpartitioned-window surface changed.\n"
        f"NEW/CHANGED (write a boundedness rationale or re-plan): {new}\n"
        f"STALE allowlist entries (remove them): {gone}"
    )


def test_every_nested_loop_join_is_allowlisted(plan_surfaces):
    """Companion screen: CartesianProduct / BroadcastNestedLoopJoin sites
    (multiplicity-aware). Every allowlisted site is one of two classes —
    'bounded-build' (the broadcast side is a 1-row aggregate, a bounded
    frame such as deciles/bins/patterns/query vectors/dims/spines, or a
    bounded grid boundary; cost O(n * |frame|) with the per-operator
    boundedness argument in its docstring) or 'exact-baseline' (a
    deliberately exact O(n^2) reference whose registered scale path is
    the ANN/blocked/banded twin). A NEW nested-loop site fails here
    until a human classifies it."""
    found = plan_surfaces[1]
    allow = {n: sigs for n, (sigs, _) in JOIN_ALLOWLIST.items()}
    new = {n: s for n, s in found.items() if allow.get(n) != s}
    gone = {n: s for n, s in allow.items() if found.get(n) != s}
    assert found == allow, (
        "nested-loop join surface changed.\n"
        f"NEW/CHANGED (classify bounded-build / exact-baseline): {new}\n"
        f"STALE allowlist entries (remove them): {gone}"
    )


def test_allowlist_signature_parser_agrees_with_spark():
    """Pin the parser on a representative plan fragment so an upstream
    plan-string format change breaks THIS test (clear signal), not the
    guard silently."""
    frag = (
        "Window [sum(v#5L) windowspecdefinition(q#3L ASC NULLS FIRST, "
        "specifiedwindowframe(RangeFrame, unboundedpreceding$(), "
        "currentrow$())) AS cum#7L], [q#3L ASC NULLS FIRST]\n"
        "Window [sum(v#5L) windowspecdefinition(src#1, q#3L ASC NULLS "
        "FIRST, specifiedwindowframe(RangeFrame, unboundedpreceding$(), "
        "currentrow$())) AS n#9L], [src#1], [q#3L ASC NULLS FIRST]"
    )
    assert unpartitioned_specs(frag) == ["q ASC NULLS FIRST"]
JOIN_ALLOWLIST: dict[str, tuple[tuple[str, ...], str]] = {
    'ann_ivf_topk': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'ann_pq_topk': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'ann_recall_curve': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight LeftOuter'),
        'bounded-build',
    ),
    'benford_digit_profile': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'bigram_lm_perplexity': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'bigram_pmi_collocations': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'binary_quant_recall': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'bitext_margin_mining': (
        ('BroadcastNestedLoopJoin BuildRight Inner', 'BroadcastNestedLoopJoin BuildRight Inner', 'BroadcastNestedLoopJoin BuildRight Inner'),
        'exact-baseline',
    ),
    'blocking_quality_audit': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'bm25_top_docs': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'brand_clustering_coefficient': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'brand_triangle_communities': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'brown_forsythe_spread_test': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',  # 1-row grand totals + |groups|-row ANOVA parts
    ),
    'capture_recapture_dup_estimate': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'ccf_click_purchase_leadlag': (
        ('BroadcastNestedLoopJoin BuildLeft Cross',),
        'bounded-build',  # 15-row lag grid onto the |days| grid
    ),
    'cohens_kappa_agreement': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'competing_risks_incidence': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'condorcet_cycle_audit': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',  # three 1-row count aggregates over the <=B^2 vote matrix
    ),
    'corpus_bleu_eval': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',  # 1-row corpus length total onto the 4-row precision table
    ),
    'cosine_topk_exact': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'cross_join_region_pairs': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'cumulative_gains_deciles': (
        ('BroadcastNestedLoopJoin BuildLeft Cross',),
        'bounded-build',
    ),
    'customer_order_gap_churn_risk': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'customer_tier_migration': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'dataset_datasheet': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'dau_mau_stickiness': (
        ('BroadcastNestedLoopJoin BuildRight Inner',),
        'bounded-build',
    ),
    'drift_panel_report': (
        # 8 -> 5 after the r11 _metric_rows de-duplication: the ks/chi/mwu
        # constituents (each carrying one bounded cross) now execute once
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'dunning_llr_keyness': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'effect_size_panel': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',  # 1-row global moments onto the |sources| rows
    ),
    'embedding_eval_decontam': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'eval_scorecard_report': (
        ('BroadcastNestedLoopJoin BuildLeft Cross',),
        'bounded-build',
    ),
    'experiment_readout_report': (
        ('BroadcastNestedLoopJoin BuildLeft Cross',),
        'bounded-build',
    ),
    'fagin_ta_topk': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Inner'),
        'bounded-build',
    ),
    'fleiss_kappa_agreement': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'funnel_signup_view_purchase': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'haversine_nearest_station': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'heaps_law_fit': (
        ('BroadcastNestedLoopJoin BuildRight Inner', 'BroadcastNestedLoopJoin BuildRight Inner'),
        'bounded-build',
    ),
    'heavy_hitters_exact': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'histogram_order_prices': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'hybrid_rrf_fusion': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'isotonic_calibration_bins': (
        ('BroadcastNestedLoopJoin BuildRight Inner', 'BroadcastNestedLoopJoin BuildRight Inner'),
        'bounded-build',
    ),
    'ivf_cell_balance': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'join_order_advisor': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'k_anonymity_audit': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'kaplan_meier_retention': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',  # 1-row n onto the checkpointed day grid
    ),
    'kmeans_embedding_clusters': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'davies_bouldin_index': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        # final-round k-row centroid broadcast, the k x k centroid-pair
        # cross, and the 1-row DB total onto the k picked rows; earlier
        # Lloyd rounds sit behind eager k x dim checkpoints
        'bounded-build',
    ),
    'kneser_ney_bigram_probs': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'knn_join_topk': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    # matryoshka_truncation_recall: removed from the surface r11 — the
    # <=240-row top-k frame is now persisted (persisted_result) before
    # the trunc/full split, which formerly duplicated the corpus cosine
    # lineage into both branches (4 parquet scans); the spine crossJoins
    # execute inside the persist and the registered plan is a
    # checkpoint scan (pinned in tests/test_r11_plans.py)
    'kruskal_wallis_h': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',  # 1-row totals + |event_types|-row group table
    ),
    'ks_drift_two_sample': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'lang_source_chi_square': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'loo_source_influence': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',  # 1-row global moment total onto the |sources| rows
    ),
    'lorenz_curve_deciles': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'mixture_drift_kl': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'multi_pattern_match': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'ndcg_retrieval_eval': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',  # r11: grade is now a per-row array_intersect (no
        # explode/distinct lanes), and idcg/dcg attach as the two remaining
        # 1-row cross frames — the other two bounded crosses disappeared
    ),
    'alpha_dcg_novelty_eval': (
        ('BroadcastNestedLoopJoin BuildRight Cross',
         'BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',  # bm25 run's 1-row IDF/avgdl broadcasts
    ),
    'err_retrieval_eval': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',  # bm25 run's 1-row IDF/len frames (inherited plan)
    ),
    'nelson_aalen_hazard': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'neyman_allocation': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'percentile_bucketing': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'poisson_bootstrap_ci': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'pps_systematic_sample': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'q11_important_parts': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'q22_idle_customers': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'qini_curve_deciles': (
        ('BroadcastNestedLoopJoin BuildLeft Cross',),
        'bounded-build',
    ),
    'quality_score_quantile_norm': (
        ('BroadcastNestedLoopJoin BuildRight Inner', 'BroadcastNestedLoopJoin BuildRight Inner'),
        'bounded-build',
    ),
    'query_likelihood_dirichlet': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'rank_biased_overlap': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',  # 1-row doc count, 10-row depth grid, <=2*DEPTH ranked slice
    ),
    # release_audit_report's bounded crosses moved behind the r11 flags
    # lineage cut (they execute inside the gate-union job, not the
    # registered plan) — entry removed when the guard flagged it stale.
    # The report built under lazy_cuts() is audited explicitly by
    # tests/test_r12_guard.py::test_release_audit_gate_union_surface, so
    # the eager cut no longer shrinks guard coverage (r11 advice).
    'rocchio_query_expansion': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'shapley_channel_attribution': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'simplified_silhouette': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'simpson_paradox_detector': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'skipgram_ppmi_pairs': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'source_concentration_panel': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'stylometry_source_delta': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'temperature_mixture_weights': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'tfidf_cosine_doc_pairs': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'exact-baseline',
    ),
    'theta_sketch_set_algebra': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'train_test_time_split_audit': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'triplet_mining': (
        ('BroadcastNestedLoopJoin BuildRight Inner',),
        'exact-baseline',
    ),
    'twonn_intrinsic_dimension': (
        ('BroadcastNestedLoopJoin BuildRight Inner', 'BroadcastNestedLoopJoin BuildRight Inner'),
        'exact-baseline',
    ),
    'walk_forward_backtest_folds': (
        ('BroadcastNestedLoopJoin BuildLeft Inner', 'BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',
    ),
    'weekday_hour_heatmap': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'weibull_survival_fit': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',  # 1-row n onto the checkpointed day grid
    ),
    'welch_anova_sources': (
        ('BroadcastNestedLoopJoin BuildRight Cross', 'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',  # 1-row weighted totals onto the |sources| rows
    ),
    'woe_iv_binning': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    # --- round-9 crop: every Cross below broadcasts a 1-row aggregate
    # (horizon / totals / moment summaries) into a keyed stream ---
    'logrank_test_arms': (
        ('BroadcastNestedLoopJoin BuildRight Cross',) * 3,
        'bounded-build',
    ),
    'rmst_restricted_mean_survival': (
        ('BroadcastNestedLoopJoin BuildRight Cross',) * 3,
        'bounded-build',
    ),
    'krippendorff_alpha_nominal': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'kendall_w_concordance': (
        ('BroadcastNestedLoopJoin BuildRight Cross',) * 3,
        'bounded-build',
    ),
    'smd_covariate_balance': (
        ('BroadcastNestedLoopJoin BuildRight Cross',) * 3,
        'bounded-build',
    ),
    # --- round-9 second crop: 1-row aggregates broadcast, plus two
    # bounded non-equi pair joins (K-row group table, 5x5 marginals) ---
    'mantel_haenszel_pooled_or': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',
    ),
    'dunn_posthoc_pairs': (
        ('BroadcastNestedLoopJoin BuildRight Cross',
         'BroadcastNestedLoopJoin BuildRight Inner'),
        'bounded-build',  # grp_a < grp_b over the |event_type| grid
    ),
    'jonckheere_terpstra_trend': (
        ('BroadcastNestedLoopJoin BuildRight Cross',) * 3,
        'bounded-build',  # K-row group list x bucket spine + 1-row totals
    ),
    'weighted_kappa_ordinal': (
        ('BroadcastNestedLoopJoin BuildLeft Cross',
         'BroadcastNestedLoopJoin BuildRight Cross',
         'BroadcastNestedLoopJoin BuildRight Cross'),
        'bounded-build',  # 5x5 marginal cross product + 1-row totals
    ),
    'friedman_test_daily': (
        ('BroadcastNestedLoopJoin BuildRight Cross',) * 4,
        'bounded-build',  # 1-row k / block-completeness / totals frames
    ),
    'bartlett_variance_test': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',  # 1-row pooled-variance totals frame
    ),
    'theil_inequality_decomposition': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',  # 1-row corpus totals frame
    ),
    'funnel_conformance_sequences': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',  # 1-row user-count frame
    ),
    # temperature_scaling_fit: removed r11 — the registered plan is now a
    # checkpoint scan (persisted grid, r10 ADVICE #3); its Newton
    # crossJoins execute inside persisted_result and are pinned by
    # tests/test_plans.py::test_temperature_scaling_grid_is_single_scan
    'periodogram_fisher_g': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',  # 16-row Fourier-frequency spine x day grid
    ),
    'hurst_rescaled_range': (
        ('BroadcastNestedLoopJoin BuildRight Cross',),
        'bounded-build',  # 3-row block-size spine x day grid
    ),
    'page_trend_test': (
        ('BroadcastNestedLoopJoin BuildRight Cross',) * 4,
        'bounded-build',  # 1-row k / block-completeness / totals frames
    ),
}
