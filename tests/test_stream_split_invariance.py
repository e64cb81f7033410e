"""Direct gate for the streaming ledger-fold family's core claim (VERDICT r7
#6): the ADDITIVE folds are micro-batch-SPLIT independent — however the feed
is partitioned into files (1 batch, 3 batches, 7 batches with
maxFilesPerTrigger=1), the folded final state is IDENTICAL, tuple-for-tuple,
floats included. The shared batch oracles only imply this (each split happens
to equal the batch answer); this asserts it head-on across three different
splits of the same feed.

Covers one member per ledger kind: the Gram/moment ledger (stream_ols —
additive integer sums), the presence/count ledger (stream_mine_pairs —
basket-pair counts), and the retire-reinsert join-view IVM ledger
(stream_cdc_join_ivm — keyed upserts/deletes folded through generations).
"""

from __future__ import annotations

import pytest

from movie_genre_data_pipeline_spark.suite import _twin

SF_DIR = "/root/testdata/sf0.001"

FOLDS = [
    "stream_ols_normal_eq",
    "stream_mine_pairs",
    "stream_cdc_join_ivm",
    # r8: the language-mart generation ledger (scalar-FK retire/insert moves
    # split across arbitrary micro-batches)
    "stream_gold_language_ivm",
    # r8: the DSIR three-ledger fold (doc dim + postings + bucket model —
    # the model fold must be additive across any document batching)
    "stream_importance_weights",
    # r8 capstone: the continuous trainset funnel (four ledgers — doc stats,
    # gram postings, DSIR postings + model; the corpus-global decisions fold
    # at readout, so batching must be invisible end-to-end)
    "stream_trainset_funnel",
    # r8: the PCA moment ledger (15 numbers per batch; the iteration runs on
    # the fold, so any batching must give the identical eigenvector)
    "stream_pca_moments",
    # r9: the span-dedup gram-posting ledger (corpus-global occurrence
    # counts fold at readout — batching must not move any island boundary)
    "stream_duplicate_spans",
    # r9: the bigram-LM count ledger (bf + unigram facts; the conditional
    # model and every micro-nat score fold at readout)
    "stream_bigram_surprisal",
    # r9: the BM25 postings ledger (tf + dl facts; df, corpus totals, and
    # every score fold at readout)
    "stream_bm25_topk",
    # r9: the AMS signed-sum ledger (Z partials re-sum; the estimate is a
    # pure function of the fold)
    "stream_ams_join_size",
    # r9: the continuous perplexity filter (LM count ledgers + source dim;
    # keep/drop decided at readout under the final folded model)
    "stream_surprisal_filter",
    # r9: the vocabulary-growth ledger — the MIN-fold member (first
    # occurrence per type), with bucketing itself a readout decision
    "stream_heaps_vocab_growth",
    # r10: the packing-audit ledger (per-doc token counts; chunk assignment
    # is a running-total readout decision, so batching must not move any
    # chunk boundary)
    "stream_pack_efficiency",
    # r10: the RRF hybrid-retrieval readout over the BM25 postings ledgers
    # (two rankers + fusion, all derived at readout from the same fold)
    "stream_rrf_fusion",
    # r10: the unigram-count ledger behind the continuous Zipf fit
    "stream_zipf_fit",
    # r10: the blob shard-placement ledger (the multimodal family's first
    # streaming member; facts are per-batch per-shard partials)
    "stream_shard_balance",
    # r11: the retention-audit ledger — (day, user, n) partials SUM-fold and
    # the distinct-user count becomes a row count over the folded grain; the
    # horizon (max ts) is a MAX fold, so expiry re-judges at readout
    "stream_retention_policy",
    # r11: the k-anonymity QI-group ledger (pure SUM fold; the at-risk
    # verdict g_size < k is a readout re-judgment)
    "stream_k_anonymity",
    # r11: the diversity readout over the zipf unigram ledger (SUM fold)
    "stream_unigram_entropy",
    # r11: the dHash fingerprint ledger (union fold — ids unique across
    # batches; pairing is entirely a readout decision)
    "stream_phash_dedup",
    # r11: the MI contingency-cell ledger (pure SUM fold; MI/entropies are
    # readout functions of the final joint distribution)
    "stream_mutual_info",
    # r11 late wave: the JS mixing matrix over (source, term) count facts
    # and the l-diversity (QI, sensitive) cell ledger
    "stream_js_divergence",
    "stream_l_diversity",
    # r12: the t-closeness cell ledger (pure SUM fold; the EMD compares two
    # distributions BOTH re-derived from the final fold at readout)
    "stream_t_closeness",
    # r12: the priority-sampling pair of ledgers — per-batch top-(k+1)
    # candidates (a MERGEABLE selection: re-ranking the union recovers the
    # global top-(k+1)) + SUM-folded stratum totals; priorities re-derive
    # from doc_id at readout
    "stream_priority_sample",
    # r12: the stacked contingency ledger behind the per-feature MI screen
    # (pure SUM fold; marginals/entropies/nmi all readout re-derivations)
    "stream_leakage_screen",
    # r12 second wave: the WoE/IV contingency ledger (same cell facts as the
    # leakage screen, different readout), the two-ledger burstiness report
    # (term dispersion facts + doc count; the Σx² fold relies on docs being
    # batch-local — exactly what splitting must not break), and the hourly
    # ACF ladder (calendar-grain counts; the dense spine is a readout
    # decision over the FOLDED series)
    "stream_woe_iv",
    "stream_burstiness",
    "stream_acf_lags",
    # r12 third wave: the ESS weighting audit (per-language weight moments —
    # the simplest possible additive ledger; the weight is an arrival
    # decision, Kish's ratio a readout one)
    "stream_ess_report",
    # r12 fourth wave: the seasonal-index readout over the SAME hourly
    # ledger the ACF twin folds (one fold, many reports)
    "stream_seasonal_decompose",
    # r12 fifth wave: the AUC readout over the SAME DSIR ledgers the
    # importance twin folds (scores re-judged under the final model)
    "stream_auc_report",
    # r12 sixth wave: the Poisson-bootstrap replicate ledger (weights are
    # arrival-time doc_id hashes; means/order-statistic CI re-derive at
    # readout)
    "stream_bootstrap_ci",
    # r13: the PR-AUC, KS, and bootstrap-CI readouts over the SAME DSIR
    # ledgers as the AUC twin (one fold, four evaluation readouts; the
    # bootstrap's replicate weights are arrival-time doc_id hashes)
    "stream_pr_auc_report",
    "stream_ks_report",
    "stream_auc_bootstrap_ci",
    # r13: the by-segment AUC readout (the doc ledger carries the segment
    # as an arrival fact) and the DP release (true-count cells SUM-fold,
    # noise re-drawn from the cell key at readout)
    "stream_auc_by_segment",
    "stream_dp_release",
    # r13: the leave-one-fold-out CV readout — fold models are complement
    # subtractions of the FOLDED global cells, so batching must be
    # invisible through the model-minus-own-fold arithmetic too
    "stream_auc_cv",
    # r13: the PSI readout — reference deciles re-rank and both halves
    # re-bin at readout, so batching must be invisible through the edge
    # derivation as well
    "stream_score_psi",
    # r13: the ledger-GC query — split invariance must hold THROUGH a
    # mid-stream compaction (fold(compact(prefix) ∪ suffix) is the identity
    # the whole operator stands on)
    "stream_ledger_compact",
    # late r13: the gains-table readout over the SAME DSIR ledgers (scores
    # re-judged under the final model, deciles a readout decision)
    "stream_lift_gains",
    # late r13: the concentration readout over the per-customer cent ledger
    # (totals SUM-fold; ranks and shares are readout decisions)
    "stream_gini_concentration",
    # late r13: the trend test over the daily-count ledger (calendar-grain
    # SUM fold; the spine, S, ties, and the slope median are readout
    # decisions)
    "stream_mann_kendall",
    # late r13: the independence test over the (lang, source) cell ledger
    # (pure SUM fold; margins, the zero-filled grid, and V are readout
    # re-derivations)
    "stream_chi2_independence",
    # late r13: the allocation design over the per-language moment ledger
    # (Gram-shape SUM fold; S_h, weights, and the Hamilton seats are
    # readout decisions)
    "stream_neyman_allocation",
    # late r13: the tail-index readout over the doc-length ledger (union
    # fold — ids unique across batches; the top-k order statistics and the
    # Hill fold are readout decisions)
    "stream_hill_tail_index",
    # late r13: the SRM guardrail over the per-user count ledger (SUM fold
    # to the user grain; arm assignment and the chi-squared verdict are
    # readout decisions)
    "stream_srm_check",
    # late r13: the CUSUM monitor over the raw event-fact ledger (union
    # fold; the mean clearing, trajectory, and peak argmax are readout
    # decisions — an early point's deviation moves as the series mean
    # shifts, which is exactly why)
    "stream_cusum_changepoint",
    # late r13: the readability profile over the per-language ARI moment
    # ledger (the ESS shape; means and hard shares are readout decisions)
    "stream_readability_ari",
    # late r13: the byte-value histogram over the Arrow bincount cell
    # ledger (at most 256 cells per batch; shares are readout decisions)
    "stream_byte_histogram",
    # late r13: the source-ablation readout over the doc dim + postings +
    # PER-SOURCE cell ledgers (every complement model is a subtraction of
    # the fold, so batching must be invisible through |sources|+1
    # evaluations at once)
    "stream_auc_source_ablation",
    # late r13: the per-feature PSI sweep over the stacked snapshot-cell
    # ledger (snapshot membership is an arrival decision; every feature's
    # PSI a readout re-derivation)
    "stream_drift_screen",
    # late r13: the graph mixing coefficient over the distinct-edge union
    # ledger (re-DISTINCT of the union recovers the edge set; degrees and
    # the Pearson fold are readout decisions)
    "stream_degree_assortativity",
    # late r13: the systematic design over the doc-size ledger (union fold;
    # selection points legitimately MOVE as the corpus grows, so the whole
    # walk is a readout decision)
    "stream_pps_systematic",
    # late r13: the freshness audit over the per-type MAX ledger (the
    # retention-horizon fold; lags and verdicts are readout decisions)
    "stream_freshness_sla",
    # r14: the Kaplan-Meier survival readout over the per-user span ledger
    # (the TWO-monoid fold — first-seen by MIN, last-seen by MAX; the
    # horizon, every death/censor verdict, and the ln-domain cumulative
    # product are readout decisions — an early user's verdict legitimately
    # flips when a later batch shows them active)
    "stream_kaplan_meier",
    # r14: the Yule richness readout over the (lang, term) unigram postings
    # ledger (tf SUM-folds; tf² is a readout decision — squares don't
    # re-associate, which is exactly what splitting must not break)
    "stream_yule_k",
    # r14: the Mahalanobis histogram over the dims + six-number moment
    # ledgers (Gram-shape SUM fold; every d² re-judged at readout under the
    # final folded covariance)
    "stream_mahalanobis_screen",
    # r14: the Theil decomposition over the per-source three-fact ledger
    # (n, Σx, Σx·lnx-micro — the per-doc ln is an arrival decision; T_g,
    # between terms, and shares are readout re-derivations)
    "stream_theil_decomposition",
    # r15: the CUPED readout over the customer-grain (pre, post) cents
    # ledger (SUM fold; arms, the pooled theta, and both means are readout
    # re-derivations — theta legitimately sharpens as units land)
    "stream_cuped_adjustment",
    # r15: the kappa readout over the 4-cell confusion ledger (SUM fold;
    # po/pe/kappa are readout decisions)
    "stream_cohens_kappa",
    # r15: the Benford deviation readout over the 9-digit ledger (SUM fold;
    # observed shares re-derive against the baked-in expected literals)
    "stream_benford_screen",
    # r15: the Ljung-Box Q over the hourly count ledger (the ACF twin's
    # fold; the dense spine, every r_k, and the n(n+2) scaling are readout
    # decisions)
    "stream_ljung_box",
    # r15: the Wilson bounds over the per-language (n, s) ledger (SUM fold;
    # the interval re-derives — it legitimately tightens as volume lands)
    "stream_wilson_ci",
    # r15: the raking weights over the (lang, source) cell ledger (SUM
    # fold; the ENTIRE IPF trajectory — targets, folds, quantized rescales
    # — re-derives at readout, since the fixed point depends on the final
    # margins)
    "stream_raking_ipf",
    # the HLL register ledger (MAX fold) and the (source, term) keyness
    # count ledger (SUM fold)
    "stream_hll_distinct",
    "stream_text_keyness",
]


def _norm(v):
    # bit-exact comparison intent: floats compare by repr equality via ==,
    # which is exact for identical doubles; no rounding applied
    return tuple(v)


# Driver-budget split (r16, VERDICT r15 #1): the full 70-member sweep is what
# blew the driver's pytest wall clock (~665 s of the 44.5-min r15 run). The
# DEFAULT run keeps ONE representative per fold/monoid KIND — the axis along
# which split invariance could actually break — and the remaining members run
# in the `-m slow` pass (committed green at round close).
_DEFAULT_REPS = {
    "stream_ols_normal_eq",  # Gram/moment SUM ledger
    "stream_cdc_join_ivm",  # retire-reinsert keyed join-view IVM
    "stream_heaps_vocab_growth",  # MIN fold (first occurrence per type)
    "stream_freshness_sla",  # per-type MAX ledger
    "stream_phash_dedup",  # union fold (ids unique across batches)
    "stream_priority_sample",  # mergeable top-(k+1) selection + SUM strata
    "stream_ledger_compact",  # fold(compact(prefix) ∪ suffix) identity
}
assert _DEFAULT_REPS <= set(FOLDS)


@pytest.mark.parametrize(
    "name",
    [
        n if n in _DEFAULT_REPS else pytest.param(n, marks=pytest.mark.slow)
        for n in FOLDS
    ],
)
def test_ledger_fold_is_split_invariant(spark, name):
    # stream queries live across four modules; resolve via the registry.
    # Every twin stages its source through suite/_twin.run_twin, the only
    # reader of SOURCE_SPLIT.
    from movie_genre_data_pipeline_spark.suite import all_queries

    fn = all_queries()[name].fn
    results = []
    for split in (1, 3, 7):
        _twin.SOURCE_SPLIT = split
        try:
            rows = sorted(_norm(r) for r in fn(spark, SF_DIR).collect())
        finally:
            _twin.SOURCE_SPLIT = None
        results.append(rows)
    assert results[0] == results[1], f"{name}: split 1 vs 3 differ"
    assert results[1] == results[2], f"{name}: split 3 vs 7 differ"
