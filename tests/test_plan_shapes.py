"""Physical-plan shape pins: the `.explain`-and-iterate discipline, frozen as
tests. Each pin encodes a plan property that was deliberately engineered —
broadcast dims instead of sort-merge, tokenize-once instead of re-derived
explode subtrees, banded joins instead of cartesian pairing, cached corpus
instead of repeated parquet scans — so a regression (a lost broadcast hint, a
join-formulated aggregate that re-derives its build side, an accidental
cross join) fails here long before it shows up as a scale-bench ratio.

Counts are taken from the pre-execution physical plan at sf0.001; they are
structural (join strategy, scan provenance), not data-dependent, so the pins
are stable. A BroadcastNestedLoopJoin allowance of ≤2 per query covers the
deliberate 1-row broadcast carriers (corpus totals / centroid matrices),
which Spark plans as BNLJ — the pins forbid the dangerous kind (fact-sized
non-equi pairing) via the CartesianProduct=0 + scan-count bounds together.
"""

import re

import pytest

from movie_genre_data_pipeline_spark.suite import all_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return (
        all_queries()[name]
        .fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def _count(plan: str, node: str) -> int:
    return len(re.findall(node, plan))


def test_star_join_broadcasts_every_dim(spark):
    plan = _plan(spark, "star_join")
    assert _count(plan, "BroadcastHashJoin") >= 3, plan[:2000]
    assert _count(plan, "SortMergeJoin") == 0
    assert _count(plan, "CartesianProduct") == 0


def test_minhash_lsh_never_pairs_all_docs(spark):
    plan = _plan(spark, "dedup_minhash_lsh")
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastNestedLoopJoin") == 0


def test_bm25_tokenizes_the_corpus_at_most_thrice(spark):
    """df-as-window keeps the tf explode subtree single; the allowed scans are
    tf, dl, and the dl-derived stats aggregate (r9: the groupBy+join-back df
    formulation re-derived the whole tokenize+explode — 4 scans)."""
    plan = _plan(spark, "text_bm25_topk")
    assert _count(plan, "FileScan parquet") <= 3, plan[:2000]
    assert _count(plan, "CartesianProduct") == 0


def test_tfidf_tokenizes_the_corpus_at_most_twice(spark):
    plan = _plan(spark, "text_tfidf_topk")
    assert _count(plan, "FileScan parquet") <= 2


@pytest.mark.parametrize(
    "name", ["sim_topk_rerank", "sim_hard_negatives", "sim_pq_ivfadc"]
)
def test_ann_queries_scan_the_checkpointed_corpus(spark, name):
    """The quantized corpus rides a localCheckpoint (r16, VERDICT r15 #6):
    references are ExistingRDD leaves (parquet read once into checkpoint
    blocks), and NOTHING sits in the CacheManager — a cache() entry is keyed
    on the canonicalized plan and would satisfy the next invocation's
    identical subtree, making repeated runs non-independent. And no ANN query
    may pair the corpus non-equi: candidate generation is always a
    cluster/band equi-join."""
    plan = _plan(spark, name)
    assert _count(plan, "Scan ExistingRDD") >= 1
    assert _count(plan, "InMemoryTableScan") == 0, "corpus leaked into CacheManager"
    assert _count(plan, "FileScan parquet") <= 2, "corpus re-scanned past the checkpoint"
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastNestedLoopJoin") <= 2, (
        "more BNLJ than the allowed 1-row broadcast carriers"
    )


@pytest.mark.parametrize("name", ["gold_genre_revenue_ivm", "gold_language_revenue_ivm"])
def test_gold_ivm_broadcasts_its_dims(spark, name):
    plan = _plan(spark, name)
    assert _count(plan, "BroadcastHashJoin") >= 3
    assert _count(plan, "CartesianProduct") == 0


def _assert_windows_partitioned(plan: str) -> None:
    """No WindowExec with an empty partition spec (the single-task-sort
    shape). A WindowExec prints one line "Window [funcs], [partSpec],
    [orderSpec]", OMITTING empty specs: an unpartitioned ordered window shows
    exactly two bracket groups with sort directions in the second; a
    partitioned order-free window also shows two, but its second group has no
    ASC/DESC. Flag only the former shape."""
    for ln in plan.splitlines():
        if not re.search(r"\bWindow \[", ln):
            continue
        if ln.count("], [") == 1:
            tail = ln.rsplit("], [", 1)[1]
            assert not re.search(r"\b(ASC|DESC)\b", tail), (
                f"unpartitioned WindowExec: {ln[:200]}"
            )


def test_bm25_topk_is_take_ordered_not_a_global_window(spark):
    """r10 (VERDICT r9 #2): the final ranking must be TakeOrderedAndProject
    (per-partition top-k, driver merges k rows), never a row_number over an
    unpartitioned window of the corpus-cardinality scored set (a single-task
    sort at scale). The only Window nodes allowed are the df count-window
    (partitioned by term) and the k-row rank assignment (partitioned by a
    non-foldable constant)."""
    plan = _plan(spark, "text_bm25_topk")
    assert _count(plan, "TakeOrderedAndProject") >= 1, plan[:2000]
    assert len(re.findall(r"\bWindow \[", plan)) == 2, plan[:2000]
    _assert_windows_partitioned(plan)


@pytest.mark.parametrize(
    "name",
    [
        "er_sorted_neighborhood",
        "layout_skipping_ratio",
        "ops_skew_report",
        "ops_compaction_plan",
    ],
)
def test_ranged_rank_queries_have_no_single_task_window(spark, name):
    """r10 (VERDICT r9 #4 + the suite-wide sweep): the sorted-neighborhood
    rank, the ntile file assignment, the skew top-k, and the compaction
    prefix sum now run through operators/ranking or orderBy+limit — no
    WindowExec in any of these plans may have an empty partition spec."""
    plan = _plan(spark, name)
    _assert_windows_partitioned(plan)


def test_range_search_never_pairs_corpus(spark):
    """The probed side is probe→cell equi-joins; the exact baseline is ONE
    Arrow-batched corpus scan (panel_range_count), not a Q×n nested-loop
    join — so the whole plan carries zero cartesian pairing and at most the
    1-row-carrier BNLJ allowance."""
    plan = _plan(spark, "sim_range_search")
    assert _count(plan, "CartesianProduct") == 0, plan[:2000]
    assert _count(plan, "BroadcastNestedLoopJoin") <= 2, plan[:2000]


def test_auc_report_has_no_single_task_window(spark):
    """r12: the Mann-Whitney prefix sum over the distinct-score table runs
    range-partitioned (operators/ranking.ranged_running_sum) — every doc
    scoring uniquely must NOT produce an unpartitioned WindowExec (the
    single-task sort the grouped identity exists to avoid)."""
    plan = _plan(spark, "feat_auc_report")
    _assert_windows_partitioned(plan)
    assert _count(plan, "CartesianProduct") == 0


def test_pr_auc_report_has_no_single_task_window(spark):
    """r13: the average-precision readout runs BOTH curve axes (pos-below and
    all-below) through range-partitioned exclusive prefix sums — same
    contract as the AUC pin: no unpartitioned WindowExec even when every doc
    scores uniquely, and no cartesian pairing (the 1-row totals ride the
    broadcast allowance)."""
    plan = _plan(spark, "feat_pr_auc_report")
    _assert_windows_partitioned(plan)
    assert _count(plan, "CartesianProduct") == 0


@pytest.mark.parametrize("name", ["feat_auc_by_segment", "feat_auc_cv"])
def test_partitioned_auc_variants_have_no_single_task_window(spark, name):
    """r13: every consumer of partitioned_mann_whitney_sums (by-segment,
    by-fold) inherits the AUC pin — range-partitioned prefix, broadcast
    bases, no unpartitioned WindowExec, no cartesian pairing."""
    plan = _plan(spark, name)
    _assert_windows_partitioned(plan)
    assert _count(plan, "CartesianProduct") == 0


def test_auc_bootstrap_prefix_sum_is_range_partitioned(spark):
    """r13: the ×32 replicate fan-out must keep its prefix sum
    range-partitioned over (r, s) — per-replicate exclusive prefixes are
    recovered by subtracting broadcast replicate bases, never by an
    unpartitioned (or corpus-cardinality single-partition) WindowExec; the
    only windows allowed are partitioned ones (the B-row base offset rides
    the non-foldable-constant partition spec)."""
    plan = _plan(spark, "feat_auc_bootstrap_ci")
    _assert_windows_partitioned(plan)
    assert _count(plan, "CartesianProduct") == 0


def test_acf_joins_are_broadcast_on_the_calendar_grain(spark):
    """r12: after the map-side hourly collapse, the lag pairing must join
    broadcast-sized calendar frames — no SortMergeJoin anywhere in the
    ladder and no cartesian pairing (the lags frame rides the 1-row-carrier
    BNLJ allowance)."""
    plan = _plan(spark, "ts_acf_lags")
    assert _count(plan, "SortMergeJoin") == 0, plan[:2000]
    assert _count(plan, "CartesianProduct") == 0


def test_woe_iv_scans_orders_once(spark):
    """r12: the stacked (feature, bin) cell table is barrier-pinned — the
    totals aggregate and the bin join must both read the checkpointed cells,
    not re-derive the 5x-stacked orders scan per consumer."""
    plan = _plan(spark, "feat_woe_iv")
    assert _count(plan, "Scan parquet") == 0, plan[:2000]  # cells RDD only
    assert _count(plan, "SortMergeJoin") == 0


@pytest.mark.parametrize(
    "name",
    [
        "feat_lift_gains",
        "ops_gini_concentration",
        "text_hill_tail_index",
        "feat_rank_tau",
        "feat_conformal_threshold",
        "sample_neyman_allocation",
    ],
)
def test_late_r13_ranked_readouts_have_no_single_task_window(spark, name):
    """Late r13: every new ranked readout — the gains-table ntile, the Gini
    rank, the Hill top-k, both tau ntiles, the conformal order statistic,
    and the Hamilton remainder rank — runs through operators/ranking, so no
    WindowExec in any of these plans may carry an empty partition spec, and
    none of them may pair fact-sized frames."""
    plan = _plan(spark, name)
    _assert_windows_partitioned(plan)
    assert _count(plan, "CartesianProduct") == 0, plan[:2000]


def test_mann_kendall_pairs_only_the_calendar_grain(spark):
    """Late r13: the Mann-Kendall pairwise fan-out must stay on the
    broadcast calendar grain (days × days) — no SortMergeJoin and no
    cartesian product may appear even though the logical shape is a
    triangular self-join; the slope median ranks through operators/ranking
    (no unpartitioned WindowExec)."""
    plan = _plan(spark, "ts_mann_kendall")
    assert _count(plan, "SortMergeJoin") == 0, plan[:2000]
    assert _count(plan, "CartesianProduct") == 0
    _assert_windows_partitioned(plan)


def test_chi2_grid_is_broadcast_sized(spark):
    """Late r13: the zero-filled |X|×|Y| grid is built from broadcast margin
    frames — no SortMergeJoin, no cartesian product (the margin cross ride
    the BNLJ allowance on cell-sized frames), and the only corpus-sized
    stage is the map-side cell collapse."""
    plan = _plan(spark, "feat_chi2_independence")
    assert _count(plan, "SortMergeJoin") == 0, plan[:2000]
    assert _count(plan, "CartesianProduct") == 0


def test_minhash_calibration_is_candidate_bounded(spark):
    """Late r13: the estimator audit must never pair the corpus — zero
    cartesian products and zero fact-sized BNLJ (candidates come from the
    banded equi-join; exact Jaccard joins are candidate-keyed equi-joins)."""
    plan = _plan(spark, "dedup_minhash_calibration")
    assert _count(plan, "CartesianProduct") == 0, plan[:2000]
    assert _count(plan, "BroadcastNestedLoopJoin") == 0, plan[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "sample_pps_systematic",
        "feat_auc_source_ablation",
    ],
)
def test_late_r13_second_wave_has_no_single_task_window(spark, name):
    """Late r13 second wave: the PPS prefix sum and the per-ablation
    Mann-Whitney folds run through operators/ranking — no WindowExec with an
    empty partition spec, no cartesian pairing."""
    plan = _plan(spark, name)
    _assert_windows_partitioned(plan)
    assert _count(plan, "CartesianProduct") == 0, plan[:2000]


def test_drift_screen_scans_orders_once(spark):
    """Late r13: the stacked snapshot-cell table is barrier-pinned — the
    per-feature totals and the bin join both read the checkpointed cells,
    never a re-derived 5x-stacked orders scan (the woe_iv pin, applied to
    the drift sweep)."""
    plan = _plan(spark, "feat_drift_screen")
    assert _count(plan, "Scan parquet") == 0, plan[:2000]
    assert _count(plan, "SortMergeJoin") == 0


def test_pq_distortion_is_projection_only(spark):
    """Late r13: the distortion audit's corpus pass is a literal-codebook
    projection — no join of any kind may appear over the corpus (the
    codebooks are plan literals, trained driver-side on the bounded
    sample)."""
    plan = _plan(spark, "sim_pq_distortion")
    assert _count(plan, "SortMergeJoin") == 0, plan[:2000]
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastHashJoin") == 0, plan[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "ts_kaplan_meier",
        "feat_spearman_matrix",
        "sample_horvitz_thompson",
    ],
)
def test_r14_ranked_readouts_have_no_single_task_window(spark, name):
    """r14: every new prefix-sum readout — the KM at-risk suffix and ln-fold,
    the three Spearman rank maps, the HT design's size walk — runs through
    operators/ranking's range-partitioned form; no WindowExec may carry an
    empty partition spec and nothing may pair fact-sized frames."""
    plan = _plan(spark, name)
    _assert_windows_partitioned(plan)
    assert _count(plan, "CartesianProduct") == 0, plan[:2000]


def test_mahalanobis_moments_are_broadcast(spark):
    """The screen's second pass judges rows against ONE six-number moment
    row — that carrier must arrive by broadcast (a 1-row BNLJ), never a
    shuffle join, and the plan must stay free of fact-sized pairing."""
    plan = _plan(spark, "feat_mahalanobis_screen")
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "SortMergeJoin") == 0, plan[:2000]


def test_yule_k_tokenizes_the_corpus_once(spark):
    """K folds straight off one (lang, term) postings aggregate — a second
    tokenize+explode subtree (the r9 BM25 regression class) fails here."""
    plan = _plan(spark, "text_yule_k")
    assert _count(plan, "FileScan parquet") <= 1, plan[:2000]


def test_clustering_coeff_joins_stay_on_node_keys(spark):
    """Wedge-close joins are equi-joins on node keys over the checkpointed
    oriented edge list; no cartesian pairing anywhere."""
    plan = _plan(spark, "graph_clustering_coeff")
    assert _count(plan, "CartesianProduct") == 0
