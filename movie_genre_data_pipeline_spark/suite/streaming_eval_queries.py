"""Continuous eval/privacy/statistics streaming twins (r11-r14 wave),
split out of streaming_queries.py (r15, VERDICT r14 #6). Each twin
streams its source through suite/_twin.run_twin. The DSIR-ledger AUC
family, l-diversity, t-closeness, WoE, burstiness, ACF, seasonal
decompose, DP release, ledger compaction, lift/gains, Gini,
Mann-Kendall, chi-squared, Neyman, Hill, SRM, CUSUM, ARI readability,
byte histogram, source ablation, drift screen, assortativity, PPS,
freshness SLA, Kaplan-Meier, Yule's K, Mahalanobis, and Theil.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.streaming.ledger import fold_ledger
from movie_genre_data_pipeline_spark.suite import QuerySpec
from movie_genre_data_pipeline_spark.suite._twin import run_twin, workspace
from movie_genre_data_pipeline_spark.suite.cdc_queries import (
    Q_DP_RELEASE_ORACLE,
    Q_L_DIVERSITY_ORACLE,
    Q_T_CLOSENESS_ORACLE,
)
from movie_genre_data_pipeline_spark.suite.graph_queries import _assortativity_oracle
from movie_genre_data_pipeline_spark.suite.multimodal_queries import (
    Q_MEDIA_BYTE_HISTOGRAM_ORACLE,
)
from movie_genre_data_pipeline_spark.suite.pipeline_queries import Q_DQ_FRESHNESS_ORACLE
from movie_genre_data_pipeline_spark.suite.relational_extra import (
    Q_GINI_ORACLE,
    Q_THEIL_ORACLE,
)
from movie_genre_data_pipeline_spark.suite.sampling_queries import (
    Q_FEAT_CHI2_ORACLE,
    Q_MAHA_ORACLE,
    Q_NEYMAN_ORACLE,
    Q_PPS_ORACLE,
    Q_PRIORITY_ESTIMATOR_ORACLE,
    _auc_bootstrap_oracle,
    _auc_by_segment_oracle,
    _auc_cv_oracle,
    _auc_oracle,
    _bootstrap_oracle,
    _drift_screen_oracle,
    _ess_oracle,
    _ks_oracle,
    _leakage_oracle,
    _lift_gains_oracle,
    _pr_auc_oracle,
    _score_psi_oracle,
    _source_ablation_oracle,
    _woe_oracle,
)
from movie_genre_data_pipeline_spark.suite.text_queries import (
    Q_ARI_ORACLE,
    Q_BURSTINESS_ORACLE,
    Q_HILL_ORACLE,
    Q_YULE_ORACLE,
)
from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
    Q_KM_ORACLE,
    Q_TS_ACF_ORACLE,
    Q_TS_CUSUM_ORACLE,
    Q_TS_MANN_KENDALL_ORACLE,
    Q_TS_SEASONAL_DECOMPOSE_ORACLE,
    _srm_oracle,
)

QUERIES: dict[str, QuerySpec] = {}

def q_stream_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous l-diversity audit (r11) — the attribute-disclosure twin of
    stream_k_anonymity: the (QI, sensitive) cell counts are pure SUM folds
    (decided at ARRIVAL), while the diversity verdict n_distinct < L is a
    READOUT re-judgment — a homogeneous early group usually diversifies as
    volume lands, so the risk report legitimately improves over time. Each
    micro-batch appends its cell partials (cdc_queries.l_diversity_cell_facts);
    the readout folds and runs the identical per-nation rollup
    (cdc_queries.l_diversity_from_cells). Shared oracle verbatim;
    split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.cdc_queries import (
        l_diversity_cell_facts,
        l_diversity_from_cells,
    )

    base = workspace("stream_ldiv_")
    led = f"{base}/cells"
    c = load(spark, sf_dir, "customer")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        l_diversity_cell_facts(batch_df).write.mode("append").parquet(led)

    run_twin(c.select("c_nationkey", "c_mktsegment", "c_acctbal"), apply_batch, base)

    folded = fold_ledger(
        spark.read.parquet(led), ["c_nationkey", "bal_band", "c_mktsegment"], ["n_cell"]
    )
    return l_diversity_from_cells(folded)


QUERIES["stream_l_diversity"] = QuerySpec(q_stream_l_diversity, Q_L_DIVERSITY_ORACLE)


def q_stream_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous t-closeness audit (r12) — the distribution-disclosure twin
    completing the streaming privacy family (k-anonymity r11, l-diversity
    r11): the (QI, band) cell counts are pure SUM folds (decided at
    ARRIVAL), while BOTH distributions the EMD compares — the group's and
    the GLOBAL one — are functions of the final folded ledger, so the whole
    distance is a READOUT re-derivation (a skewed early group converges
    toward the corpus distribution as volume lands; so does the corpus
    itself). Each micro-batch appends its cell partials
    (cdc_queries.t_closeness_cell_facts); the readout folds and runs the
    identical rollup (cdc_queries.t_closeness_from_cells). Shared oracle
    verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.cdc_queries import (
        t_closeness_cell_facts,
        t_closeness_from_cells,
    )

    base = workspace("stream_tclose_")
    led = f"{base}/cells"
    c = load(spark, sf_dir, "customer")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        t_closeness_cell_facts(batch_df).write.mode("append").parquet(led)

    run_twin(c.select("c_nationkey", "c_mktsegment", "c_acctbal"), apply_batch, base)

    folded = fold_ledger(
        spark.read.parquet(led), ["c_nationkey", "c_mktsegment", "bal_band"], ["n_cell"]
    )
    return t_closeness_from_cells(folded)


QUERIES["stream_t_closeness"] = QuerySpec(q_stream_t_closeness, Q_T_CLOSENESS_ORACLE)


def q_stream_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous weighted sampling (r12) — the streaming half of the
    priority-sampling pair: top-k-by-priority is a MERGEABLE selection (any
    row in the global top-(k+1) is in its own batch's top-(k+1)), so the
    candidate ledger appends each micro-batch's per-stratum top-(k+1) and
    the readout re-ranks the union — while the true per-stratum totals the
    estimator is judged against are plain additive facts in a second ledger.
    Priorities are a pure function of doc_id (48-bit md5 fraction), so
    re-deriving them at readout is batching-invariant by construction.
    Shared oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.functions.sampling import (
        priority_sample,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        PRIORITY_EST_K,
        priority_estimator_report,
    )

    base = workspace("stream_prio_")
    cand_led, tot_led = f"{base}/cands", f"{base}/totals"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        priority_sample(
            batch_df, "doc_id", "n_chars", PRIORITY_EST_K + 1, strata_col="lang"
        ).select("lang", "doc_id", "n_chars").write.mode("append").parquet(
            cand_led
        )
        batch_df.groupBy("lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        ).write.mode("append").parquet(tot_led)

    run_twin(d.select("lang", "doc_id", "n_chars"), apply_batch, base)

    totals = fold_ledger(
        spark.read.parquet(tot_led), ["lang"], ["n_docs", "total_chars"]
    )
    return priority_estimator_report(spark.read.parquet(cand_led), totals)


QUERIES["stream_priority_sample"] = QuerySpec(
    q_stream_priority_sample, Q_PRIORITY_ESTIMATOR_ORACLE
)


def q_stream_leakage_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous target-leakage screen (r12) — the per-feature MI report
    over a contingency ledger: the stacked (feature, x, y) cell counts are
    pure SUM folds (decided at ARRIVAL), while every marginal, entropy, and
    the nmi leakage dial are functions of the FINAL joint distributions, so
    the whole screen re-derives at READOUT (an early-window spurious
    correlation legitimately washes out as volume lands). Shared oracle
    verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        leakage_cell_facts,
        mutual_info_screen_from_cells,
    )

    base = workspace("stream_leak_")
    led = f"{base}/cells"
    o = load(spark, sf_dir, "orders")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        leakage_cell_facts(batch_df).write.mode("append").parquet(led)

    run_twin(
        o.select(
            "o_orderpriority", "o_orderdate", "o_custkey", "o_totalprice",
            "o_orderstatus",
        ),
        apply_batch,
        base,
    )

    folded = fold_ledger(spark.read.parquet(led), ["feature", "x", "y"], ["n_xy"])
    return mutual_info_screen_from_cells(folded)


QUERIES["stream_leakage_screen"] = QuerySpec(q_stream_leakage_screen, _leakage_oracle())


def q_stream_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous WoE/IV feature pricing (r12) — the credit-scoring twin of
    stream_leakage_screen over the same contingency-ledger decomposition:
    per-bin (n_pos, n_neg) target counts are pure SUM folds (decided at
    ARRIVAL), while smoothing, every WoE log-ratio, the quantized shares,
    and the IV fold are functions of the FINAL distributions, so the whole
    report re-derives at READOUT. Shared oracle verbatim; split-invariance
    gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        woe_cell_facts,
        woe_iv_report_from_cells,
    )

    base = workspace("stream_woe_")
    led = f"{base}/cells"
    o = load(spark, sf_dir, "orders")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        woe_cell_facts(batch_df).write.mode("append").parquet(led)

    run_twin(
        o.select(
            "o_orderpriority", "o_orderdate", "o_custkey", "o_totalprice",
            "o_orderstatus",
        ),
        apply_batch,
        base,
    )

    folded = fold_ledger(spark.read.parquet(led), ["feature", "x"], ["n_pos", "n_neg"])
    return woe_iv_report_from_cells(folded)


QUERIES["stream_woe_iv"] = QuerySpec(q_stream_woe_iv, _woe_oracle())


def q_stream_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous term-burstiness report (r12) — a TWO-ledger member: the
    per-term dispersion facts (df, Σx, Σx²) and the 1-row document count
    both SUM-fold (each document lives wholly in one micro-batch, so its
    within-doc counts — hence their squares — are batch-local facts), while
    the top-N rank cut and the Fano arithmetic re-derive at READOUT (a term
    can enter or leave the board as volume lands — the correct semantics
    for a monitoring surface). Shared oracle verbatim; split-invariance
    gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        burstiness_report_from_facts,
        burstiness_term_facts,
    )

    base = workspace("stream_burst_")
    led, dled = f"{base}/facts", f"{base}/docs"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        burstiness_term_facts(batch_df).write.mode("append").parquet(led)
        batch_df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        ).write.mode("append").parquet(dled)

    run_twin(d.select("doc_id", "text"), apply_batch, base)

    facts = fold_ledger(spark.read.parquet(led), ["term"], ["df", "sum_x", "sum_x2"])
    n_docs = spark.read.parquet(dled).agg(
        F.sum("n_docs").cast("bigint").alias("n_docs")
    )
    return burstiness_report_from_facts(facts, n_docs)


QUERIES["stream_burstiness"] = QuerySpec(q_stream_burstiness, Q_BURSTINESS_ORACLE)


def q_stream_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous autocorrelation ladder (r12) — the calendar-grain member
    of the additive family: per-batch hourly count partials SUM-fold
    (an event's hour is decided at ARRIVAL), while the dense spine, every
    lag pairing, the five moments, and r itself re-derive at READOUT —
    which is exactly why batching can't move the answer: the spine bounds
    come from the FOLDED series, and a zero-filled hour stays a real 0
    whichever micro-batch its neighbors arrived in. Shared oracle verbatim;
    split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        acf_report_from_counts,
        hourly_event_counts,
    )

    base = workspace("stream_acf_")
    led = f"{base}/counts"
    ev = load(spark, sf_dir, "events")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        hourly_event_counts(batch_df).write.mode("append").parquet(led)

    run_twin(ev.select("ts", "event_id"), apply_batch, base)

    counts = fold_ledger(spark.read.parquet(led), ["hour_id"], ["cnt"])
    return acf_report_from_counts(counts)


QUERIES["stream_acf_lags"] = QuerySpec(q_stream_acf_lags, Q_TS_ACF_ORACLE)


def q_stream_ess_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous effective-sample-size audit (r12) — the weighting-health
    dial maintained over a single additive ledger: each document's
    micro-quantized quality weight is a scan-local ARRIVAL decision, the
    per-language (n, Σw, Σw²) moments SUM-fold, and Kish's ESS re-derives at
    READOUT — so a stratum collapsing onto a few heavy documents is visible
    the moment it happens. Shared oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        ess_report_from_facts,
        quality_weight_facts,
    )

    base = workspace("stream_ess_")
    led = f"{base}/facts"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        quality_weight_facts(batch_df).write.mode("append").parquet(led)

    run_twin(d.select("doc_id", "lang", "text"), apply_batch, base)

    folded = fold_ledger(
        spark.read.parquet(led), ["lang"], ["n_docs", "sum_w", "sum_w2"]
    )
    return ess_report_from_facts(folded)


QUERIES["stream_ess_report"] = QuerySpec(q_stream_ess_report, _ess_oracle())


def q_stream_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous seasonal-index decomposition (r12) — the SAME hourly
    count ledger as stream_acf_lags with a different readout (the point of
    the ledger decomposition: one arrival-scoped fold, many derived
    reports): per-batch hourly partials SUM-fold, and the spine, the
    hour-of-day bucketing, and every index re-derive at READOUT. Shared
    oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        hourly_event_counts,
        seasonal_decompose_from_counts,
    )

    base = workspace("stream_seasonal_")
    led = f"{base}/counts"
    ev = load(spark, sf_dir, "events")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        hourly_event_counts(batch_df).write.mode("append").parquet(led)

    run_twin(ev.select("ts", "event_id"), apply_batch, base)

    counts = fold_ledger(spark.read.parquet(led), ["hour_id"], ["cnt"])
    return seasonal_decompose_from_counts(counts)


QUERIES["stream_seasonal_decompose"] = QuerySpec(
    q_stream_seasonal_decompose, Q_TS_SEASONAL_DECOMPOSE_ORACLE
)


# GC threshold for the DSIR twins' postings/bucket ledgers: 2 shards keeps
# the compactor firing inside a 4-batch availableNow stream (one shard per
# batch), so every correctness run proves compact-then-append == append-only
# on the real ledgers. Production cadence is O(64) — write amplification per
# compaction is bounded by LIVE key cardinality either way, never by history.
DSIR_GC_MAX_FILES = 2


def _dsir_labeled_from_stream(
    spark: SparkSession, sf_dir: str, prefix: str
) -> DataFrame:
    """The shared front half of every DSIR-selector evaluation twin: stream
    documents through an availableNow pass that appends the three additive
    ledgers (doc dim carrying the label, term postings, bucket-model counts —
    the same triple stream_importance_weights folds), then fold them under
    the FINAL model into the (y, logw_micro) labeled frame. The honest
    streaming form: every document's score is re-judged under the folded
    model (the stream_surprisal_filter discipline — an early doc's score
    legitimately moves as the model learns), so any readout over this frame
    equals its batch twin bit-for-bit.

    Ledger GC cadence (VERDICT r13 #3): after each batch's appends the two
    heaviest ledgers (term postings, bucket-model counts — the ones whose
    shard count grows fastest at 100 TB arrival rates) run
    streaming/ledger.maybe_compact_ledger. Compaction is the readout's own
    SUM fold persisted, so it is EXACT under later appends (fold(compact(p)
    ∪ s) == fold(p ∪ s)) — the readout below is oblivious to whether GC
    fired. The threshold is sized so the GC path fires inside these twins'
    4-micro-batch availableNow streams (i.e. every driver correctness run
    exercises compact-then-append equality for real); a production
    deployment sizes it to O(64) shards — see maybe_compact_ledger's
    docstring for the trade."""
    from movie_genre_data_pipeline_spark.functions.sampling import (
        dsir_bucket_model,
        dsir_fold_scores,
        dsir_postings,
        dsir_term_buckets,
    )
    from movie_genre_data_pipeline_spark.streaming.ledger import (
        maybe_compact_ledger,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import DSIR_BUCKETS

    b = DSIR_BUCKETS
    base = workspace(prefix)
    led_doc, led_tf, led_bkt = f"{base}/docs", f"{base}/tf", f"{base}/buckets"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(
            "doc_id", "source", (F.col("lang") == "en").alias("y")
        ).write.mode("append").parquet(led_doc)
        terms = dsir_term_buckets(
            batch_df, "doc_id", "text", (F.col("lang") == "en"), b
        )
        dsir_postings(terms).write.mode("append").parquet(led_tf)
        dsir_bucket_model(terms).write.mode("append").parquet(led_bkt)
        spark = batch_df.sparkSession
        maybe_compact_ledger(
            spark, led_tf, ["doc_id", "bucket"], ["tf"], max_files=DSIR_GC_MAX_FILES
        )
        maybe_compact_ledger(
            spark, led_bkt, ["bucket"], ["raw_c", "tgt_c"], max_files=DSIR_GC_MAX_FILES
        )

    run_twin(d.select("doc_id", "text", "lang", "source"), apply_batch, base)

    buckets = fold_ledger(spark.read.parquet(led_bkt), ["bucket"], ["raw_c", "tgt_c"])
    tf = fold_ledger(spark.read.parquet(led_tf), ["doc_id", "bucket"], ["tf"])
    scored = dsir_fold_scores(tf, buckets, b).select("doc_id", "logw_micro")
    return (
        spark.read.parquet(led_doc)
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "y",
            F.coalesce("logw_micro", F.lit(0)).cast("bigint").alias("logw_micro"),
        )
    )


def q_stream_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained selector evaluation (r12): the exact
    Mann-Whitney AUC of the DSIR selector, re-derived at READOUT over the
    same additive ledger triple (see _dsir_labeled_from_stream). Shares the
    batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        auc_report_from_labeled,
    )

    return auc_report_from_labeled(
        _dsir_labeled_from_stream(spark, sf_dir, "stream_auc_")
    )


QUERIES["stream_auc_report"] = QuerySpec(q_stream_auc_report, _auc_oracle())


def q_stream_pr_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained average precision (r13): the PR-AUC of the
    DSIR selector — the imbalanced-regime companion to stream_auc_report —
    re-derived at READOUT over the same additive ledger triple (see
    _dsir_labeled_from_stream). Shares the batch oracle verbatim;
    split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        pr_auc_report_from_labeled,
    )

    return pr_auc_report_from_labeled(
        _dsir_labeled_from_stream(spark, sf_dir, "stream_pr_auc_")
    )


QUERIES["stream_pr_auc_report"] = QuerySpec(q_stream_pr_auc_report, _pr_auc_oracle())


def q_stream_ks_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained KS separation (r13): the third leg of the
    scorecard triple (AUC ranks, calibration prices confidence, KS localizes
    the best cutoff), re-derived at READOUT over the same additive ledger
    triple (see _dsir_labeled_from_stream). Shares the batch oracle verbatim;
    split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        ks_report_from_labeled,
    )

    return ks_report_from_labeled(
        _dsir_labeled_from_stream(spark, sf_dir, "stream_ks_")
    )


QUERIES["stream_ks_report"] = QuerySpec(q_stream_ks_report, _ks_oracle())


def q_stream_auc_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained AUC uncertainty (r13): the Poisson-bootstrap
    CI of the selector's AUC, re-derived at READOUT over the same additive
    ledger triple — the replicate weights are pure doc_id hashes (arrival
    decisions re-derivable at any time), so the band legitimately narrows
    as volume lands, the streaming form the Poisson bootstrap was built
    for. Shares the batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        auc_bootstrap_from_labeled,
    )

    return auc_bootstrap_from_labeled(
        _dsir_labeled_from_stream(spark, sf_dir, "stream_aucboot_")
    )


QUERIES["stream_auc_bootstrap_ci"] = QuerySpec(
    q_stream_auc_bootstrap_ci, _auc_bootstrap_oracle()
)


def q_stream_auc_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained per-segment AUC (r13): the sliced selector
    evaluation re-derived at READOUT over the same additive ledger triple
    (the doc ledger carries the segment as an arrival fact). Shares the
    batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        _AUC_MICRO,
        partitioned_mann_whitney_sums,
    )

    labeled = _dsir_labeled_from_stream(spark, sf_dir, "stream_auc_seg_")
    groups = labeled.groupBy("source", F.col("logw_micro").alias("s")).agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("bigint").alias("c_pos"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).cast("bigint").alias("c_neg"),
    )
    sums = partitioned_mann_whitney_sums(groups, "source")
    return sums.selectExpr(
        "source",
        "n_pos",
        "n_neg",
        "n_scores",
        f"{_AUC_MICRO} AS auc_micro",
    ).selectExpr(
        "source",
        "n_pos",
        "n_neg",
        "n_scores",
        "auc_micro",
        "auc_micro * 2 - 1000000 AS gini_micro",
    )


QUERIES["stream_auc_by_segment"] = QuerySpec(
    q_stream_auc_by_segment, _auc_by_segment_oracle()
)


def q_stream_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained DP count release (r13): the true-count cell
    ledger SUM-folds per micro-batch, and the Laplace noise — a pure
    CELL-KEY hash through the inverse CDF — is re-drawn identically at
    every readout, so the always-current noisy marginal equals the batch
    release bit-for-bit (the arrival-independent-decision discipline the
    bootstrap weights use). Note this is the deterministic TEST-HARNESS
    noise (see ops_dp_release's caveat); the streaming shape itself — fold
    true counts, noise at readout — is exactly how a production continual-
    release mechanism bounds its state. Shares the batch oracle verbatim;
    split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.cdc_queries import (
        dp_marginal_facts,
        dp_release_from_facts,
    )

    base = workspace("stream_dp_")
    led = f"{base}/cells"
    c = load(spark, sf_dir, "customer")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        dp_marginal_facts(batch_df).write.mode("append").parquet(led)

    # stage bigint keys (the fixture's c_nationkey is int32)
    run_twin(
        c.select(
            F.col("c_custkey").cast("bigint"),
            F.col("c_nationkey").cast("bigint"),
            "c_mktsegment",
        ),
        apply_batch,
        base,
    )

    facts = fold_ledger(spark.read.parquet(led), ["c_nationkey", "c_mktsegment"], ["n"])
    return dp_release_from_facts(facts)


QUERIES["stream_dp_release"] = QuerySpec(q_stream_dp_release, Q_DP_RELEASE_ORACLE)


def q_stream_auc_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained leakage-free CV evaluation (r13): the
    leave-one-fold-out AUC re-derived at READOUT from three additive
    ledgers — doc labels, (fold, bucket) model cells, term postings. The
    fold is a pure doc_id hash (arrival decision re-derivable anywhere),
    the complement models are subtractions of the FOLDED global cells, and
    every doc re-scores under its fold's complement of the final model —
    so the continuous CV equals the batch CV bit-for-bit. Shares the batch
    oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.functions.sampling import (
        dsir_postings,
        dsir_term_buckets,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        _CV_FOLD_SPARK,
        DSIR_BUCKETS,
        auc_cv_from_parts,
    )

    b = DSIR_BUCKETS
    base = workspace("stream_auc_cv_")
    led_doc, led_tf, led_cell = f"{base}/docs", f"{base}/tf", f"{base}/cells"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(
            "doc_id", (F.col("lang") == "en").alias("y")
        ).write.mode("append").parquet(led_doc)
        terms = dsir_term_buckets(
            batch_df, "doc_id", "text", (F.col("lang") == "en"), b
        ).selectExpr("doc_id", "__tgt", "bucket", f"{_CV_FOLD_SPARK} AS fold")
        dsir_postings(terms).write.mode("append").parquet(led_tf)
        terms.groupBy("fold", "bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("raw_c"),
            F.sum(F.when(F.col("__tgt"), 1).otherwise(0))
            .cast("bigint")
            .alias("tgt_c"),
        ).write.mode("append").parquet(led_cell)

    run_twin(d.select("doc_id", "text", "lang"), apply_batch, base)

    docs = spark.read.parquet(led_doc).selectExpr(
        "doc_id", "y", f"{_CV_FOLD_SPARK} AS fold"
    )
    cells = fold_ledger(
        spark.read.parquet(led_cell), ["fold", "bucket"], ["raw_c", "tgt_c"]
    )
    tf = fold_ledger(spark.read.parquet(led_tf), ["doc_id", "bucket"], ["tf"])
    return auc_cv_from_parts(docs, cells, tf)


QUERIES["stream_auc_cv"] = QuerySpec(q_stream_auc_cv, _auc_cv_oracle())


def q_stream_score_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained score-drift monitoring (r13): the PSI of the
    DSIR score distribution (reference vs current snapshot halves),
    re-derived at READOUT over the same additive ledger triple — every
    document re-scores under the final folded model, the reference deciles
    re-rank, and both halves re-bin, so the continuous PSI equals the batch
    PSI bit-for-bit (the always-current form a nightly monitoring job
    folds from the ledgers instead of re-scanning the corpus). Shares the
    batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        score_psi_from_scored,
    )

    labeled = _dsir_labeled_from_stream(spark, sf_dir, "stream_psi_")
    scored = labeled.select(
        "doc_id",
        F.col("logw_micro").alias("s"),
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
    )
    return score_psi_from_scored(scored)


QUERIES["stream_score_psi"] = QuerySpec(q_stream_score_psi, _score_psi_oracle())


def q_stream_ledger_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger compaction/GC (r13 — VERDICT r12 #5): the streaming ledgers
    grow one shard per micro-batch FOREVER, so readout cost grows with
    batches-ever, not live state. This query exercises the fix end-to-end on
    real arrivals: a first availableNow pass appends per-batch hourly-count
    partials; streaming/ledger.compact_ledger folds the shard pile into ONE
    generation in place (stage-and-swap — readers never see a gap); a second
    pass appends the remaining arrivals to the same ledger; the readout
    folds compacted-prefix + fresh-suffix. Additivity makes the identity
    exact — fold(compact(prefix) ∪ suffix) == fold(prefix ∪ suffix) — and the
    published result IS that readout, so the shared batch oracle gates the
    fold-then-append == append-only equality on driver data, not just in the
    pytest (tests/test_ledger_compact.py proves the shard-count reduction and
    dtype preservation)."""
    from movie_genre_data_pipeline_spark.streaming.ledger import compact_ledger
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        hourly_event_counts,
    )

    base = workspace("stream_ledgc_")
    led = f"{base}/counts"
    ev = load(spark, sf_dir, "events").select("ts", "event_id")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        hourly_event_counts(batch_df).write.mode("append").parquet(led)

    # first half of the feed arrives (even event ids), sharded into
    # micro-batches ...
    run_twin(ev.filter(F.col("event_id") % 2 == 0), apply_batch, f"{base}/first", 2)
    # ... GC the shard pile mid-stream ...
    compact_ledger(spark, led, ["hour_id"], ["cnt"])
    # ... then the rest arrives, and its appends land next to the compacted
    # generation.
    run_twin(ev.filter(F.col("event_id") % 2 == 1), apply_batch, f"{base}/rest", 2)

    return fold_ledger(spark.read.parquet(led), ["hour_id"], ["cnt"])


def _stream_ledger_compact_oracle() -> str:
    return """
SELECT CAST(epoch_us(ts) AS BIGINT) // 3600000000
         - CASE WHEN CAST(epoch_us(ts) AS BIGINT) % 3600000000 < 0
                THEN 1 ELSE 0 END AS hour_id,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM events GROUP BY 1
"""


QUERIES["stream_ledger_compact"] = QuerySpec(
    q_stream_ledger_compact, _stream_ledger_compact_oracle()
)


def q_stream_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained bootstrap uncertainty (r12): every document's
    32 Poisson replicate weights are pure doc_id hashes (ARRIVAL
    decisions), so the per-(language, replicate) weighted moments SUM-fold
    and the replicate means, order statistics, and CI all re-derive at
    READOUT — the uncertainty band legitimately narrows as volume lands.
    This is the streaming form Chamandy et al. built the Poisson bootstrap
    FOR (uncertainty over a stream without a global resample). Shared
    oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        bootstrap_ci_from_facts,
        bootstrap_replicate_facts,
    )

    base = workspace("stream_boot_")
    led = f"{base}/facts"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        bootstrap_replicate_facts(batch_df).write.mode("append").parquet(led)

    run_twin(d.select("doc_id", "lang", "text"), apply_batch, base)

    folded = fold_ledger(
        spark.read.parquet(led), ["lang", "r"], ["n_docs", "sum_q", "sum_k", "sum_kq"]
    )
    return bootstrap_ci_from_facts(folded)


QUERIES["stream_bootstrap_ci"] = QuerySpec(q_stream_bootstrap_ci, _bootstrap_oracle())


def q_stream_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained gains table (r13): the decile lift/cumulative-
    gains readout of the DSIR selector, re-derived at READOUT over the same
    additive ledger triple as the AUC family (see _dsir_labeled_from_stream)
    — every doc re-judged under the final folded model, then the ranged
    ntile + prefix-sum tail prices each top-k operating point. Shares the
    batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        lift_gains_from_labeled,
    )

    labeled = _dsir_labeled_from_stream(spark, sf_dir, "stream_lift_").select(
        "doc_id", "y", F.col("logw_micro").alias("s")
    )
    return lift_gains_from_labeled(labeled)


QUERIES["stream_lift_gains"] = QuerySpec(q_stream_lift_gains, _lift_gains_oracle())


def q_stream_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained revenue-concentration report (r13): per-batch
    per-customer cent partials append to a ledger (each order lands in
    exactly one micro-batch, so the per-customer totals SUM-fold — the
    simplest additive fact), and the Gini/top-share readout re-ranks the
    FOLDED totals (rank is a readout decision, never streamed state).
    Shares the batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.relational_extra import (
        gini_from_customer_cents,
    )

    base = workspace("stream_gini_")
    led = f"{base}/cents"
    o = load(spark, sf_dir, "orders")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.groupBy(F.col("o_custkey").alias("c")).agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        ).write.mode("append").parquet(led)

    run_twin(
        o.select(
            F.col("o_custkey").cast("bigint"),
            F.col("o_totalprice").cast("double"),
        ),
        apply_batch,
        base,
    )

    per_cust = fold_ledger(spark.read.parquet(led), ["c"], ["cents"])
    return gini_from_customer_cents(per_cust)


QUERIES["stream_gini_concentration"] = QuerySpec(
    q_stream_gini_concentration, Q_GINI_ORACLE
)


def q_stream_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained trend test (r13): per-batch DAILY count
    partials SUM-fold (an event's day is decided at arrival — the ACF
    ladder's calendar-grain discipline one tier up), while the dense spine,
    the S fold, the tie correction, and the Theil-Sen slope median all
    re-derive at READOUT from the folded series. Shares the batch oracle
    verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        daily_event_counts,
        mann_kendall_from_counts,
    )

    base = workspace("stream_mk_")
    led = f"{base}/counts"
    ev = load(spark, sf_dir, "events")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        daily_event_counts(batch_df).write.mode("append").parquet(led)

    run_twin(ev.select("ts", "event_id"), apply_batch, base)

    counts = fold_ledger(spark.read.parquet(led), ["day_id"], ["cnt"])
    return mann_kendall_from_counts(counts)


QUERIES["stream_mann_kendall"] = QuerySpec(
    q_stream_mann_kendall, Q_TS_MANN_KENDALL_ORACLE
)


def q_stream_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained independence test (r13): (lang, source) cell
    partials SUM-fold per micro-batch (the stream_mutual_info ledger shape),
    while margins, the zero-filled grid, every χ² term, and Cramér's V all
    re-derive at READOUT from the folded contingency. Shares the batch
    oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        chi2_from_cells,
    )

    base = workspace("stream_chi2_")
    led = f"{base}/cells"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.groupBy(
            F.col("lang").alias("x"), F.col("source").alias("y")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_xy")).write.mode(
            "append"
        ).parquet(led)

    run_twin(d.select("doc_id", "lang", "source"), apply_batch, base)

    cells = fold_ledger(spark.read.parquet(led), ["x", "y"], ["n_xy"])
    return chi2_from_cells(cells)


QUERIES["stream_chi2_independence"] = QuerySpec(
    q_stream_chi2_independence, Q_FEAT_CHI2_ORACLE
)


def q_stream_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained Neyman allocation (r13): per-batch per-language
    n_chars moment partials (n, Σx, Σx²) SUM-fold — the Gram-ledger shape —
    and the S_h quantization, the weights, and the whole largest-remainder
    apportionment re-derive at READOUT from the folded moments, so the
    always-current design equals the batch design bit-for-bit. Shares the
    batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        neyman_from_moments,
    )

    base = workspace("stream_neyman_")
    led = f"{base}/moments"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.groupBy("lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("decimal(38,0)").alias("sx"),
            F.expr("SUM(CAST(n_chars AS DECIMAL(38,0)) * n_chars)").alias(
                "sxx"
            ),
        ).write.mode("append").parquet(led)

    run_twin(d.select("doc_id", "lang", "n_chars"), apply_batch, base)

    facts = fold_ledger(spark.read.parquet(led), ["lang"], ["n_docs", "sx", "sxx"])
    return neyman_from_moments(facts)


QUERIES["stream_neyman_allocation"] = QuerySpec(
    q_stream_neyman_allocation, Q_NEYMAN_ORACLE
)


def q_stream_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained tail-index estimate (r13): per-doc length
    facts append to a ledger (doc_ids unique across batches — the
    stream_phash_dedup union-fold shape), and the top-k order statistics,
    the threshold, and the Hill fold all re-derive at READOUT over the
    folded lengths. Shares the batch oracle verbatim; split-invariance
    gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        hill_from_lengths,
    )

    base = workspace("stream_hill_")
    led = f"{base}/lengths"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(
            "doc_id", F.col("n_chars").cast("bigint").alias("x")
        ).write.mode("append").parquet(led)

    run_twin(d.select("doc_id", "n_chars"), apply_batch, base)

    return hill_from_lengths(spark.read.parquet(led))


QUERIES["stream_hill_tail_index"] = QuerySpec(q_stream_hill_tail_index, Q_HILL_ORACLE)


def q_stream_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained SRM guardrail (r13): per-batch per-user event
    counts SUM-fold into the user grain (a user seen in many micro-batches
    folds to one row), and the arm assignment — a pure user_id hash — plus
    the χ² verdict re-derive at READOUT, so the always-current guardrail
    equals the batch check bit-for-bit. Shares the batch oracle verbatim;
    split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        srm_check_from_users,
    )

    base = workspace("stream_srm_")
    led = f"{base}/users"
    ev = load(spark, sf_dir, "events")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events")
        ).write.mode("append").parquet(led)

    run_twin(ev.select("user_id", "event_id"), apply_batch, base)

    per_user = fold_ledger(spark.read.parquet(led), ["user_id"], ["n_events"])
    return srm_check_from_users(per_user)


QUERIES["stream_srm_check"] = QuerySpec(q_stream_srm_check, _srm_oracle())


def q_stream_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained changepoint monitor (r13): the event log IS
    the ledger — per-batch (event_type, ts, event_id, v) facts append
    (event_ids unique across batches, a union fold), and the whole Page
    CUSUM trajectory, the per-series mean clearing, and the peak argmax
    re-derive at READOUT, so the always-current changepoint equals the
    batch answer bit-for-bit however arrivals were batched (an early
    point's deviation legitimately moves as later points shift the series
    mean — exactly why the statistic must be a readout, not streamed
    state). Shares the batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        cusum_from_base,
    )

    base_dir = workspace("stream_cusum_")
    led = f"{base_dir}/facts"
    ev = load(spark, sf_dir, "events")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(
            "event_type",
            "ts",
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("v"),
        ).write.mode("append").parquet(led)

    run_twin(ev.select("event_type", "ts", "event_id", "value"), apply_batch, base_dir)

    return cusum_from_base(spark.read.parquet(led))


QUERIES["stream_cusum_changepoint"] = QuerySpec(
    q_stream_cusum_changepoint, Q_TS_CUSUM_ORACLE
)


def q_stream_readability_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained readability profile (r13): per-batch
    per-language ARI moments (n, Σari, n_hard) SUM-fold — per-doc ARI is a
    scan-local arrival decision, so the moments are the simplest additive
    ledger (the ESS shape) — and the means/shares re-derive at readout.
    Shares the batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        ari_facts,
        ari_report_from_facts,
    )

    base = workspace("stream_ari_")
    led = f"{base}/moments"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        ari_facts(batch_df).write.mode("append").parquet(led)

    run_twin(d.select("doc_id", "lang", "text"), apply_batch, base)

    facts = fold_ledger(
        spark.read.parquet(led), ["lang"], ["n_docs", "sum_ari", "n_hard"]
    )
    return ari_report_from_facts(facts)


QUERIES["stream_readability_ari"] = QuerySpec(q_stream_readability_ari, Q_ARI_ORACLE)


def q_stream_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained encoding-sanity histogram (r13): per-batch
    byte-value cell partials from the Arrow bincount kernel SUM-fold (at
    most 256 cells per batch — the cheapest additive ledger in the suite),
    and the shares re-derive at readout over the folded counts. Shares the
    batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.functions.multimodal import (
        byte_histogram,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.multimodal_queries import (
        byte_histogram_report,
    )

    base = workspace("stream_bytehist_")
    led = f"{base}/cells"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        media = batch_df.select(
            F.col("doc_id").alias("media_id"),
            F.col("text").cast("binary").alias("payload"),
        )
        byte_histogram(media).write.mode("append").parquet(led)

    run_twin(d.select("doc_id", "text"), apply_batch, base)

    counts = fold_ledger(spark.read.parquet(led), ["byte_value"], ["n_occurrences"])
    return byte_histogram_report(counts)


QUERIES["stream_byte_histogram"] = QuerySpec(
    q_stream_byte_histogram, Q_MEDIA_BYTE_HISTOGRAM_ORACLE
)


def q_stream_auc_source_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained data valuation (r13): the leave-one-source-out
    AUC ablation re-derived at READOUT from three additive ledgers — the doc
    dim (carrying source + label as arrival facts), the postings, and the
    PER-SOURCE bucket cells (the model ledger keyed one level finer, so any
    source's complement model is a subtraction of the fold). Shares the
    batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.functions.sampling import (
        dsir_postings,
        dsir_term_buckets,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        DSIR_BUCKETS,
        auc_source_ablation_from_parts,
    )

    b = DSIR_BUCKETS
    base = workspace("stream_ablation_")
    led_doc, led_tf, led_cells = f"{base}/docs", f"{base}/tf", f"{base}/cells"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.selectExpr(
            "doc_id", "lang = 'en' AS y", "source"
        ).write.mode("append").parquet(led_doc)
        terms = dsir_term_buckets(
            batch_df, "doc_id", "text", (F.col("lang") == "en"), b
        ).join(batch_df.select("doc_id", "source"), "doc_id")
        dsir_postings(terms.select("doc_id", "__tgt", "bucket")).write.mode(
            "append"
        ).parquet(led_tf)
        terms.groupBy("source", "bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("raw_c"),
            F.sum(F.when(F.col("__tgt"), 1).otherwise(0))
            .cast("bigint")
            .alias("tgt_c"),
        ).write.mode("append").parquet(led_cells)

    run_twin(d.select("doc_id", "text", "lang", "source"), apply_batch, base)

    docs = spark.read.parquet(led_doc)
    cells = fold_ledger(
        spark.read.parquet(led_cells), ["source", "bucket"], ["raw_c", "tgt_c"]
    )
    tf = fold_ledger(spark.read.parquet(led_tf), ["doc_id", "bucket"], ["tf"])
    return auc_source_ablation_from_parts(docs, cells, tf)


QUERIES["stream_auc_source_ablation"] = QuerySpec(
    q_stream_auc_source_ablation, _source_ablation_oracle()
)


def q_stream_drift_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained per-feature drift sweep (r13): the stacked
    snapshot-contingency cells SUM-fold per micro-batch (snapshot membership
    is an arrival decision — an orderkey hash), and every feature's PSI
    re-derives at readout through the shared woe_iv_report_from_cells fold.
    Shares the batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        drift_cell_facts,
        drift_screen_from_cells,
    )

    base = workspace("stream_drift_scr_")
    led = f"{base}/cells"
    o = load(spark, sf_dir, "orders")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        drift_cell_facts(batch_df).write.mode("append").parquet(led)

    run_twin(
        o.select(
            "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate", "o_totalprice"
        ),
        apply_batch,
        base,
    )

    cells = fold_ledger(spark.read.parquet(led), ["feature", "x"], ["n_pos", "n_neg"])
    return drift_screen_from_cells(cells)


QUERIES["stream_drift_screen"] = QuerySpec(
    q_stream_drift_screen, _drift_screen_oracle()
)


def q_stream_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained graph mixing coefficient (r13) — the graph
    family's first ledger twin: per-batch DISTINCT (supplier, customer)
    edge partials append (a set-union fold — re-DISTINCTing the union
    recovers the corpus edge set exactly, the stream_phash discipline for
    pairs), and the degrees + the Pearson fold re-derive at READOUT, so
    the always-current assortativity equals the batch answer bit-for-bit.
    Shares the batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.graph_queries import (
        assortativity_from_edges,
    )

    base = workspace("stream_assort_")
    led = f"{base}/edges"
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select("s", "c").distinct().write.mode("append").parquet(led)

    run_twin(
        li.select("l_orderkey", "l_suppkey").join(
            o.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).select(
            F.col("l_suppkey").cast("bigint").alias("s"),
            F.col("o_custkey").cast("bigint").alias("c"),
        ),
        apply_batch,
        base,
    )

    edges = spark.read.parquet(led).distinct()
    return assortativity_from_edges(edges)


QUERIES["stream_degree_assortativity"] = QuerySpec(
    q_stream_degree_assortativity, _assortativity_oracle()
)


def q_stream_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained PPS systematic design (r13): per-doc size
    facts union-fold (doc_ids unique across batches — the Hill ledger
    shape), and the total order, the prefix sums, the selection points,
    and every per-language count re-derive at READOUT — selection points
    move as the corpus grows, which is exactly why a systematic design
    must be a readout, not streamed state. Shares the batch oracle
    verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        pps_report_from_sizes,
    )

    base = workspace("stream_pps_")
    led = f"{base}/sizes"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(
            "doc_id", "lang", F.col("n_chars").cast("bigint").alias("sz")
        ).write.mode("append").parquet(led)

    run_twin(d.select("doc_id", "lang", "n_chars"), apply_batch, base)

    return pps_report_from_sizes(spark.read.parquet(led))


QUERIES["stream_pps_systematic"] = QuerySpec(q_stream_pps_systematic, Q_PPS_ORACLE)


def q_stream_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained freshness SLA audit (r13): per-batch per-type
    MAX event-time partials append (the retention-policy horizon fold — MAX
    re-MAXes), and the horizon, every lag, and every breach verdict
    re-derive at readout over the folded facts. Shares the batch oracle
    verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.pipeline_queries import (
        freshness_facts,
        freshness_report_from_facts,
    )

    base = workspace("stream_fresh_")
    led = f"{base}/facts"
    ev = load(spark, sf_dir, "events")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        freshness_facts(batch_df).write.mode("append").parquet(led)

    run_twin(ev.select("event_type", "ts", "event_id"), apply_batch, base)

    facts = fold_ledger(spark.read.parquet(led), ["event_type"], ["last_us"], "max")
    return freshness_report_from_facts(facts)


QUERIES["stream_freshness_sla"] = QuerySpec(
    q_stream_freshness_sla, Q_DQ_FRESHNESS_ORACLE
)


# -- continuously-maintained Kaplan-Meier survival curve (r14) -----------------------------
def q_stream_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous KM retention monitoring: each micro-batch appends per-user
    span partials (user_id, MIN first-seen, MAX last-seen epoch micros — the
    two-monoid ledger: f_us folds by MIN, l_us by MAX, both re-associating),
    and EVERYTHING else — the corpus horizon, each user's death/censor
    verdict, durations, at-risk counts, the ln-domain cumulative product —
    re-derives at readout from the folded spans (a user's status legitimately
    flips from dead to alive when a later batch shows them active again, so
    the verdict can only be a readout decision). Shares the batch oracle
    verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        km_report_from_spans,
        km_user_spans,
    )

    base = workspace("stream_km_")
    led = f"{base}/spans"
    ev = load(spark, sf_dir, "events")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        km_user_spans(batch_df).write.mode("append").parquet(led)

    run_twin(ev.select("ts", "user_id"), apply_batch, base)

    spans = (
        spark.read.parquet(led)
        .groupBy("user_id")
        .agg(
            F.min("f_us").cast("bigint").alias("f_us"),
            F.max("l_us").cast("bigint").alias("l_us"),
        )
    )
    return km_report_from_spans(spans)


QUERIES["stream_kaplan_meier"] = QuerySpec(q_stream_kaplan_meier, Q_KM_ORACLE)


# -- continuously-maintained Yule's K richness profile (r14) -------------------------------
def q_stream_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous vocabulary-richness monitoring: each micro-batch appends its
    (lang, term, tf) unigram postings (the Zipf/BM25 ledger shape — tf is the
    additive fact); N, the type count, Σtf², and K itself are all readout
    re-derivations over the SUM-folded postings (tf² doesn't re-associate, so
    squaring before the fold would be wrong — the fact is tf, the square is a
    readout decision). Shares the batch oracle verbatim; split-invariance
    gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        yule_postings,
        yule_report_from_postings,
    )

    base = workspace("stream_yule_")
    led = f"{base}/postings"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        yule_postings(batch_df).write.mode("append").parquet(led)

    run_twin(d.select("doc_id", "lang", "text"), apply_batch, base)

    postings = fold_ledger(spark.read.parquet(led), ["lang", "term"], ["tf"])
    return yule_report_from_postings(postings)


QUERIES["stream_yule_k"] = QuerySpec(q_stream_yule_k, Q_YULE_ORACLE)


# -- continuously-maintained Mahalanobis screen (r14) --------------------------------------
def q_stream_mahalanobis_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous joint-outlier monitoring: each micro-batch appends (a) its
    exact-integer feature dims and (b) its six-number moment partial (the
    OLS-Gram ledger shape — counts and DECIMAL(38,0) sums, pure SUM fold).
    Every d² is re-judged at readout under the FINAL folded covariance (an
    early order's verdict legitimately moves as the distribution fills in —
    the DSIR re-judging discipline), so the histogram equals the batch twin
    bit-for-bit. Shares the batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        maha_dims,
        maha_moments,
        maha_report_from_parts,
    )

    base = workspace("stream_maha_")
    led_dims, led_mom = f"{base}/dims", f"{base}/moments"
    o = load(spark, sf_dir, "orders")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        dims = maha_dims(batch_df)
        dims.write.mode("append").parquet(led_dims)
        maha_moments(dims).write.mode("append").parquet(led_mom)

    # the fixture's o_orderdate is a physical INT96 timestamp — stage DATE
    run_twin(
        o.select(
            "o_orderkey",
            "o_totalprice",
            F.to_date("o_orderdate").alias("o_orderdate"),
        ),
        apply_batch,
        base,
    )

    moments = spark.read.parquet(led_mom).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s1").cast("bigint").alias("s1"),
        F.sum("s2").cast("bigint").alias("s2"),
        F.sum("p11").cast("decimal(38,0)").alias("p11"),
        F.sum("p12").cast("decimal(38,0)").alias("p12"),
        F.sum("p22").cast("decimal(38,0)").alias("p22"),
    )
    return maha_report_from_parts(spark.read.parquet(led_dims), moments)


QUERIES["stream_mahalanobis_screen"] = QuerySpec(
    q_stream_mahalanobis_screen, Q_MAHA_ORACLE
)


# -- continuously-maintained Theil decomposition (r14) -------------------------------------
def q_stream_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous corpus-balance inequality monitoring: each micro-batch
    appends its per-source Theil facts (n, Σx, Σx·⌊ln x·1e6⌉ — the per-doc
    ln is an arrival decision, the x-weighted sum an exact DECIMAL fact), and
    T_g, the between terms, and every share re-derive at readout from the SUM
    fold. Shares the batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.relational_extra import (
        theil_facts,
        theil_report_from_facts,
    )

    base = workspace("stream_theil_")
    led = f"{base}/facts"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        theil_facts(batch_df).write.mode("append").parquet(led)

    run_twin(d.select("doc_id", "source", "n_chars"), apply_batch, base)

    facts = fold_ledger(spark.read.parquet(led), ["source"], ["n_g", "x_g", "l_g"])
    return theil_report_from_facts(facts)


QUERIES["stream_theil_decomposition"] = QuerySpec(
    q_stream_theil_decomposition, Q_THEIL_ORACLE
)
