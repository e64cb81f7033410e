"""Evaluation-audit & survey-design queries (r13-r14 wave), moved
VERBATIM out of sampling_queries.py (r15, VERDICT r14 #6 -- the
5.8k-line module split). AUC bootstrap/by-segment/CV/source-ablation,
score PSI, lift/gains, conformal threshold, Neyman allocation, rank
tau, drift screen, PPS systematic + Horvitz-Thompson, Spearman matrix,
Mahalanobis screen, and isotonic calibration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from movie_genre_data_pipeline_spark.session import materialize
from movie_genre_data_pipeline_spark.suite import QuerySpec, load
from movie_genre_data_pipeline_spark.suite.text_queries import _TOKS
from movie_genre_data_pipeline_spark.suite.sampling_queries import (  # noqa: E501
    DSIR_BUCKETS,
    _dsir_w_ctes,
)
from movie_genre_data_pipeline_spark.suite.sampling_eval_queries import (  # noqa: E501
    BOOT_B,
    LEAKAGE_FEATURES,
    _AUC_MICRO,
    _BOOT_K,
    _CAL_OBS_RATE,
    _IV_MICRO,
    _SHARE_MICRO,
    _WOE_MICRO,
    _logreg_scored,
    _logreg_scored_ctes,
    auc_report_from_labeled,
    woe_iv_report_from_cells,
)

QUERIES: dict[str, QuerySpec] = {}

# -- uncertainty on the evaluation itself: bootstrap CI of the AUC (r13) ------------------
# An AUC without an error bar is how selector "improvements" ship on noise:
# at realistic positive-class sizes the Mann-Whitney statistic's sampling
# spread easily exceeds the deltas teams act on. This composes the two r12
# families — each document enters replicate r with the deterministic
# Poisson(1) weight k(doc_id, ':aucboot:', r) (one scan fans out ×B
# map-side, Chamandy et al.), and each replicate's WEIGHTED AUC runs through
# the same grouped Mann-Whitney identity with k-weighted class counts. The
# per-replicate prefix sum stays RANGE-PARTITIONED at corpus scale: ONE
# global exclusive prefix over (r, s) order, then each replicate subtracts
# its base (the sum of all earlier replicates' negatives — a B-row table,
# broadcast) to recover its own exclusive prefix; U2 folds in DECIMAL(38,0)
# per replicate and the CI is order statistics over the B sorted replicate
# AUCs (ranks 2 and B−1 — the ~94% band, the bootstrap family's shared
# convention). The point estimate is the plain unweighted AUC in the same
# row. Scale shape: ×B fan-out map-side, one (r, s)-keyed aggregate, one
# ranged prefix sum, B-row readout.
def partitioned_mann_whitney_sums(groups: DataFrame, part_col: str) -> DataFrame:
    """Per-partition Mann-Whitney folds over a (part, s, c_pos, c_neg)
    grouped-score table: (part, n_pos, n_neg, n_scores, u2), with EVERY
    partition's exclusive negative-prefix recovered from ONE global
    range-partitioned prefix sum over (part, s) order minus broadcast
    per-partition bases — |parts| replicate/segment slices never become
    |parts| single-task windows, and the base offsets are a |parts|-row
    window over a non-foldable-constant partition spec (the
    ranged_running_sum offset discipline). Shared by the bootstrap
    replicates (part = r) and the by-segment evaluation (part = source)."""
    from pyspark.sql import Window

    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_running_sum,
    )

    cum = ranged_running_sum(
        groups, [F.col(part_col), F.col("s")], F.col("c_neg"), "g_neg_below"
    )
    part_tot = groups.groupBy(part_col).agg(
        F.sum("c_neg").cast("bigint").alias("part_neg")
    )
    base_w = (
        Window.partitionBy(
            F.expr(f"substring(CAST({part_col} AS STRING), 1, 0)")
        )
        .orderBy(part_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = part_tot.select(
        part_col,
        F.coalesce(F.sum("part_neg").over(base_w), F.lit(0))
        .cast("bigint")
        .alias("neg_base"),
    )
    return (
        cum.join(F.broadcast(bases), part_col)
        .withColumn("cum_neg_below", F.col("g_neg_below") - F.col("neg_base"))
        .groupBy(part_col)
        .agg(
            F.sum("c_pos").cast("bigint").alias("n_pos"),
            F.sum("c_neg").cast("bigint").alias("n_neg"),
            F.count(F.lit(1)).cast("bigint").alias("n_scores"),
            F.expr(
                "SUM(CAST(c_pos AS DECIMAL(38,0))"
                " * (2 * cum_neg_below + c_neg))"
            ).alias("u2"),
        )
    )


def auc_bootstrap_from_labeled(labeled: DataFrame) -> DataFrame:
    """The bootstrap-AUC tail over (doc_id, y, logw_micro) rows, however the
    scores were derived. `labeled` feeds the replicate fan-out AND the plain
    point-estimate pass, so it is barrier-pinned."""
    labeled = materialize(labeled)
    reps = (
        labeled.select(
            "doc_id",
            "y",
            F.col("logw_micro").alias("s"),
            F.explode(F.expr(f"sequence(0, {BOOT_B - 1})")).alias("r"),
        )
        .selectExpr(
            "r",
            "s",
            "y",
            "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),"
            " ':aucboot:', CAST(r AS STRING))), 1, 12), 16, 10) AS BIGINT)"
            " / CAST(281474976710656 AS DOUBLE) AS u",
        )
        .withColumn("k", F.expr(_BOOT_K))
    )
    groups = reps.groupBy("r", "s").agg(
        F.sum(F.when(F.col("y"), F.col("k")).otherwise(0))
        .cast("bigint")
        .alias("c_pos"),
        F.sum(F.when(F.col("y"), 0).otherwise(F.col("k")))
        .cast("bigint")
        .alias("c_neg"),
    )
    per_rep = partitioned_mann_whitney_sums(groups, "r")
    aucs = per_rep.selectExpr("r", f"{_AUC_MICRO} AS auc_r_micro")
    band = aucs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        F.sort_array(F.collect_list("auc_r_micro")).alias("ms"),
    ).selectExpr(
        "n_replicates",
        "element_at(ms, 2) AS ci_lo_micro",
        f"element_at(ms, {BOOT_B - 1}) AS ci_hi_micro",
    )
    point = auc_report_from_labeled(labeled.select("y", "logw_micro")).select(
        "n_pos", "n_neg", "auc_micro"
    )
    return point.crossJoin(F.broadcast(band)).select(
        "n_pos",
        "n_neg",
        "auc_micro",
        "n_replicates",
        "ci_lo_micro",
        "ci_hi_micro",
    )


def q_feat_auc_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.sampling import dsir_importance

    d = load(spark, sf_dir, "documents")
    w = dsir_importance(
        d, "doc_id", "text", (F.col("lang") == "en"), n_buckets=DSIR_BUCKETS
    )
    labeled = (
        d.select("doc_id", (F.col("lang") == "en").alias("y"))
        .join(w, "doc_id")
        .select("doc_id", "y", "logw_micro")
    )
    return auc_bootstrap_from_labeled(labeled)


def _auc_bootstrap_oracle() -> str:
    return f"""
WITH {_dsir_w_ctes()},
labeled AS (
  SELECT w.doc_id, w.logw_micro, d.lang = 'en' AS y
  FROM w JOIN documents d USING (doc_id)
),
reps AS (
  SELECT r, logw_micro AS s, y,
         CAST(concat('0x', substring(md5(doc_id || ':aucboot:' || r), 1, 12))
           AS BIGINT) / CAST(281474976710656 AS DOUBLE) AS u
  FROM labeled, UNNEST(generate_series(0, {BOOT_B - 1})) AS g(r)
),
weighted AS (SELECT r, s, y, {_BOOT_K} AS k FROM reps),
rgroups AS (
  SELECT r, s,
         CAST(SUM(CASE WHEN y THEN k ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(SUM(CASE WHEN y THEN 0 ELSE k END) AS BIGINT) AS c_neg
  FROM weighted GROUP BY 1, 2
),
rcum AS (
  SELECT r, s, c_pos, c_neg,
         CAST(COALESCE(SUM(c_neg) OVER (PARTITION BY r ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_neg_below
  FROM rgroups
),
per_rep AS (
  SELECT r,
         CAST(SUM(c_pos) AS BIGINT) AS n_pos,
         CAST(SUM(c_neg) AS BIGINT) AS n_neg,
         SUM(CAST(c_pos AS DECIMAL(38,0))
             * (2 * cum_neg_below + c_neg)) AS u2
  FROM rcum GROUP BY 1
),
aucs AS (SELECT r, {_AUC_MICRO} AS auc_r_micro FROM per_rep),
band AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
         list_sort(list(auc_r_micro)) AS ms
  FROM aucs
),
pgroups AS (
  SELECT logw_micro AS s,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
  FROM labeled GROUP BY 1
),
pcum AS (
  SELECT s, c_pos, c_neg,
         CAST(COALESCE(SUM(c_neg) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_neg_below
  FROM pgroups
),
point AS (
  SELECT CAST(SUM(c_pos) AS BIGINT) AS n_pos,
         CAST(SUM(c_neg) AS BIGINT) AS n_neg,
         SUM(CAST(c_pos AS DECIMAL(38,0))
             * (2 * cum_neg_below + c_neg)) AS u2
  FROM pcum
)
SELECT p.n_pos, p.n_neg, {_AUC_MICRO} AS auc_micro,
       b.n_replicates, b.ms[2] AS ci_lo_micro,
       b.ms[{BOOT_B - 1}] AS ci_hi_micro
FROM point p CROSS JOIN band b
"""


QUERIES["feat_auc_bootstrap_ci"] = QuerySpec(
    q_feat_auc_bootstrap_ci, _auc_bootstrap_oracle()
)


# -- selector evaluation: per-segment AUC (r13) -------------------------------------------
# The slicing every aggregate evaluation hides: a corpus-level AUC can be
# carried entirely by the head segment while the selector is blind on the
# tail — the "works on every source or just the web crawl?" check a curator
# runs before trusting a selector fleet-wide. One pass computes the exact
# Mann-Whitney AUC PER SOURCE: groups keyed by (source, score), then the
# shared partitioned fold (partitioned_mann_whitney_sums — one global ranged
# prefix + broadcast per-source bases, never |sources| single-task windows).
# Segments where the label is one-sided (n_pos or n_neg = 0) print 0 rather
# than NULL — the CASE both engines share.
def q_feat_auc_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.sampling import dsir_importance

    d = load(spark, sf_dir, "documents")
    w = dsir_importance(
        d, "doc_id", "text", (F.col("lang") == "en"), n_buckets=DSIR_BUCKETS
    )
    labeled = (
        d.select("doc_id", "source", (F.col("lang") == "en").alias("y"))
        .join(w, "doc_id")
        .select("source", "y", "logw_micro")
    )
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


def _auc_by_segment_oracle() -> str:
    return f"""
WITH {_dsir_w_ctes()},
labeled AS (
  SELECT w.source, w.logw_micro, d.lang = 'en' AS y
  FROM w JOIN documents d USING (doc_id)
),
groups AS (
  SELECT source, logw_micro AS s,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
  FROM labeled GROUP BY 1, 2
),
cum AS (
  SELECT source, s, c_pos, c_neg,
         CAST(COALESCE(SUM(c_neg) OVER (PARTITION BY source ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_neg_below
  FROM groups
),
sums AS (
  SELECT source,
         CAST(SUM(c_pos) AS BIGINT) AS n_pos,
         CAST(SUM(c_neg) AS BIGINT) AS n_neg,
         CAST(COUNT(*) AS BIGINT) AS n_scores,
         SUM(CAST(c_pos AS DECIMAL(38,0))
             * (2 * cum_neg_below + c_neg)) AS u2
  FROM cum GROUP BY 1
)
SELECT source, n_pos, n_neg, n_scores, {_AUC_MICRO} AS auc_micro,
       {_AUC_MICRO} * 2 - 1000000 AS gini_micro
FROM sums
"""


QUERIES["feat_auc_by_segment"] = QuerySpec(
    q_feat_auc_by_segment, _auc_by_segment_oracle()
)


# -- selector evaluation: leakage-free cross-validated AUC (r13) --------------------------
# Every AUC above scores documents under a model that SAW them — the
# resubstitution optimism every ML practitioner is taught to distrust. This
# is the leakage-free form: 5-fold leave-one-fold-out DSIR evaluation where
# each document is scored under the bucket model built from the OTHER four
# folds, at the cost of ZERO extra corpus scans — additivity again: the
# per-(fold, bucket) cell counts are one grouped scan, and fold f's
# training model is the GLOBAL model minus fold f's own cells (a 5×256-row
# subtraction, not a refit). Each fold's complement log-ratio table
# broadcasts into the postings, each doc scores under its own fold's
# complement model, and the per-fold exact Mann-Whitney runs through the
# shared partitioned fold. A cv AUC materially below the resubstitution AUC
# is the overfit signal this query exists to print. Scale shape: the same
# two corpus-sized steps as plain DSIR (term explode, doc-keyed score
# fold); everything fold-related is ≤ 5×buckets rows.
CV_FOLDS = 5
_CV_FOLD_SPARK = (
    "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':cvfold')),"
    " 1, 12), 16, 10) AS BIGINT) % " + str(CV_FOLDS)
)
_CV_FOLD_DUCK = (
    "CAST(concat('0x', substring(md5(doc_id || ':cvfold'), 1, 12))"
    " AS BIGINT) % " + str(CV_FOLDS)
)


def auc_cv_from_parts(
    docs: DataFrame, cells: DataFrame, tf: DataFrame
) -> DataFrame:
    """The leave-one-fold-out AUC tail over the three additive parts —
    docs (doc_id, fold, y), per-fold bucket cells (fold, bucket, raw_c,
    tgt_c), postings (doc_id, bucket, tf) — however accumulated (one batch
    scan or SUM-folded ledgers). Fold models are complement subtractions of
    the global model; `cells` feeds the global fold AND the left side of
    the complement join, so it is barrier-pinned."""
    b = DSIR_BUCKETS
    cells = materialize(cells)
    glob = cells.groupBy("bucket").agg(
        F.sum("raw_c").cast("bigint").alias("raw_tot"),
        F.sum("tgt_c").cast("bigint").alias("tgt_tot"),
    )
    comp = materialize(
        glob.selectExpr(
            "bucket",
            "raw_tot",
            "tgt_tot",
            f"explode(sequence(0, {CV_FOLDS - 1})) AS fold",
        )
        .join(cells, ["fold", "bucket"], "left")
        .selectExpr(
            "fold",
            "bucket",
            "raw_tot - coalesce(raw_c, 0) AS raw_c",
            "tgt_tot - coalesce(tgt_c, 0) AS tgt_c",
        )
    )
    ftot = comp.groupBy("fold").agg(
        F.sum("raw_c").cast("bigint").alias("t_raw"),
        F.sum("tgt_c").cast("bigint").alias("t_tgt"),
    )
    ratios = comp.join(F.broadcast(ftot), "fold").select(
        "fold",
        "bucket",
        F.round(
            (
                F.log(
                    (F.col("tgt_c") + F.lit(1.0))
                    / (F.col("t_tgt") + F.lit(float(b)))
                )
                - F.log(
                    (F.col("raw_c") + F.lit(1.0))
                    / (F.col("t_raw") + F.lit(float(b)))
                )
            )
            * F.lit(1e6),
            0,
        )
        .cast("bigint")
        .alias("lr_micro"),
    )
    scored = (
        tf.selectExpr("doc_id", "bucket", "tf", f"{_CV_FOLD_SPARK} AS fold")
        .join(F.broadcast(ratios), ["fold", "bucket"])
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("lr_micro")).cast("bigint").alias("logw_micro")
        )
    )
    labeled = docs.join(scored, "doc_id", "left").select(
        "fold",
        "y",
        F.coalesce("logw_micro", F.lit(0)).cast("bigint").alias("logw_micro"),
    )
    groups = labeled.groupBy("fold", F.col("logw_micro").alias("s")).agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("bigint").alias("c_pos"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).cast("bigint").alias("c_neg"),
    )
    sums = partitioned_mann_whitney_sums(groups, "fold")
    return sums.selectExpr(
        "CAST(fold AS BIGINT) AS fold",
        "n_pos",
        "n_neg",
        "n_scores",
        f"{_AUC_MICRO} AS auc_micro",
    )


def q_feat_auc_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.sampling import (
        dsir_postings,
        dsir_term_buckets,
    )

    d = load(spark, sf_dir, "documents")
    docs = d.selectExpr(
        "doc_id", "lang = 'en' AS y", f"{_CV_FOLD_SPARK} AS fold"
    )
    terms = dsir_term_buckets(
        d, "doc_id", "text", (F.col("lang") == "en"), DSIR_BUCKETS
    ).selectExpr("doc_id", "__tgt", "bucket", f"{_CV_FOLD_SPARK} AS fold")
    cells = terms.groupBy("fold", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("raw_c"),
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0))
        .cast("bigint")
        .alias("tgt_c"),
    )
    tf = dsir_postings(terms)
    return auc_cv_from_parts(docs, cells, tf)


def _auc_cv_oracle() -> str:
    b = DSIR_BUCKETS
    return f"""
WITH docs AS (
  SELECT doc_id, lang = 'en' AS y, {_CV_FOLD_DUCK} AS fold, {_TOKS} AS toks
  FROM documents
),
terms AS (
  SELECT doc_id, y, fold,
         CAST(concat('0x', substring(md5(t.term), 1, 12)) AS BIGINT) % {b}
           AS bucket
  FROM docs, unnest(toks) AS t(term)
),
cells AS (
  SELECT fold, bucket,
         CAST(COUNT(*) AS BIGINT) AS raw_c,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS tgt_c
  FROM terms GROUP BY 1, 2
),
gcells AS (
  SELECT bucket, CAST(SUM(raw_c) AS BIGINT) AS raw_tot,
         CAST(SUM(tgt_c) AS BIGINT) AS tgt_tot
  FROM cells GROUP BY 1
),
allf AS (
  SELECT g.bucket, g.raw_tot, g.tgt_tot, f.fold
  FROM gcells g, UNNEST(generate_series(0, {CV_FOLDS - 1})) AS f(fold)
),
comp AS (
  SELECT a.fold, a.bucket,
         a.raw_tot - COALESCE(c.raw_c, 0) AS raw_c,
         a.tgt_tot - COALESCE(c.tgt_c, 0) AS tgt_c
  FROM allf a LEFT JOIN cells c ON c.fold = a.fold AND c.bucket = a.bucket
),
ftot AS (
  SELECT fold, CAST(SUM(raw_c) AS BIGINT) AS t_raw,
         CAST(SUM(tgt_c) AS BIGINT) AS t_tgt
  FROM comp GROUP BY 1
),
ratios AS (
  SELECT comp.fold, bucket,
         CAST(ROUND((LN((tgt_c + 1.0) / (t_tgt + CAST({b} AS DOUBLE)))
                   - LN((raw_c + 1.0) / (t_raw + CAST({b} AS DOUBLE))))
                    * 1000000.0, 0) AS BIGINT) AS lr_micro
  FROM comp JOIN ftot USING (fold)
),
tf AS (SELECT doc_id, bucket, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
tff AS (SELECT doc_id, {_CV_FOLD_DUCK} AS fold, bucket, tf FROM tf),
scored AS (
  SELECT t.doc_id, CAST(SUM(t.tf * r.lr_micro) AS BIGINT) AS logw_micro
  FROM tff t JOIN ratios r ON r.fold = t.fold AND r.bucket = t.bucket
  GROUP BY 1
),
labeled AS (
  SELECT d.fold, d.y, COALESCE(s.logw_micro, 0) AS logw_micro
  FROM docs d LEFT JOIN scored s USING (doc_id)
),
groups AS (
  SELECT fold, logw_micro AS s,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
  FROM labeled GROUP BY 1, 2
),
cum AS (
  SELECT fold, s, c_pos, c_neg,
         CAST(COALESCE(SUM(c_neg) OVER (PARTITION BY fold ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_neg_below
  FROM groups
),
sums AS (
  SELECT fold,
         CAST(SUM(c_pos) AS BIGINT) AS n_pos,
         CAST(SUM(c_neg) AS BIGINT) AS n_neg,
         CAST(COUNT(*) AS BIGINT) AS n_scores,
         SUM(CAST(c_pos AS DECIMAL(38,0))
             * (2 * cum_neg_below + c_neg)) AS u2
  FROM cum GROUP BY 1
)
SELECT CAST(fold AS BIGINT) AS fold, n_pos, n_neg, n_scores,
       {_AUC_MICRO} AS auc_micro
FROM sums
"""


QUERIES["feat_auc_cv"] = QuerySpec(q_feat_auc_cv, _auc_cv_oracle())


# -- selector monitoring: population stability index (r13) --------------------------------
# The monitoring metric the scorecard world runs NIGHTLY: PSI between the
# score distribution a model was calibrated on and the one it serves today
# (< 0.1 stable, 0.1-0.25 watch, > 0.25 recalibrate — the standard triage
# bands). PSI IS the IV machinery applied between two SNAPSHOTS instead of
# two classes — Σ (cur_share − ref_share)·ln(cur/ref) over score deciles —
# so the cell tail here is literally woe_iv_report_from_cells reused with
# (ref, cur) in the (neg, pos) seats: the same Laplace-smoothed exact
# integer ratios, micro-quantized shares, and order-free integer IV fold.
# Snapshots on the bounded fixture are the deterministic doc_id-parity
# halves (production: two corpus snapshots); bin edges are the REFERENCE
# half's score deciles — ranked by the range-partitioned ntile
# (operators/ranking, the SQL-standard remainder rule both engines share),
# then BOTH halves re-bin by the same pure `count of edges strictly below`
# function of the score, so binning is deterministic even at ties. Scale
# shape: scoring is the plain DSIR pipeline; the decile rank is a ranged
# ntile over the ref half; binning is a broadcast 9-row edge join; the
# readout is a 10-cell WoE fold.
PSI_BINS = 10


def score_psi_from_scored(scored: DataFrame) -> DataFrame:
    """The PSI tail over (doc_id, s, is_ref) rows, however scored. `scored`
    feeds the ranked-edges pass AND the binning pass, so it is
    barrier-pinned."""
    from movie_genre_data_pipeline_spark.operators.ranking import ranged_ntile

    scored = materialize(scored)
    ranked = ranged_ntile(
        scored.filter(F.col("is_ref")),
        [F.col("s"), F.col("doc_id")],
        PSI_BINS,
        "tile",
    )
    edges = (
        ranked.filter(F.col("tile") <= PSI_BINS - 1)
        .groupBy("tile")
        .agg(F.max("s").alias("e"))
        .select("e")
    )
    binned = (
        scored.crossJoin(F.broadcast(edges))
        .groupBy("doc_id", "is_ref")
        .agg(
            F.sum(F.when(F.col("s") > F.col("e"), 1).otherwise(0))
            .cast("bigint")
            .alias("bin")
        )
    )
    cells = (
        binned.groupBy(F.col("bin").cast("string").alias("x"))
        .agg(
            F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos"),
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_neg"),
        )
        .select(F.lit("dsir_score").alias("feature"), "x", "n_pos", "n_neg")
    )
    return woe_iv_report_from_cells(cells).selectExpr(
        "feature",
        "n_bins",
        "n_pos AS n_cur",
        "n_neg AS n_ref",
        "iv_micro AS psi_micro",
        "woe_min_micro AS lnratio_min_micro",
        "woe_max_micro AS lnratio_max_micro",
    )


def q_feat_score_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.sampling import dsir_importance

    d = load(spark, sf_dir, "documents")
    w = dsir_importance(
        d, "doc_id", "text", (F.col("lang") == "en"), n_buckets=DSIR_BUCKETS
    )
    scored = w.select(
        "doc_id",
        F.col("logw_micro").alias("s"),
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
    )
    return score_psi_from_scored(scored)


def _score_psi_oracle() -> str:
    return f"""
WITH {_dsir_w_ctes()},
pscored AS (
  SELECT doc_id, logw_micro AS s, doc_id % 2 = 0 AS is_ref FROM w
),
ranked AS (
  SELECT doc_id, s,
         NTILE({PSI_BINS}) OVER (ORDER BY s, doc_id) AS tile
  FROM pscored WHERE is_ref
),
edges AS (
  SELECT tile, MAX(s) AS e FROM ranked WHERE tile <= {PSI_BINS - 1}
  GROUP BY 1
),
binned AS (
  SELECT sc.doc_id, sc.is_ref,
         CAST(SUM(CASE WHEN sc.s > ed.e THEN 1 ELSE 0 END) AS BIGINT) AS bin
  FROM pscored sc CROSS JOIN edges ed
  GROUP BY 1, 2
),
cells AS (
  SELECT 'dsir_score' AS feature, CAST(bin AS VARCHAR) AS x,
         CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
  FROM binned GROUP BY 1, 2
),
tot AS (
  SELECT feature, CAST(COUNT(*) AS BIGINT) AS n_bins,
         CAST(SUM(n_pos) AS BIGINT) AS t_pos,
         CAST(SUM(n_neg) AS BIGINT) AS t_neg
  FROM cells GROUP BY 1
),
bins AS (
  SELECT feature, n_bins, t_pos, t_neg,
         {_WOE_MICRO} AS woe_micro,
         {_SHARE_MICRO.format(n="n_pos", t="t_pos")} AS pos_share_micro,
         {_SHARE_MICRO.format(n="n_neg", t="t_neg")} AS neg_share_micro
  FROM cells JOIN tot USING (feature)
),
folded AS (
  SELECT feature, MAX(n_bins) AS n_bins, MAX(t_pos) AS n_pos,
         MAX(t_neg) AS n_neg,
         SUM((pos_share_micro - neg_share_micro) * woe_micro) AS iv_sum,
         MIN(woe_micro) AS woe_min_micro,
         MAX(woe_micro) AS woe_max_micro
  FROM bins GROUP BY feature
)
SELECT feature, n_bins, n_pos AS n_cur, n_neg AS n_ref,
       {_IV_MICRO} AS psi_micro,
       woe_min_micro AS lnratio_min_micro,
       woe_max_micro AS lnratio_max_micro
FROM folded
"""


QUERIES["feat_score_psi"] = QuerySpec(q_feat_score_psi, _score_psi_oracle())


# -- selector evaluation: decile lift / cumulative gains (r13) ----------------------------
# The table a curation review actually reads: rank the corpus by the DSIR
# selector's score, cut it into ten deciles, and for each top-k prefix report
# how much of the target class it captures (cumulative gain = recall@decile)
# and how much better than random that is (lift = precision@decile over
# prevalence). AUC/PR-AUC price the whole curve; the gains table prices the
# operating points a budgeted curator can actually choose ("take the top 20%").
# Determinism at ties: deciles come from the range-partitioned ntile over
# (score DESC, doc_id) — the SQL-standard remainder bucketing both engines
# share, with doc_id as the total-order tiebreak, so equal scores land
# identically in both engines. Exactness: per-decile counts are exact BIGINTs;
# cumulative counts are a ranged exclusive prefix sum over the 10-row decile
# table; gain/lift each quantize ONCE via DECIMAL(38,0) numerators cast to
# DOUBLE for a single divide + the FLOOR(x+0.5) spell. Scale shape: scoring is
# the plain DSIR pipeline, the decile rank is a ranged ntile
# (operators/ranking — no single-task window at any row count), the decile
# table is 10 rows, totals broadcast.
GAINS_TILES = 10

_GAIN_MICRO = (
    "CASE WHEN t_pos > 0 THEN"
    " CAST(FLOOR(CAST(CAST(cum_pos AS DECIMAL(38,0))"
    " * 1000000 AS DOUBLE) / CAST(t_pos AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_LIFT_MICRO = (
    "CASE WHEN t_pos > 0 AND cum_rows > 0 THEN"
    " CAST(FLOOR(CAST(CAST(cum_pos AS DECIMAL(38,0))"
    " * t_rows * 1000000 AS DOUBLE)"
    " / (CAST(cum_rows AS DOUBLE) * CAST(t_pos AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)


def lift_gains_from_labeled(labeled: DataFrame) -> DataFrame:
    """The gains-table tail over (doc_id, y BOOLEAN, s) rows, however the
    scores were derived — shared by the batch query and the streaming ledger
    twin. Ranged ntile -> 10-row decile cells -> ranged prefix sums ->
    broadcast totals."""
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_ntile,
        ranged_running_sum,
    )

    tiled = ranged_ntile(
        labeled,
        [F.col("s").desc(), F.col("doc_id")],
        GAINS_TILES,
        "tile",
    )
    cells = tiled.groupBy(F.col("tile").cast("bigint").alias("tile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("bigint").alias("n_pos"),
    )
    cum = ranged_running_sum(
        ranged_running_sum(cells, ["tile"], F.col("n_rows"), "rows_below"),
        ["tile"],
        F.col("n_pos"),
        "pos_below",
    ).selectExpr(
        "tile",
        "n_rows",
        "n_pos",
        "rows_below + n_rows AS cum_rows",
        "pos_below + n_pos AS cum_pos",
    )
    tot = cells.agg(
        F.sum("n_rows").cast("bigint").alias("t_rows"),
        F.sum("n_pos").cast("bigint").alias("t_pos"),
    )
    return cum.crossJoin(F.broadcast(tot)).selectExpr(
        "tile",
        "n_rows",
        "n_pos",
        "cum_rows",
        "cum_pos",
        f"{_GAIN_MICRO} AS gain_micro",
        f"{_LIFT_MICRO} AS lift_micro",
    )


def q_feat_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.sampling import dsir_importance

    d = load(spark, sf_dir, "documents")
    w = dsir_importance(
        d, "doc_id", "text", (F.col("lang") == "en"), n_buckets=DSIR_BUCKETS
    )
    labeled = (
        d.select("doc_id", (F.col("lang") == "en").alias("y"))
        .join(w, "doc_id")
        .select("doc_id", "y", F.col("logw_micro").alias("s"))
    )
    return lift_gains_from_labeled(labeled)


def _lift_gains_oracle() -> str:
    return f"""
WITH {_dsir_w_ctes()},
labeled AS (
  SELECT w.doc_id, w.logw_micro AS s, d.lang = 'en' AS y
  FROM w JOIN documents d USING (doc_id)
),
tiled AS (
  SELECT doc_id, s, y,
         NTILE({GAINS_TILES}) OVER (ORDER BY s DESC, doc_id) AS tile
  FROM labeled
),
cells AS (
  SELECT CAST(tile AS BIGINT) AS tile,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM tiled GROUP BY 1
),
cum AS (
  SELECT tile, n_rows, n_pos,
         CAST(COALESCE(SUM(n_rows) OVER (ORDER BY tile
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           + n_rows AS cum_rows,
         CAST(COALESCE(SUM(n_pos) OVER (ORDER BY tile
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           + n_pos AS cum_pos
  FROM cells
),
tot AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS t_rows,
         CAST(SUM(n_pos) AS BIGINT) AS t_pos
  FROM cells
)
SELECT tile, n_rows, n_pos, cum_rows, cum_pos,
       {_GAIN_MICRO} AS gain_micro,
       {_LIFT_MICRO} AS lift_micro
FROM cum CROSS JOIN tot
"""


QUERIES["feat_lift_gains"] = QuerySpec(q_feat_lift_gains, _lift_gains_oracle())


# -- split-conformal threshold + coverage audit (r13) -------------------------------------
# The distribution-free uncertainty wrapper the modern evaluation stack puts
# AROUND any classifier (Vovk et al.; Angelopoulos & Bates 2022): on a held
# calibration half, take the ⌈(n+1)(1−α)⌉-th smallest nonconformity score
# (here the absolute probability residual |1e6·y − mu|, an exact integer);
# on the disjoint test half, the share of rows whose score falls within that
# threshold is guaranteed ≥ 1−α in expectation under exchangeability — with
# NO assumption the sigmoid is calibrated. The query publishes the
# threshold, its rank, and the measured test coverage next to the 1−α
# target, so the guarantee is an oracle-checked row, not a claim.
# Determinism: the split is orderkey parity; the order statistic is picked
# under the (score, k) total order so both engines name the same row; the
# rank ⌈0.9·(n+1)⌉ is exact integer arithmetic through the shared
# FLOOR((9(n+1)+9)/10) spell. Scale shape: the IRLS fit + one scoring scan;
# the calibration rank runs through the range-partitioned row number (no
# single-task window at any calibration size); coverage is one conditional
# fold; readout one row.
CONFORMAL_ALPHA_PCT = 10  # α = 0.10 → 90% target coverage

_CONF_Q_RANK = (
    "CAST(FLOOR((CAST(9 * (n_cal + 1) AS DOUBLE) + CAST(9 AS DOUBLE))"
    " / CAST(10 AS DOUBLE)) AS BIGINT)"
)
_CONF_COVERAGE_MICRO = (
    "CASE WHEN n_test > 0 THEN"
    " CAST(FLOOR(CAST(n_covered AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(n_test AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)


def q_feat_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_row_number,
    )

    scored = materialize(
        _logreg_scored(spark, sf_dir)
        .selectExpr(
            "k",
            "ABS(1000000 * y - mu_micro) AS r",
            "k % 2 = 0 AS is_cal",
        )
    )
    cal = scored.filter(F.col("is_cal"))
    n_cal = cal.agg(F.count(F.lit(1)).cast("bigint").alias("n_cal"))
    ranked = ranged_row_number(cal, [F.col("r"), F.col("k")], "rn")
    q = (
        ranked.crossJoin(F.broadcast(n_cal))
        .filter(F.expr(f"rn = {_CONF_Q_RANK}"))
        .selectExpr("n_cal", "rn AS q_rank", "r AS q_micro")
    )
    cov = (
        scored.filter(~F.col("is_cal"))
        .crossJoin(F.broadcast(q))
        .groupBy("n_cal", "q_rank", "q_micro")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(F.col("r") <= F.col("q_micro"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return cov.selectExpr(
        "n_cal",
        "n_test",
        "q_rank",
        "q_micro",
        "n_covered",
        f"{_CONF_COVERAGE_MICRO} AS coverage_micro",
        f"CAST({(100 - CONFORMAL_ALPHA_PCT) * 10_000} AS BIGINT)"
        " AS target_micro",
    )


def _conformal_oracle() -> str:
    tail = f""",
nonconf AS (
  SELECT k, ABS(1000000 * y - mu_micro) AS r, k % 2 = 0 AS is_cal
  FROM scored
),
ncal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM nonconf WHERE is_cal
),
ranked AS (
  SELECT r, CAST(ROW_NUMBER() OVER (ORDER BY r, k) AS BIGINT) AS rn
  FROM nonconf WHERE is_cal
),
q AS (
  SELECT n_cal, rn AS q_rank, r AS q_micro
  FROM ranked CROSS JOIN ncal
  WHERE rn = {_CONF_Q_RANK}
),
cov AS (
  SELECT n_cal, q_rank, q_micro,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN t.r <= q.q_micro THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered
  FROM nonconf t CROSS JOIN q
  WHERE NOT t.is_cal
  GROUP BY 1, 2, 3
)
SELECT n_cal, n_test, q_rank, q_micro, n_covered,
       {_CONF_COVERAGE_MICRO} AS coverage_micro,
       CAST({(100 - CONFORMAL_ALPHA_PCT) * 10_000} AS BIGINT) AS target_micro
FROM cov
"""
    return _logreg_scored_ctes() + tail


QUERIES["feat_conformal_threshold"] = QuerySpec(
    q_feat_conformal_threshold, _conformal_oracle()
)


# -- Neyman optimal stratified allocation (r13) -------------------------------------------
# The design question BEFORE any stratified sample is drawn: given a budget
# of n draws, how many should each stratum get? Proportional allocation
# wastes budget on homogeneous strata; Neyman (1934) allocation n_h ∝
# N_h·S_h is the variance-minimizing answer, and this query computes it
# EXACTLY: per-language doc counts and n_chars moments fold to exact
# integers, S_h quantizes once (one shared sqrt expression over exact
# DECIMAL(38,0) moments + the FLOOR(x+0.5) spell), the weight w_h = N_h·S_h
# stays a BIGINT, and the integer apportionment uses the largest-remainder
# (Hamilton) method — base_h = (n·w_h) DIV Σw and one extra seat to the L
# largest remainders under the (remainder DESC, lang) total order — so the
# allocations are integers that sum to the budget EXACTLY (a law test, not
# a rounding hope). All quantities are positive, so Spark's DIV and the
# oracle's // agree (the sign caveat that bit the hourly bucketing can't
# arise). Scale shape: one fact scan collapses map-side to |languages|
# moment rows; the remainder rank runs through the range-partitioned row
# number; everything downstream is broadcast-sized.
NEYMAN_BUDGET = 1000

_NEYMAN_STD_MICRO = (
    "CASE WHEN n_docs > 1 THEN"
    " CAST(FLOOR(sqrt((CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " / (CAST(n_docs AS DOUBLE) * CAST(n_docs - 1 AS DOUBLE)))"
    " * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)


def neyman_from_moments(facts: DataFrame) -> DataFrame:
    """The allocation tail over ADDITIVE per-stratum moment facts
    (lang, n_docs, sx, sxx), however accumulated — shared by the batch query
    and the streaming ledger twin."""
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_row_number,
    )

    strata = materialize(
        facts.selectExpr(
            "lang",
            "n_docs",
            f"{_NEYMAN_STD_MICRO} AS std_micro",
        ).selectExpr(
            "lang", "n_docs", "std_micro", "n_docs * std_micro AS w_micro"
        )
    )
    tot = strata.agg(F.sum("w_micro").cast("bigint").alias("tw"))
    based = materialize(
        strata.crossJoin(F.broadcast(tot))
        .selectExpr(
            "lang",
            "n_docs",
            "std_micro",
            "w_micro",
            "CASE WHEN tw > 0 THEN"
            f" ({NEYMAN_BUDGET} * w_micro) DIV tw"
            " ELSE CAST(0 AS BIGINT) END AS base_n",
            "CASE WHEN tw > 0 THEN"
            f" ({NEYMAN_BUDGET} * w_micro) % tw"
            " ELSE CAST(0 AS BIGINT) END AS rem",
        )
    )
    left = based.agg(
        (F.lit(NEYMAN_BUDGET) - F.sum("base_n")).cast("bigint").alias("l_seats"),
        F.sum("w_micro").cast("bigint").alias("tw_check"),
    )
    ranked = ranged_row_number(
        based, [F.col("rem").desc(), F.col("lang")], "rr"
    )
    return (
        ranked.crossJoin(F.broadcast(left))
        .selectExpr(
            "lang",
            "n_docs",
            "std_micro",
            "w_micro",
            "CAST(base_n + CASE WHEN tw_check > 0 AND rr <= l_seats"
            " THEN 1 ELSE 0 END AS BIGINT) AS alloc",
        )
    )


def q_sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    facts = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("decimal(38,0)").alias("sx"),
        F.expr("SUM(CAST(n_chars AS DECIMAL(38,0)) * n_chars)").alias("sxx"),
    )
    return neyman_from_moments(facts)


Q_NEYMAN_ORACLE = f"""
WITH facts AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS DECIMAL(38,0)) AS sx,
         SUM(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS sxx
  FROM documents GROUP BY 1
),
strata AS (
  SELECT lang, n_docs, std_micro, n_docs * std_micro AS w_micro
  FROM (SELECT lang, n_docs, {_NEYMAN_STD_MICRO} AS std_micro FROM facts)
),
tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tw FROM strata),
based AS (
  SELECT lang, n_docs, std_micro, w_micro,
         CASE WHEN tw > 0 THEN ({NEYMAN_BUDGET} * w_micro) // tw
              ELSE CAST(0 AS BIGINT) END AS base_n,
         CASE WHEN tw > 0 THEN ({NEYMAN_BUDGET} * w_micro) % tw
              ELSE CAST(0 AS BIGINT) END AS rem
  FROM strata CROSS JOIN tot
),
leftover AS (
  SELECT CAST({NEYMAN_BUDGET} - SUM(base_n) AS BIGINT) AS l_seats,
         CAST(SUM(w_micro) AS BIGINT) AS tw_check
  FROM based
),
ranked AS (
  SELECT b.*,
         CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS BIGINT) AS rr
  FROM based b
)
SELECT lang, n_docs, std_micro, w_micro,
       CAST(base_n + CASE WHEN tw_check > 0 AND rr <= l_seats
            THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM ranked CROSS JOIN leftover
"""


QUERIES["sample_neyman_allocation"] = QuerySpec(
    q_sample_neyman_allocation, Q_NEYMAN_ORACLE
)


# -- selector agreement: Kendall tau-b on the decile grid (r13) ----------------------------
# Do the corpus's two quality signals — the DSIR target-domain selector and
# the heuristic quality score — RANK documents the same way? Pearson on raw
# scores answers a different (linearity) question; the curator's question is
# ordinal, and Kendall's tau-b is its standard answer. Exact at scale by the
# GRID identity: each doc lands in a (selector-decile, quality-decile) cell
# via two range-partitioned ntiles (the SQL-standard remainder rule, doc_id
# tiebreak), and tau-b of the binned rankings is a pure function of the
# ≤100-cell contingency table — concordant/discordant pair mass folds over
# cell PAIRS (≤ C(100,2), grain-bounded forever — never the C(n,2) doc-pair
# explosion a naive tau needs), ties come from the marginals, and every
# count is an exact DECIMAL(38,0) (pair masses are O(n²), past BIGINT at
# ~4.3e9 docs). tau_b = (C − D)/sqrt((n0 − T_x)(n0 − T_y)) resolves in one
# shared double expression + the signed FLOOR(x+0.5) spell. Scale shape:
# one DSIR scoring pass + one quality pass, two ranged ntiles, a 100-cell
# aggregate, a ≤4950-row broadcast cell self-join, 1-row readout.
RANK_TAU_TILES = 10

_TAU_B_MICRO = (
    "CASE WHEN (n0 - tx) > 0 AND (n0 - ty) > 0 THEN"
    " CAST(FLOOR(CAST(conc - disc AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)


def rank_tau_from_scores(scored: DataFrame) -> DataFrame:
    """The tau-b tail over (doc_id, s1, s2) rows, however the two scores were
    derived. Two ranged ntiles -> cell table -> cell-pair fold."""
    from movie_genre_data_pipeline_spark.operators.ranking import ranged_ntile

    t = ranged_ntile(
        ranged_ntile(
            scored, [F.col("s1"), F.col("doc_id")], RANK_TAU_TILES, "bx"
        ),
        [F.col("s2"), F.col("doc_id")],
        RANK_TAU_TILES,
        "by",
    )
    cells = materialize(
        t.groupBy(
            F.col("bx").cast("bigint").alias("bx"),
            F.col("by").cast("bigint").alias("by"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    )
    a = cells.selectExpr("bx AS x1", "by AS y1", "n_xy AS n1")
    b = cells.selectExpr("bx AS x2", "by AS y2", "n_xy AS n2")
    cd = (
        a.join(F.broadcast(b), F.col("x2") > F.col("x1"))
        .selectExpr(
            "CASE WHEN y2 > y1 THEN CAST(n1 AS DECIMAL(38,0)) * n2"
            " ELSE CAST(0 AS DECIMAL(38,0)) END AS c_term",
            "CASE WHEN y2 < y1 THEN CAST(n1 AS DECIMAL(38,0)) * n2"
            " ELSE CAST(0 AS DECIMAL(38,0)) END AS d_term",
        )
        .agg(
            F.sum("c_term").alias("conc"),
            F.sum("d_term").alias("disc"),
        )
    )
    tx = (
        cells.groupBy("bx")
        .agg(F.sum("n_xy").cast("bigint").alias("n_x"))
        .agg(
            F.expr(
                "SUM(CAST(n_x AS DECIMAL(38,0)) * (n_x - 1) / 2)"
            ).cast("decimal(38,0)").alias("tx")
        )
    )
    ty = (
        cells.groupBy("by")
        .agg(F.sum("n_xy").cast("bigint").alias("n_y"))
        .agg(
            F.expr(
                "SUM(CAST(n_y AS DECIMAL(38,0)) * (n_y - 1) / 2)"
            ).cast("decimal(38,0)").alias("ty")
        )
    )
    tot = cells.agg(
        F.sum("n_xy").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    ).selectExpr(
        "n_docs",
        "n_cells",
        "CAST(CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) / 2"
        " AS DECIMAL(38,0)) AS n0",
    )
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        _ACF_R_MICRO,
    )

    rho = cells.agg(
        F.sum("n_xy").cast("bigint").alias("n"),
        F.expr("SUM(CAST(n_xy AS DECIMAL(38,0)) * bx)").alias("sx"),
        F.expr("SUM(CAST(n_xy AS DECIMAL(38,0)) * by)").alias("sy"),
        F.expr("SUM(CAST(n_xy AS DECIMAL(38,0)) * bx * by)").alias("sxy"),
        F.expr("SUM(CAST(n_xy AS DECIMAL(38,0)) * bx * bx)").alias("sxx"),
        F.expr("SUM(CAST(n_xy AS DECIMAL(38,0)) * by * by)").alias("syy"),
    ).selectExpr(f"{_ACF_R_MICRO} AS grid_rho_micro")
    return (
        cd.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(rho))
        .selectExpr(
            "n_docs",
            "n_cells",
            f"{_TAU_B_MICRO} AS tau_b_micro",
            "grid_rho_micro",
        )
    )


def q_feat_rank_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.sampling import dsir_importance
    from movie_genre_data_pipeline_spark.functions.text import quality_score

    d = load(spark, sf_dir, "documents")
    w = dsir_importance(
        d, "doc_id", "text", (F.col("lang") == "en"), n_buckets=DSIR_BUCKETS
    )
    scored = (
        d.select(
            "doc_id",
            F.round(quality_score("text") * F.lit(1000000.0))
            .cast("bigint")
            .alias("s2"),
        )
        .join(w, "doc_id")
        .select("doc_id", F.col("logw_micro").alias("s1"), "s2")
    )
    return rank_tau_from_scores(scored)


def _rank_tau_oracle() -> str:
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        Q_QUALITY_SCORES_ORACLE,
    )
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        _ACF_R_MICRO,
    )

    return f"""
WITH {_dsir_w_ctes()},
q AS ({Q_QUALITY_SCORES_ORACLE}),
joined AS (
  SELECT w.doc_id, w.logw_micro AS s1,
         CAST(ROUND(q.quality * 1000000.0) AS BIGINT) AS s2
  FROM w JOIN q ON q.doc_id = w.doc_id
),
tiled AS (
  SELECT doc_id,
         CAST(NTILE({RANK_TAU_TILES}) OVER (ORDER BY s1, doc_id) AS BIGINT)
           AS bx,
         CAST(NTILE({RANK_TAU_TILES}) OVER (ORDER BY s2, doc_id) AS BIGINT)
           AS by
  FROM joined
),
cells AS MATERIALIZED (
  SELECT bx, by, CAST(COUNT(*) AS BIGINT) AS n_xy FROM tiled GROUP BY 1, 2
),
cd AS (
  SELECT SUM(CASE WHEN b.by > a.by
             THEN CAST(a.n_xy AS DECIMAL(38,0)) * b.n_xy
             ELSE CAST(0 AS DECIMAL(38,0)) END) AS conc,
         SUM(CASE WHEN b.by < a.by
             THEN CAST(a.n_xy AS DECIMAL(38,0)) * b.n_xy
             ELSE CAST(0 AS DECIMAL(38,0)) END) AS disc
  FROM cells a JOIN cells b ON b.bx > a.bx
),
txc AS (
  SELECT CAST(SUM(CAST(n_x AS DECIMAL(38,0)) * (n_x - 1) / 2)
              AS DECIMAL(38,0)) AS tx
  FROM (SELECT CAST(SUM(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY bx)
),
tyc AS (
  SELECT CAST(SUM(CAST(n_y AS DECIMAL(38,0)) * (n_y - 1) / 2)
              AS DECIMAL(38,0)) AS ty
  FROM (SELECT CAST(SUM(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY by)
),
tot AS (
  SELECT n_docs, n_cells,
         CAST(CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) / 2
              AS DECIMAL(38,0)) AS n0
  FROM (SELECT CAST(SUM(n_xy) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_cells
        FROM cells)
),
rho AS (
  SELECT {_ACF_R_MICRO} AS grid_rho_micro
  FROM (
    SELECT CAST(SUM(n_xy) AS BIGINT) AS n,
           SUM(CAST(n_xy AS DECIMAL(38,0)) * bx) AS sx,
           SUM(CAST(n_xy AS DECIMAL(38,0)) * by) AS sy,
           SUM(CAST(n_xy AS DECIMAL(38,0)) * bx * by) AS sxy,
           SUM(CAST(n_xy AS DECIMAL(38,0)) * bx * bx) AS sxx,
           SUM(CAST(n_xy AS DECIMAL(38,0)) * by * by) AS syy
    FROM cells)
)
SELECT n_docs, n_cells, {_TAU_B_MICRO} AS tau_b_micro, grid_rho_micro
FROM cd CROSS JOIN txc CROSS JOIN tyc CROSS JOIN tot CROSS JOIN rho
"""


QUERIES["feat_rank_tau"] = QuerySpec(q_feat_rank_tau, _rank_tau_oracle())


# -- data valuation: leave-one-source-out AUC ablation (r13) -------------------------------
# The question a corpus buyer actually asks: WHICH SOURCE is earning its
# storage — if source s had never existed, how well would the selector
# separate the target domain on everything else? For each source, the
# bucket model retrains WITHOUT s at ZERO extra corpus scans (the CV
# trick: a source's model is the global cell table minus its own
# (source, bucket) cells — additivity makes retraining a ≤|sources|·B-row
# subtraction, never a re-scan), every surviving doc re-scores under that
# complement, and the exact Mann-Whitney AUC folds per ablation through
# the shared partitioned prefix (no per-source single-task window). The
# '__full__' sentinel row carries the un-ablated baseline so every
# delta_micro (baseline − ablated: positive means the source was HELPING
# separation) is derived in-query from oracle-checked numbers. Scale
# shape: the per-ablation doc fan-out is |sources|-bounded (a dimension,
# not data — production audits a shortlist of sources the same way);
# ratios broadcast at |sources|·B rows; one corpus-sized postings join.
ABLATION_FULL = "__full__"


# Leave-one-source-out is inherently |sources|+1 model evaluations: the
# scored/labeled frames below are |sources|+1 broadcast-replicated passes
# over the postings, so total work is LINEAR in |sources| (the k=4 scale
# probe measured ratio 1.56 with |sources| fixed — linear-in-docs as the
# law predicts, see SCALE.md). At 100 TB that is fine only while |sources|
# stays O(10): a corpus keyed by thousands of fine-grained sources would
# turn this into a scan storm. Gate it the way brute_force_top_k gates its
# quadratic path (functions/similarity.py): hard-error past the bound
# unless the caller explicitly opts in — the right scale fix is coarsening
# the source key (domain → registrar, crawl → snapshot family) BEFORE
# ablating, or switching to Shapley-style sampled ablations.
ABLATION_MAX_SOURCES = 32


def auc_source_ablation_from_parts(
    docs: DataFrame,
    cells: DataFrame,
    tf: DataFrame,
    max_sources: int = ABLATION_MAX_SOURCES,
    allow_many_sources: bool = False,
) -> DataFrame:
    """The ablation tail over three additive parts — docs (doc_id, y,
    source), per-source bucket cells (source, bucket, raw_c, tgt_c),
    postings (doc_id, bucket, tf) — however accumulated (one batch scan or
    SUM-folded ledgers).

    Cost law: LINEAR in |sources| (|sources|+1 complement-model passes over
    the postings). Raises past `max_sources` unless `allow_many_sources=True`
    — see ABLATION_MAX_SOURCES. The guard count runs on the CELLS table
    (|sources|×buckets rows, never the corpus), so it is metadata-cheap."""
    b = DSIR_BUCKETS
    cells = materialize(cells)
    docs = materialize(docs)
    if not allow_many_sources:
        n_src = cells.select("source").distinct().count()
        if n_src > max_sources:
            raise ValueError(
                f"auc_source_ablation is linear in |sources| ({n_src} sources "
                f"> {max_sources}: that is {n_src + 1} postings passes). "
                f"Coarsen the source key before ablating, or pass "
                f"allow_many_sources=True for an explicitly budgeted run."
            )
    abls = materialize(
        cells.select(F.col("source").alias("abl"))
        .distinct()
        .union(docs.sparkSession.createDataFrame([(ABLATION_FULL,)], "abl string"))
    )
    glob = cells.groupBy("bucket").agg(
        F.sum("raw_c").cast("bigint").alias("raw_tot"),
        F.sum("tgt_c").cast("bigint").alias("tgt_tot"),
    )
    comp = materialize(
        glob.crossJoin(F.broadcast(abls))
        .join(
            cells.selectExpr(
                "source AS abl", "bucket", "raw_c AS r0", "tgt_c AS t0"
            ),
            ["abl", "bucket"],
            "left",
        )
        .selectExpr(
            "abl",
            "bucket",
            "raw_tot - coalesce(r0, 0) AS raw_c",
            "tgt_tot - coalesce(t0, 0) AS tgt_c",
        )
    )
    ftot = comp.groupBy("abl").agg(
        F.sum("raw_c").cast("bigint").alias("t_raw"),
        F.sum("tgt_c").cast("bigint").alias("t_tgt"),
    )
    ratios = comp.join(F.broadcast(ftot), "abl").select(
        "abl",
        "bucket",
        F.round(
            (
                F.log(
                    (F.col("tgt_c") + F.lit(1.0))
                    / (F.col("t_tgt") + F.lit(float(b)))
                )
                - F.log(
                    (F.col("raw_c") + F.lit(1.0))
                    / (F.col("t_raw") + F.lit(float(b)))
                )
            )
            * F.lit(1e6),
            0,
        )
        .cast("bigint")
        .alias("lr_micro"),
    )
    scored = (
        tf.join(F.broadcast(ratios), "bucket")
        .groupBy("abl", "doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("lr_micro")).cast("bigint").alias("logw_micro")
        )
    )
    labeled = (
        docs.crossJoin(F.broadcast(abls))
        .filter(
            (F.col("source") != F.col("abl"))
            | (F.col("abl") == ABLATION_FULL)
        )
        .join(scored, ["abl", "doc_id"], "left")
        .select(
            "abl",
            "y",
            F.coalesce("logw_micro", F.lit(0)).cast("bigint").alias("logw_micro"),
        )
    )
    groups = labeled.groupBy("abl", F.col("logw_micro").alias("s")).agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("bigint").alias("c_pos"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).cast("bigint").alias("c_neg"),
    )
    sums = materialize(
        partitioned_mann_whitney_sums(groups, "abl").selectExpr(
            "abl",
            "n_pos",
            "n_neg",
            "n_scores",
            f"{_AUC_MICRO} AS auc_micro",
        )
    )
    base = sums.filter(F.col("abl") == ABLATION_FULL).selectExpr(
        "auc_micro AS base_auc_micro"
    )
    return sums.crossJoin(F.broadcast(base)).selectExpr(
        "abl AS ablated_source",
        "n_pos",
        "n_neg",
        "n_scores",
        "auc_micro",
        "base_auc_micro - auc_micro AS delta_micro",
    )


def q_feat_auc_source_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.sampling import (
        dsir_postings,
        dsir_term_buckets,
    )

    d = load(spark, sf_dir, "documents")
    docs = d.selectExpr("doc_id", "lang = 'en' AS y", "source")
    terms = dsir_term_buckets(
        d, "doc_id", "text", (F.col("lang") == "en"), DSIR_BUCKETS
    ).join(d.select("doc_id", "source"), "doc_id")
    cells = terms.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("raw_c"),
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0))
        .cast("bigint")
        .alias("tgt_c"),
    )
    tf = dsir_postings(terms.select("doc_id", "__tgt", "bucket"))
    return auc_source_ablation_from_parts(docs, cells, tf)


def _source_ablation_oracle() -> str:
    b = DSIR_BUCKETS
    return f"""
WITH docs AS (
  SELECT doc_id, lang = 'en' AS y, source, {_TOKS} AS toks
  FROM documents
),
terms AS (
  SELECT doc_id, y, source,
         CAST(concat('0x', substring(md5(t.term), 1, 12)) AS BIGINT) % {b}
           AS bucket
  FROM docs, unnest(toks) AS t(term)
),
cells AS MATERIALIZED (
  SELECT source, bucket,
         CAST(COUNT(*) AS BIGINT) AS raw_c,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS tgt_c
  FROM terms GROUP BY 1, 2
),
abls AS (
  SELECT DISTINCT source AS abl FROM cells
  UNION ALL SELECT '{ABLATION_FULL}'
),
gcells AS (
  SELECT bucket, CAST(SUM(raw_c) AS BIGINT) AS raw_tot,
         CAST(SUM(tgt_c) AS BIGINT) AS tgt_tot
  FROM cells GROUP BY 1
),
comp AS (
  SELECT a.abl, g.bucket,
         g.raw_tot - COALESCE(c.raw_c, 0) AS raw_c,
         g.tgt_tot - COALESCE(c.tgt_c, 0) AS tgt_c
  FROM gcells g CROSS JOIN abls a
  LEFT JOIN cells c ON c.source = a.abl AND c.bucket = g.bucket
),
ftot AS (
  SELECT abl, CAST(SUM(raw_c) AS BIGINT) AS t_raw,
         CAST(SUM(tgt_c) AS BIGINT) AS t_tgt
  FROM comp GROUP BY 1
),
ratios AS (
  SELECT comp.abl, bucket,
         CAST(ROUND((LN((tgt_c + 1.0) / (t_tgt + CAST({b} AS DOUBLE)))
                   - LN((raw_c + 1.0) / (t_raw + CAST({b} AS DOUBLE))))
                    * 1000000.0, 0) AS BIGINT) AS lr_micro
  FROM comp JOIN ftot USING (abl)
),
tf AS (SELECT doc_id, bucket, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
scored AS (
  SELECT r.abl, t.doc_id, CAST(SUM(t.tf * r.lr_micro) AS BIGINT) AS logw_micro
  FROM tf t JOIN ratios r USING (bucket)
  GROUP BY 1, 2
),
labeled AS (
  SELECT a.abl, d.y, COALESCE(s.logw_micro, 0) AS logw_micro
  FROM docs d CROSS JOIN abls a
  LEFT JOIN scored s ON s.abl = a.abl AND s.doc_id = d.doc_id
  WHERE d.source <> a.abl OR a.abl = '{ABLATION_FULL}'
),
groups AS (
  SELECT abl, logw_micro AS s,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
  FROM labeled GROUP BY 1, 2
),
cum AS (
  SELECT abl, s, c_pos, c_neg,
         CAST(COALESCE(SUM(c_neg) OVER (PARTITION BY abl ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_neg_below
  FROM groups
),
sums AS (
  SELECT abl,
         CAST(SUM(c_pos) AS BIGINT) AS n_pos,
         CAST(SUM(c_neg) AS BIGINT) AS n_neg,
         CAST(COUNT(*) AS BIGINT) AS n_scores,
         SUM(CAST(c_pos AS DECIMAL(38,0))
             * (2 * cum_neg_below + c_neg)) AS u2
  FROM cum GROUP BY 1
),
final AS (
  SELECT abl, n_pos, n_neg, n_scores, {_AUC_MICRO} AS auc_micro FROM sums
),
base AS (
  SELECT auc_micro AS base_auc_micro FROM final
  WHERE abl = '{ABLATION_FULL}'
)
SELECT abl AS ablated_source, n_pos, n_neg, n_scores, auc_micro,
       base_auc_micro - auc_micro AS delta_micro
FROM final CROSS JOIN base
"""


QUERIES["feat_auc_source_ablation"] = QuerySpec(
    q_feat_auc_source_ablation, _source_ablation_oracle()
)


# -- feature drift screen: per-feature PSI between snapshots (r13) -------------------------
# The monitoring sibling of feat_leakage_screen on the TIME axis: the
# leakage screen asks "which feature predicts the label?", this asks "which
# feature's DISTRIBUTION moved between snapshots?" — the nightly per-feature
# PSI sweep a feature-store team runs before retraining (the same < 0.1 /
# 0.1–0.25 / > 0.25 triage bands as the score PSI). One stacked orders scan
# lands every feature's (feature, bin) cells with the orderkey-parity
# snapshot halves in the (cur, ref) seats (production: two snapshot dates),
# and the readout IS woe_iv_report_from_cells — PSI is IV between snapshots
# (the feat_score_psi identity), so the Laplace-smoothed exact integer
# ratios and the order-free integer fold carry over unchanged, per feature,
# ranked by drift. Scale shape: one fact scan stacked map-side into
# |features|·|bins| cells; everything after is broadcast-sized.
def drift_cell_facts(orders: DataFrame) -> DataFrame:
    """(feature, x, n_pos=cur half, n_neg=ref half) — the stacked additive
    snapshot-contingency facts over one orders scan. SUM-foldable, so the
    streaming twin appends these."""
    stack_expr = ", ".join(
        f"'{name}', {expr}" for name, expr in LEAKAGE_FEATURES
    )
    return (
        orders.selectExpr(
            f"stack({len(LEAKAGE_FEATURES)}, {stack_expr}) AS (feature, x)",
            "o_orderkey % 2 = 1 AS is_cur",
        )
        .groupBy("feature", "x")
        .agg(
            F.sum(F.when(F.col("is_cur"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos"),
            F.sum(F.when(F.col("is_cur"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_neg"),
        )
    )


def drift_screen_from_cells(cells: DataFrame) -> DataFrame:
    """The per-feature PSI report over the stacked snapshot cells, however
    accumulated — woe_iv_report_from_cells re-seated with (cur, ref) in the
    (pos, neg) seats, columns renamed to the monitoring vocabulary."""
    return woe_iv_report_from_cells(cells).selectExpr(
        "feature",
        "n_bins",
        "n_pos AS n_cur",
        "n_neg AS n_ref",
        "iv_micro AS psi_micro",
        "woe_min_micro AS lnratio_min_micro",
        "woe_max_micro AS lnratio_max_micro",
    )


def q_feat_drift_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return drift_screen_from_cells(drift_cell_facts(o))


def _drift_screen_oracle() -> str:
    sel = "\nUNION ALL ".join(
        f"SELECT '{name}' AS feature, {expr.replace('AS STRING', 'AS VARCHAR')}"
        f" AS x, o_orderkey % 2 = 1 AS is_cur FROM orders"
        for name, expr in LEAKAGE_FEATURES
    )
    return f"""
WITH stacked AS (
{sel}
),
cells AS (
  SELECT feature, x,
         CAST(SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN is_cur THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM stacked GROUP BY 1, 2
),
tot AS (
  SELECT feature, CAST(COUNT(*) AS BIGINT) AS n_bins,
         CAST(SUM(n_pos) AS BIGINT) AS t_pos,
         CAST(SUM(n_neg) AS BIGINT) AS t_neg
  FROM cells GROUP BY 1
),
bins AS (
  SELECT feature, n_bins, t_pos, t_neg,
         {_WOE_MICRO} AS woe_micro,
         {_SHARE_MICRO.format(n="n_pos", t="t_pos")} AS pos_share_micro,
         {_SHARE_MICRO.format(n="n_neg", t="t_neg")} AS neg_share_micro
  FROM cells JOIN tot USING (feature)
),
folded AS (
  SELECT feature, MAX(n_bins) AS n_bins, MAX(t_pos) AS n_pos,
         MAX(t_neg) AS n_neg,
         SUM((pos_share_micro - neg_share_micro) * woe_micro) AS iv_sum,
         MIN(woe_micro) AS woe_min_micro,
         MAX(woe_micro) AS woe_max_micro
  FROM bins GROUP BY feature
)
SELECT feature, n_bins, n_pos AS n_cur, n_neg AS n_ref,
       {_IV_MICRO} AS psi_micro,
       woe_min_micro AS lnratio_min_micro,
       woe_max_micro AS lnratio_max_micro
FROM folded
"""


QUERIES["feat_drift_screen"] = QuerySpec(
    q_feat_drift_screen, _drift_screen_oracle()
)


# -- PPS systematic sampling (r13) ----------------------------------------------------------
# The other classical survey design next to Neyman allocation: probability-
# proportional-to-size SYSTEMATIC selection (Madow 1949) — walk the corpus
# in a fixed total order, drop n equally-spaced selection points on the
# cumulative-size axis, and a document is hit once per point inside its
# span, so inclusion probability is exactly proportional to size with NO
# randomness to reproduce. All integer arithmetic: with T = Σ sizes and n
# points, doc i (exclusive prefix cum_i, size s_i) receives
# points_i = ((cum_i + s_i)·n) DIV T − (cum_i·n) DIV T — every quantity a
# positive BIGINT (cum·n ≤ T·n stays far under 2^63 until ~9e15 total
# chars·points), DIV and // agree on positives, and Σ points_i = n is an
# IDENTITY (telescoping), pinned as a law. A document larger than the
# sampling interval legitimately absorbs multiple points (the
# with-multiplicity convention); n_sel_docs counts it once. Scale shape:
# one size projection, one range-partitioned exclusive prefix sum
# (operators/ranking — no single-task window), one |languages| roll-up.
PPS_POINTS = 1000


def pps_report_from_sizes(sizes: DataFrame) -> DataFrame:
    """The PPS tail over (doc_id, lang, sz) rows, however accumulated —
    shared by the batch query and the streaming ledger twin."""
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_running_sum,
    )

    cum = materialize(ranged_running_sum(sizes, ["doc_id"], F.col("sz"), "cum_before"))
    tot = cum.agg(F.sum("sz").cast("bigint").alias("t_sz"))
    pts = cum.crossJoin(F.broadcast(tot)).selectExpr(
        "lang",
        "sz",
        f"((cum_before + sz) * {PPS_POINTS}) DIV t_sz"
        f" - (cum_before * {PPS_POINTS}) DIV t_sz AS points",
    )
    return pts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("sz").cast("bigint").alias("total_size"),
        F.sum("points").cast("bigint").alias("n_points"),
        F.sum(F.when(F.col("points") >= 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sel_docs"),
    )


def q_sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sizes = d.select(
        "doc_id", "lang", F.col("n_chars").cast("bigint").alias("sz")
    )
    return pps_report_from_sizes(sizes)


Q_PPS_ORACLE = f"""
WITH sizes AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS sz FROM documents
),
cum AS (
  SELECT doc_id, lang, sz,
         CAST(COALESCE(SUM(sz) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM sizes
),
tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS t_sz FROM sizes),
pts AS (
  SELECT lang, sz,
         ((cum_before + sz) * {PPS_POINTS}) // t_sz
           - (cum_before * {PPS_POINTS}) // t_sz AS points
  FROM cum CROSS JOIN tot
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(sz) AS BIGINT) AS total_size,
       CAST(SUM(points) AS BIGINT) AS n_points,
       CAST(SUM(CASE WHEN points >= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sel_docs
FROM pts GROUP BY 1
"""


QUERIES["sample_pps_systematic"] = QuerySpec(
    q_sample_pps_systematic, Q_PPS_ORACLE
)


# -- Spearman rank-correlation matrix (r14) ------------------------------------------------
# The monotone-association screen Pearson misses: Spearman's rho is Pearson
# over AVERAGE RANKS (ties mid-ranked), robust to the heavy-tailed/
# nonlinearly-scaled features training corpora are full of. Rank discipline:
# avg-rank(v) = (#below) + (#equal+1)/2, computed as the INTEGER doubled
# rank 2·below + cnt + 1 from each column's value-grain frequency map — no
# per-row window anywhere (the rank map is |distinct values| rows, its
# exclusive prefix sum runs range-partitioned via operators/ranking.py, and
# rows collect their rank by an equi-join on the value). Doubling keeps
# every moment exact-integer; scaling both variables by 2 leaves rho
# invariant, so the published micro value IS Spearman. The Pearson tail
# reuses corr_matrix_micro / corr_pair_sql verbatim (decimal-exact moments,
# one shared double expression). Scale shape: 3 value-grain maps + 3
# equi-joins + one map-side-combined moment aggregate; at >2^31-row facts
# the doubled ranks still fit BIGINT (2n+1), though rank² products then
# want decimal-first multiplication — the corr-matrix caveat, noted there.
SPEARMAN_COLS = ("qty", "price_c", "disc_c")


def _spearman_ranked(feats: DataFrame) -> DataFrame:
    """feats(col -> bigint) with each column replaced by its doubled
    average rank."""
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_running_sum,
    )

    out = feats
    for c in SPEARMAN_COLS:
        vals = out.groupBy(c).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        ranks = ranged_running_sum(vals, [c], F.col("cnt"), "below").select(
            c,
            (2 * F.col("below") + F.col("cnt") + 1).cast("bigint").alias(f"__r2_{c}"),
        )
        out = out.join(ranks, c)
    return out.select(
        *[F.col(f"__r2_{c}").alias(c) for c in SPEARMAN_COLS]
    )


def q_feat_spearman_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.regression import (
        corr_matrix_micro,
    )

    li = load(spark, sf_dir, "lineitem")
    feats = li.select(
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("disc_c"),
    )
    return corr_matrix_micro(_spearman_ranked(feats), SPEARMAN_COLS)


def _spearman_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.regression import (
        corr_pair_sql,
    )

    cols = SPEARMAN_COLS
    maps = []
    for c in cols:
        maps.append(
            f"""m_{c} AS (SELECT {c} AS v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM f GROUP BY 1),
r_{c} AS (SELECT v,
  CAST(2 * COALESCE(SUM(cnt) OVER (ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1
    AS BIGINT) AS r2
  FROM m_{c})"""
        )
    joins = " ".join(f"JOIN r_{c} ON r_{c}.v = f.{c}" for c in cols)
    ranked_cols = ", ".join(f"r_{c}.r2 AS {c}" for c in cols)
    moments = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in cols:
        moments.append(f"CAST(SUM({c}) AS DOUBLE) AS s_{c}")
    for i, a in enumerate(cols):
        for b in cols[i:]:
            lo, hi = sorted((a, b))
            moments.append(
                f"CAST(SUM(CAST({a} AS HUGEINT) * {b}) AS DOUBLE) AS p_{lo}_{hi}"
            )
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    rows = "\nUNION ALL\n".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"{corr_pair_sql(a, b)} AS corr_micro FROM g"
        for a, b in pairs
    )
    maps_sql = ",\n".join(maps)
    return f"""
WITH f AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_c
  FROM lineitem
),
{maps_sql},
ranked AS (SELECT {ranked_cols} FROM f {joins}),
g AS (SELECT {", ".join(moments)} FROM ranked)
{rows}
"""


QUERIES["feat_spearman_matrix"] = QuerySpec(
    q_feat_spearman_matrix, _spearman_oracle()
)


# -- Mahalanobis outlier screen (r14) ------------------------------------------------------
# The covariance-aware 2-D outlier audit a per-feature z-score can't do:
# squared Mahalanobis distance d² = (x−μ)ᵀ Σ⁻¹ (x−μ) under the population
# covariance, with Σ⁻¹ in closed form (2×2 — det/adjugate, no iterative
# solver). Flags rows that are individually unremarkable but jointly
# inconsistent (a cheap order, years late — the correlation carries the
# signal). Exactness: the six moments (n, Σx1, Σx2, Σx1², Σx1x2, Σx2²)
# accumulate as exact integers/DECIMAL(38,0) (squares overflow BIGINT at
# fact scale) on both engines; every double appears in ONE shared
# fixed-parenthesization expression, and d² quantizes once to micro before
# the integer bin compare (χ²₂ edges 1/4/9). Scale shape: one map-side
# combine to 6 numbers + one scoring scan against the broadcast moments —
# the screen is inherently two-pass (scores are judged under GLOBAL
# statistics); the twin ledgers the moments AND the dims, and re-judges at
# readout (the DSIR doc-ledger precedent).
_MAHA_MU1 = "(s1 / n)"
_MAHA_MU2 = "(s2 / n)"
_MAHA_C11 = f"(p11 / n - {_MAHA_MU1} * {_MAHA_MU1})"
_MAHA_C12 = f"(p12 / n - {_MAHA_MU1} * {_MAHA_MU2})"
_MAHA_C22 = f"(p22 / n - {_MAHA_MU2} * {_MAHA_MU2})"
_MAHA_DET = f"({_MAHA_C11} * {_MAHA_C22} - {_MAHA_C12} * {_MAHA_C12})"
_MAHA_D2_MICRO = (
    "CAST(FLOOR(("
    f"{_MAHA_C22} * (CAST(x1 AS DOUBLE) - {_MAHA_MU1})"
    f" * (CAST(x1 AS DOUBLE) - {_MAHA_MU1})"
    f" - CAST(2 AS DOUBLE) * {_MAHA_C12}"
    f" * (CAST(x1 AS DOUBLE) - {_MAHA_MU1})"
    f" * (CAST(x2 AS DOUBLE) - {_MAHA_MU2})"
    f" + {_MAHA_C11} * (CAST(x2 AS DOUBLE) - {_MAHA_MU2})"
    f" * (CAST(x2 AS DOUBLE) - {_MAHA_MU2})"
    f") / {_MAHA_DET} * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_MAHA_BIN = (
    "CASE WHEN d2_micro < 1000000 THEN 'a_d2_lt_1'"
    " WHEN d2_micro < 4000000 THEN 'b_d2_1_4'"
    " WHEN d2_micro < 9000000 THEN 'c_d2_4_9'"
    " ELSE 'd_d2_ge_9' END"
)


def maha_dims(orders: DataFrame) -> DataFrame:
    """(x1, x2) exact-integer feature rows: order value in cents, order date
    in epoch days — arrival facts, the twin ledgers them as-is."""
    return orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x1"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("x2"),
    )


def maha_moments(dims: DataFrame) -> DataFrame:
    """One additive moment row (n, s1, s2, p11, p12, p22) — SUM-foldable, the
    OLS-Gram ledger shape."""
    return dims.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum(F.expr("CAST(x1 AS DECIMAL(38,0)) * x1")).alias("p11"),
        F.sum(F.expr("CAST(x1 AS DECIMAL(38,0)) * x2")).alias("p12"),
        F.sum(F.expr("CAST(x2 AS DECIMAL(38,0)) * x2")).alias("p22"),
    )


def maha_report_from_parts(dims: DataFrame, moments: DataFrame) -> DataFrame:
    """The χ²₂-binned d² histogram over (x1, x2) dims judged under folded
    global moments, however both accumulated — shared by batch and twin."""
    g = moments.selectExpr(
        "CAST(n AS DOUBLE) AS n",
        "CAST(s1 AS DOUBLE) AS s1",
        "CAST(s2 AS DOUBLE) AS s2",
        "CAST(p11 AS DOUBLE) AS p11",
        "CAST(p12 AS DOUBLE) AS p12",
        "CAST(p22 AS DOUBLE) AS p22",
    )
    scored = dims.crossJoin(F.broadcast(g)).selectExpr(
        f"{_MAHA_D2_MICRO} AS d2_micro"
    )
    return (
        scored.selectExpr(f"{_MAHA_BIN} AS d2_bin", "d2_micro")
        .groupBy("d2_bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.max("d2_micro").cast("bigint").alias("max_d2_micro"),
        )
        .orderBy("d2_bin")
    )


def q_feat_mahalanobis_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    dims = maha_dims(load(spark, sf_dir, "orders"))
    return maha_report_from_parts(dims, maha_moments(dims))


Q_MAHA_ORACLE = f"""
WITH dims AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x1,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x2
  FROM orders
),
moments AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x1) AS DOUBLE) AS s1,
         CAST(SUM(x2) AS DOUBLE) AS s2,
         CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS p11,
         CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS p12,
         CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS p22
  FROM dims
),
scored AS (
  SELECT {_MAHA_D2_MICRO} AS d2_micro FROM dims CROSS JOIN moments
)
SELECT {_MAHA_BIN} AS d2_bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MAX(d2_micro) AS BIGINT) AS max_d2_micro
FROM scored GROUP BY 1 ORDER BY 1
"""

QUERIES["feat_mahalanobis_screen"] = QuerySpec(
    q_feat_mahalanobis_screen, Q_MAHA_ORACLE
)


# -- Horvitz-Thompson estimation under the PPS design (r14) --------------------------------
# What the PPS sample is FOR: estimate a corpus total you didn't scan (here
# the token count) from only the systematically-selected docs, weighting
# each by its inverse inclusion intensity. Under sample_pps_systematic's
# design a doc of size sz at corpus total T receives points_i systematic
# hits with E[points_i] = K·sz/T, so the Hansen-Hurwitz/HT form is
# ŷ = (T/K)·Σ points_i·y_i/sz_i — unbiased, and exact-deterministic here
# because the design itself is deterministic. Per-doc ratios quantize once
# (numerators points·y·1e6 stay exact BIGINT well past fact scale, one
# double divide + half-up), the micro ratios SUM exactly as BIGINTs, and
# the final T/K unscale is one shared double expression per language.
# The per-language report publishes the estimate beside the TRUE total —
# the design-effect audit (relative error in micro) a sampling pipeline
# watches before trusting the estimator on totals it can't afford to scan.
_HT_RATIO_MICRO = (
    "CAST(FLOOR(CAST(points * y * 1000000 AS DOUBLE) / CAST(sz AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_HT_EST_TOKENS = (
    "CAST(FLOOR(CAST(t_sz AS DOUBLE) * CAST(sum_ratio AS DOUBLE)"
    f" / CAST({{K}} AS DOUBLE) / CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_HT_ERR_MICRO = (
    "CAST(FLOOR((CAST(est_tokens AS DOUBLE) - CAST(true_tokens AS DOUBLE))"
    " * CAST(1000000 AS DOUBLE) / CAST(true_tokens AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def q_sample_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.text import tokens
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_running_sum,
    )

    d = load(spark, sf_dir, "documents")
    sizes = d.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("sz"),
        F.size(tokens("text")).cast("bigint").alias("y"),
    )
    cum = materialize(ranged_running_sum(sizes, ["doc_id"], F.col("sz"), "cum_before"))
    tot = cum.agg(F.sum("sz").cast("bigint").alias("t_sz"))
    pts = cum.crossJoin(F.broadcast(tot)).selectExpr(
        "lang",
        "sz",
        "y",
        "t_sz",
        f"((cum_before + sz) * {PPS_POINTS}) DIV t_sz"
        f" - (cum_before * {PPS_POINTS}) DIV t_sz AS points",
    )
    facts = pts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("y").cast("bigint").alias("true_tokens"),
        F.sum(F.when(F.col("points") >= 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sampled"),
        F.sum(F.expr(f"CASE WHEN points >= 1 THEN {_HT_RATIO_MICRO} ELSE 0 END"))
        .cast("bigint")
        .alias("sum_ratio"),
        F.max("t_sz").cast("bigint").alias("t_sz"),
    )
    est = facts.selectExpr(
        "lang",
        "n_docs",
        "true_tokens",
        "n_sampled",
        _HT_EST_TOKENS.format(K=PPS_POINTS) + " AS est_tokens",
    )
    return est.selectExpr(
        "lang",
        "n_docs",
        "true_tokens",
        "n_sampled",
        "est_tokens",
        f"{_HT_ERR_MICRO} AS err_micro",
    ).orderBy("lang")


def _ht_oracle() -> str:
    return f"""
WITH sizes AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS sz,
         CAST(len({_TOKS}) AS BIGINT) AS y
  FROM documents
),
cum AS (
  SELECT doc_id, lang, sz, y,
         CAST(COALESCE(SUM(sz) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM sizes
),
tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS t_sz FROM sizes),
pts AS (
  SELECT lang, sz, y, t_sz,
         ((cum_before + sz) * {PPS_POINTS}) // t_sz
           - (cum_before * {PPS_POINTS}) // t_sz AS points
  FROM cum CROSS JOIN tot
),
facts AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(y) AS BIGINT) AS true_tokens,
         CAST(SUM(CASE WHEN points >= 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sampled,
         CAST(SUM(CASE WHEN points >= 1 THEN {_HT_RATIO_MICRO} ELSE 0 END)
           AS BIGINT) AS sum_ratio,
         CAST(MAX(t_sz) AS BIGINT) AS t_sz
  FROM pts GROUP BY 1
),
est AS (
  SELECT lang, n_docs, true_tokens, n_sampled,
         {_HT_EST_TOKENS.format(K=PPS_POINTS)} AS est_tokens
  FROM facts
)
SELECT lang, n_docs, true_tokens, n_sampled, est_tokens,
       {_HT_ERR_MICRO} AS err_micro
FROM est ORDER BY lang
"""


QUERIES["sample_horvitz_thompson"] = QuerySpec(
    q_sample_horvitz_thompson, _ht_oracle()
)


# -- isotonic calibration via PAV's minimax identity (r14) ---------------------------------
# The calibration FIXER next to the reliability diagram's auditor: isotonic
# regression of the observed label rate on the model score — the standard
# nonparametric recalibration map (sklearn's isotonic; Zadrozny-Elkan 2002).
# The pool-adjacent-violators solution has an exact closed form,
#   f(i) = max_{j<=i} min_{k>=i} avg(y over bins j..k),
# and on the SCORE-DECILE grain (<= 11 bins, the calibration report's own
# axis) that minimax is a few-hundred-combination join — grain-bounded like
# the chi² grid, never corpus-quadratic. Exactness: bin facts are exact
# integers; prefix sums run range-partitioned (house rule, even at this
# grain); every block average is ONE double divide of exact ints (identical
# both engines, MIN/MAX order-free); the fitted value quantizes once at
# publish. The law tests pin monotonicity and equality with a pure-python
# PAV. Scale shape: one scored scan collapses map-side to <=11 bin rows;
# everything after is bin-grain.
_ISO_MICRO = (
    "CAST(FLOOR(iso_raw * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def isotonic_from_bins(bins: DataFrame) -> DataFrame:
    """The PAV minimax over (bin, n_rows, sum_y) facts, however accumulated —
    shared by batch and the ledger twin. Returns one nondecreasing fitted
    rate per bin beside the raw observed rate."""
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_running_sum,
    )

    pre = ranged_running_sum(bins, ["bin"], F.col("n_rows"), "cn_excl")
    pre = materialize(
        ranged_running_sum(pre, ["bin"], F.col("sum_y"), "cy_excl").selectExpr(
            "bin",
            "n_rows",
            "sum_y",
            "cn_excl",
            "cy_excl",
            "cn_excl + n_rows AS cn",
            "cy_excl + sum_y AS cy",
        )
    )
    j = pre.selectExpr(
        "bin AS j_bin", "cn_excl AS j_cn_excl", "cy_excl AS j_cy_excl"
    )
    k = pre.selectExpr("bin AS k_bin", "cn AS k_cn", "cy AS k_cy")
    pairs = j.join(k, F.col("j_bin") <= F.col("k_bin")).selectExpr(
        "j_bin",
        "k_bin",
        "CAST(k_cy - j_cy_excl AS DOUBLE) / CAST(k_cn - j_cn_excl AS DOUBLE)"
        " AS avg_jk",
    )
    i = pre.selectExpr("bin AS i_bin")
    inner = (
        i.join(
            pairs,
            (F.col("j_bin") <= F.col("i_bin")) & (F.col("k_bin") >= F.col("i_bin")),
        )
        .groupBy("i_bin", "j_bin")
        .agg(F.min("avg_jk").alias("m"))
    )
    fit = inner.groupBy("i_bin").agg(F.max("m").alias("iso_raw"))
    return (
        bins.join(fit, bins["bin"] == fit["i_bin"])
        .selectExpr(
            "bin",
            "n_rows",
            f"{_CAL_OBS_RATE} AS obs_rate_micro",
            f"{_ISO_MICRO} AS iso_micro",
        )
        .orderBy("bin")
    )


def _cal_bins(scored: DataFrame) -> DataFrame:
    """(bin, n_rows, sum_y) — the additive calibration facts on the score-
    decile axis (the reliability diagram's own binning); the twin appends
    these."""
    return scored.groupBy(
        F.expr("mu_micro DIV 100000").cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("y").cast("bigint").alias("sum_y"),
    )


def q_feat_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return isotonic_from_bins(_cal_bins(_logreg_scored(spark, sf_dir)))


def _isotonic_oracle() -> str:
    tail = f""",
bins AS (
  SELECT CAST(mu_micro // 100000 AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(y) AS BIGINT) AS sum_y
  FROM scored GROUP BY 1
),
pre AS (
  SELECT bin, n_rows, sum_y,
         CAST(COALESCE(SUM(n_rows) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cn_excl,
         CAST(COALESCE(SUM(sum_y) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cy_excl,
         CAST(SUM(n_rows) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
         CAST(SUM(sum_y) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cy
  FROM bins
),
pairs AS (
  SELECT j.bin AS j_bin, k.bin AS k_bin,
         CAST(k.cy - j.cy_excl AS DOUBLE) / CAST(k.cn - j.cn_excl AS DOUBLE)
           AS avg_jk
  FROM pre j JOIN pre k ON j.bin <= k.bin
),
inner_min AS (
  SELECT i.bin AS i_bin, p.j_bin, MIN(p.avg_jk) AS m
  FROM pre i JOIN pairs p ON p.j_bin <= i.bin AND p.k_bin >= i.bin
  GROUP BY 1, 2
),
fit AS (
  SELECT i_bin, MAX(m) AS iso_raw FROM inner_min GROUP BY 1
)
SELECT b.bin, b.n_rows,
       {_CAL_OBS_RATE} AS obs_rate_micro,
       {_ISO_MICRO} AS iso_micro
FROM bins b JOIN fit ON fit.i_bin = b.bin
ORDER BY b.bin
"""
    return _logreg_scored_ctes() + tail


QUERIES["feat_isotonic_calibration"] = QuerySpec(
    q_feat_isotonic_calibration, _isotonic_oracle()
)
