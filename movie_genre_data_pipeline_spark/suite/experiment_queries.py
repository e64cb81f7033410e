"""Experimentation & audit-statistics queries (the r15 wave): CUPED
variance-reduced A/B readout, Cohen's kappa rater agreement, the Benford
first-digit screen, per-stratum Wilson score intervals, partial correlation,
and the Lorenz concentration curve. North star: the measurement layer a
training-data pipeline runs ON ITSELF — is the experiment balanced, do two
cheap quality raters agree, do the money columns look fabricated, how wide
are the per-language defect CIs, is a correlation spurious once a confounder
is held, and how concentrated is revenue across customers.

Exactness discipline (the house micro-spell rules): every aggregate reduces
to integer facts (counts, cents, micro-quantized weights) accumulated
exactly (BIGINT / DECIMAL(38,0), products DECIMAL-FIRST so nothing wraps);
each published double resolves through ONE shared SQL fragment — identical
text in the Spark selectExpr and the DuckDB oracle — rounded half-up via
FLOOR(x + 0.5) to 1e-6. Scale shape: every query is one map-side-combinable
fact scan collapsed to a dimension-bounded grain (2 arms, 4 confusion
cells, 9 digits, |langs| strata, 10 deciles, one moment row); the only
non-aggregate step, the Lorenz decile assignment, runs through
operators/ranking.ranged_ntile (range partitioning + broadcast offsets —
no single-task window at any corpus size).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.functions.sampling import hex_threshold
from movie_genre_data_pipeline_spark.functions.text import token_count
from movie_genre_data_pipeline_spark.session import materialize
from movie_genre_data_pipeline_spark.suite import QuerySpec, load
from movie_genre_data_pipeline_spark.suite.text_queries import _TOKS

QUERIES: dict[str, QuerySpec] = {}


# -- CUPED variance-reduced A/B readout (r15) ----------------------------------------------
# The experimentation workhorse (Deng et al., WSDM'13): adjust each unit's
# post-period metric by theta * (pre-period metric - global pre mean), with
# theta the pooled OLS slope cov(pre, post)/var(pre) — same arm means in
# expectation, strictly smaller variance when pre correlates with post.
# Units are CUSTOMERS (pre = 1996 spend, post = 1997 spend, in exact cents);
# the arm is a pure md5 function of the customer key, so the oracle
# reproduces the assignment bit-for-bit. Exactness: per-unit facts are
# BIGINT cents; the five pooled moments accumulate in DECIMAL(38,0) with
# DECIMAL-FIRST products (cents x cents wraps BIGINT at fact scale); theta
# and the adjusted means resolve through shared double fragments. Scale
# shape: one orders scan map-side-combined to customer grain (the ledger
# fact), one combine to 2 arm rows + 1 broadcast global row — no shuffle
# wider than live customers, nothing driver-sized.
CUPED_SALT = ":cuped"
_CUPED_ARM_T = hex_threshold(0.5)
CUPED_PRE_YEAR = 1996
CUPED_POST_YEAR = 1997

# arm assignment fragment over a customer-key column `c` (shared text)
_CUPED_ARM = (
    f"CASE WHEN md5(CAST(c AS STRING) || '{CUPED_SALT}') < '{_CUPED_ARM_T}'"
    " THEN 'treat' ELSE 'control' END"
)

# pooled theta = (nt*sxyt - sxt*syt) / (nt*sxxt - sxt^2), over the global
# moment columns (nt, sxt, syt, sxxt, sxyt)
_CUPED_THETA = (
    "((CAST(nt AS DOUBLE) * CAST(sxyt AS DOUBLE)"
    " - CAST(sxt AS DOUBLE) * CAST(syt AS DOUBLE))"
    " / (CAST(nt AS DOUBLE) * CAST(sxxt AS DOUBLE)"
    " - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE)))"
)
_CUPED_VAR_POS = (
    "(CAST(nt AS DOUBLE) * CAST(sxxt AS DOUBLE)"
    " - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE)) > CAST(0 AS DOUBLE)"
)
_CUPED_THETA_MICRO = (
    f"CASE WHEN {_CUPED_VAR_POS} THEN"
    f" CAST(FLOOR({_CUPED_THETA} * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
# per-arm raw and adjusted post-period means, micro-cents
_CUPED_MEAN_POST_MICRO = (
    "CAST(FLOOR(CAST(sy AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(n AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_CUPED_MEAN_ADJ_MICRO = (
    f"CASE WHEN {_CUPED_VAR_POS} THEN"
    " CAST(FLOOR((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - {_CUPED_THETA} * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"
    " - CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)))"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    f" ELSE {_CUPED_MEAN_POST_MICRO} END"
)


def cuped_units_from_orders(orders: DataFrame) -> DataFrame:
    """(c, pre_cents, post_cents) — per-customer pre/post spend in exact
    BIGINT cents from ONE orders scan (map-side combinable; a customer with
    orders in only one period contributes a real 0 in the other, never a
    dropped unit). This is the additive fact the streaming twin's ledger
    appends per micro-batch."""
    return (
        orders.select(
            F.col("o_custkey").cast("bigint").alias("c"),
            F.year("o_orderdate").alias("yr"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .where(F.col("yr").isin(CUPED_PRE_YEAR, CUPED_POST_YEAR))
        .groupBy("c")
        .agg(
            F.sum(
                F.when(F.col("yr") == CUPED_PRE_YEAR, F.col("cents")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("pre_cents"),
            F.sum(
                F.when(F.col("yr") == CUPED_POST_YEAR, F.col("cents")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("post_cents"),
        )
    )


def cuped_report_from_units(units: DataFrame) -> DataFrame:
    """The CUPED readout over (c, pre_cents, post_cents) unit facts, however
    accumulated: assign arms (pure md5 of c — shared fragment), fold the
    per-arm and pooled moments exactly, resolve theta and the adjusted means
    through the shared double fragments. Two arm rows + one broadcast global
    row; every product DECIMAL-FIRST."""
    armed = units.selectExpr(
        f"{_CUPED_ARM} AS arm", "pre_cents", "post_cents"
    )
    # per_arm (2 rows) feeds BOTH the pooled-global fold and the output
    # join; pin it (the ACF fan-out precedent) or the whole orders scan
    # replays once per consumer — 2 corpus scans for a 2-row readout.
    per_arm_raw = armed.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pre_cents").cast("decimal(38,0)").alias("sx"),
        F.sum("post_cents").cast("decimal(38,0)").alias("sy"),
        F.expr(
            "SUM(CAST(pre_cents AS DECIMAL(38,0)) * pre_cents)"
        ).alias("sxx"),
        F.expr(
            "SUM(CAST(pre_cents AS DECIMAL(38,0)) * post_cents)"
        ).alias("sxy"),
    )
    per_arm = materialize(per_arm_raw)
    glob = per_arm.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("sx").cast("decimal(38,0)").alias("sxt"),
        F.sum("sy").cast("decimal(38,0)").alias("syt"),
        F.sum("sxx").cast("decimal(38,0)").alias("sxxt"),
        F.sum("sxy").cast("decimal(38,0)").alias("sxyt"),
    )
    return per_arm.crossJoin(F.broadcast(glob)).selectExpr(
        "arm",
        "n AS n_units",
        f"{_CUPED_MEAN_POST_MICRO} AS mean_post_micro",
        f"{_CUPED_MEAN_ADJ_MICRO} AS mean_adj_micro",
        f"{_CUPED_THETA_MICRO} AS theta_micro",
    )


def q_ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return cuped_report_from_units(cuped_units_from_orders(o))


Q_CUPED_ORACLE = f"""
WITH units AS (
  SELECT CAST(o_custkey AS BIGINT) AS c,
         CAST(SUM(CASE WHEN year(o_orderdate) = {CUPED_PRE_YEAR}
                       THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS pre_cents,
         CAST(SUM(CASE WHEN year(o_orderdate) = {CUPED_POST_YEAR}
                       THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS post_cents
  FROM orders
  WHERE year(o_orderdate) IN ({CUPED_PRE_YEAR}, {CUPED_POST_YEAR})
  GROUP BY 1
),
armed AS (
  SELECT {_CUPED_ARM} AS arm, pre_cents, post_cents FROM units
),
per_arm AS (
  SELECT arm,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pre_cents) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(post_cents) AS DECIMAL(38,0)) AS sy,
         SUM(CAST(pre_cents AS DECIMAL(38,0)) * pre_cents) AS sxx,
         SUM(CAST(pre_cents AS DECIMAL(38,0)) * post_cents) AS sxy
  FROM armed GROUP BY 1
),
gmom AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt,
         CAST(SUM(sx) AS DECIMAL(38,0)) AS sxt,
         CAST(SUM(sy) AS DECIMAL(38,0)) AS syt,
         CAST(SUM(sxx) AS DECIMAL(38,0)) AS sxxt,
         CAST(SUM(sxy) AS DECIMAL(38,0)) AS sxyt
  FROM per_arm
)
SELECT arm, n AS n_units,
       {_CUPED_MEAN_POST_MICRO} AS mean_post_micro,
       {_CUPED_MEAN_ADJ_MICRO} AS mean_adj_micro,
       {_CUPED_THETA_MICRO} AS theta_micro
FROM per_arm CROSS JOIN gmom
"""

QUERIES["ab_cuped_adjustment"] = QuerySpec(q_ab_cuped_adjustment, Q_CUPED_ORACLE)


# -- Cohen's kappa rater agreement (r15) ----------------------------------------------------
# Do two cheap quality raters agree beyond chance? Rater A flags documents
# long in TOKENS, rater B flags documents long in CHARS — the calibration
# question behind every "cheap proxy for the expensive labeler" decision
# (kappa near 0 means the proxies agree no more than coin flips would at
# their marginal rates). Exactness: the whole corpus reduces to FOUR
# confusion-cell counts (the streaming twin's 4-row SUM ledger); observed
# and expected agreement resolve through shared double fragments (products
# in DOUBLE — the identical IEEE expression both engines — because cell
# products pass 2^63 at ~3e9 docs). Scale: one scan, map-side-combined to
# 4 rows; the readout is O(1).
KAPPA_TOKENS_MIN = 80
KAPPA_CHARS_MIN = 500

_KAPPA_PO = (
    "((CAST(n11 AS DOUBLE) + CAST(n00 AS DOUBLE))"
    " / (CAST(n11 AS DOUBLE) + CAST(n10 AS DOUBLE)"
    " + CAST(n01 AS DOUBLE) + CAST(n00 AS DOUBLE)))"
)
_KAPPA_PE = (
    "(((CAST(n11 AS DOUBLE) + CAST(n10 AS DOUBLE))"
    " * (CAST(n11 AS DOUBLE) + CAST(n01 AS DOUBLE))"
    " + (CAST(n00 AS DOUBLE) + CAST(n01 AS DOUBLE))"
    " * (CAST(n00 AS DOUBLE) + CAST(n10 AS DOUBLE)))"
    " / ((CAST(n11 AS DOUBLE) + CAST(n10 AS DOUBLE)"
    " + CAST(n01 AS DOUBLE) + CAST(n00 AS DOUBLE))"
    " * (CAST(n11 AS DOUBLE) + CAST(n10 AS DOUBLE)"
    " + CAST(n01 AS DOUBLE) + CAST(n00 AS DOUBLE))))"
)
_KAPPA_MICRO = (
    f"CASE WHEN (CAST(1 AS DOUBLE) - {_KAPPA_PE}) > CAST(0 AS DOUBLE) THEN"
    f" CAST(FLOOR(({_KAPPA_PO} - {_KAPPA_PE})"
    f" / (CAST(1 AS DOUBLE) - {_KAPPA_PE})"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_PO_MICRO = (
    f"CAST(FLOOR({_KAPPA_PO} * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_PE_MICRO = (
    f"CAST(FLOOR({_KAPPA_PE} * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def kappa_cells_from_documents(docs: DataFrame) -> DataFrame:
    """(flag_a, flag_b, cnt) — the confusion cells of the two raters over
    ONE documents scan. Both flags are ARRIVAL decisions (pure functions of
    one row), so the cells SUM-fold: this is the streaming twin's ledger
    fact."""
    return (
        docs.select(
            (token_count("text") >= KAPPA_TOKENS_MIN)
            .cast("int")
            .alias("flag_a"),
            (F.col("n_chars") >= KAPPA_CHARS_MIN).cast("int").alias("flag_b"),
        )
        .groupBy("flag_a", "flag_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def kappa_report_from_cells(cells: DataFrame) -> DataFrame:
    """The kappa readout over (flag_a, flag_b, cnt) facts, however
    accumulated: pivot the four cells into one row (a missing cell is a real
    0) and resolve po / pe / kappa through the shared fragments."""
    one = cells.agg(
        F.coalesce(
            F.sum(F.when((F.col("flag_a") == 1) & (F.col("flag_b") == 1), F.col("cnt"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n11"),
        F.coalesce(
            F.sum(F.when((F.col("flag_a") == 1) & (F.col("flag_b") == 0), F.col("cnt"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n10"),
        F.coalesce(
            F.sum(F.when((F.col("flag_a") == 0) & (F.col("flag_b") == 1), F.col("cnt"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n01"),
        F.coalesce(
            F.sum(F.when((F.col("flag_a") == 0) & (F.col("flag_b") == 0), F.col("cnt"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n00"),
    )
    return one.selectExpr(
        "n11",
        "n10",
        "n01",
        "n00",
        f"{_PO_MICRO} AS po_micro",
        f"{_PE_MICRO} AS pe_micro",
        f"{_KAPPA_MICRO} AS kappa_micro",
    )


def q_feat_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return kappa_report_from_cells(kappa_cells_from_documents(d))


Q_KAPPA_ORACLE = f"""
WITH cells AS (
  SELECT CASE WHEN len({_TOKS}) >= {KAPPA_TOKENS_MIN} THEN 1 ELSE 0 END AS flag_a,
         CASE WHEN n_chars >= {KAPPA_CHARS_MIN} THEN 1 ELSE 0 END AS flag_b,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY 1, 2
),
one AS (
  SELECT
    CAST(COALESCE(SUM(CASE WHEN flag_a = 1 AND flag_b = 1 THEN cnt END), 0) AS BIGINT) AS n11,
    CAST(COALESCE(SUM(CASE WHEN flag_a = 1 AND flag_b = 0 THEN cnt END), 0) AS BIGINT) AS n10,
    CAST(COALESCE(SUM(CASE WHEN flag_a = 0 AND flag_b = 1 THEN cnt END), 0) AS BIGINT) AS n01,
    CAST(COALESCE(SUM(CASE WHEN flag_a = 0 AND flag_b = 0 THEN cnt END), 0) AS BIGINT) AS n00
  FROM cells
)
SELECT n11, n10, n01, n00,
       {_PO_MICRO} AS po_micro,
       {_PE_MICRO} AS pe_micro,
       {_KAPPA_MICRO} AS kappa_micro
FROM one
"""

QUERIES["feat_cohens_kappa"] = QuerySpec(q_feat_cohens_kappa, Q_KAPPA_ORACLE)


# -- Benford first-digit screen (r15) -------------------------------------------------------
# The forensic data-quality screen: the first significant digit of organic
# money amounts follows log10(1 + 1/d); fabricated or truncated feeds
# don't. Digits come from exact BIGINT cents via one string head (never
# log10 of a double — float edges at powers of ten would make the digit
# itself engine-dependent); expected shares are Python-precomputed micro
# literals baked into BOTH sides, so the report is integers end to end.
# Scale: one scan map-side-combined to 9 rows + a broadcast total.
BENFORD_P_MICRO = {
    d: int(math.floor(math.log10(1.0 + 1.0 / d) * 1_000_000 + 0.5))
    for d in range(1, 10)
}
_BENFORD_DIGIT = "CAST(substr(CAST(cents AS STRING), 1, 1) AS BIGINT)"
_BENFORD_EXP_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN CAST({m} AS BIGINT)" for d, m in BENFORD_P_MICRO.items())
    + " END"
)
_BENFORD_OBS_MICRO = (
    "CAST(FLOOR(CAST(n_obs AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(n_total AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def benford_digits_from_orders(orders: DataFrame) -> DataFrame:
    """(digit, cnt) — first-significant-digit counts of positive order
    totals in exact cents, from ONE scan (the streaming twin's 9-row SUM
    ledger fact)."""
    return (
        orders.select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
        )
        .where(F.col("cents") > 0)
        .selectExpr(f"{_BENFORD_DIGIT} AS digit")
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def benford_report_from_digits(digits: DataFrame) -> DataFrame:
    """The Benford deviation readout over (digit, cnt) facts, however
    accumulated: observed micro-share vs the baked-in expected micro-share
    per digit, all-integer. The 9-row digit table feeds both the total fold
    and the output join — pinned (the ACF fan-out precedent) so the fact
    scan behind it runs once, not once per consumer."""
    digits = materialize(digits)
    totals = digits.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    return (
        digits.crossJoin(F.broadcast(totals))
        .selectExpr(
            "digit",
            "cnt AS n_obs",
            "n_total",
            f"{_BENFORD_OBS_MICRO} AS p_obs_micro",
            f"{_BENFORD_EXP_CASE} AS p_exp_micro",
        )
        .selectExpr(
            "digit",
            "n_obs",
            "p_obs_micro",
            "p_exp_micro",
            "ABS(p_obs_micro - p_exp_micro) AS dev_micro",
        )
    )


def q_ops_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return benford_report_from_digits(benford_digits_from_orders(o))


Q_BENFORD_ORACLE = f"""
WITH cents_t AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
digits AS (
  SELECT {_BENFORD_DIGIT} AS digit, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cents_t WHERE cents > 0 GROUP BY 1
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM digits),
scored AS (
  SELECT digit, cnt AS n_obs, n_total,
         {_BENFORD_OBS_MICRO} AS p_obs_micro,
         {_BENFORD_EXP_CASE} AS p_exp_micro
  FROM digits CROSS JOIN tot
)
SELECT digit, n_obs, p_obs_micro, p_exp_micro,
       ABS(p_obs_micro - p_exp_micro) AS dev_micro
FROM scored
"""

QUERIES["ops_benford_screen"] = QuerySpec(q_ops_benford_screen, Q_BENFORD_ORACLE)


# -- per-stratum Wilson score intervals (r15) ------------------------------------------------
# The CI a defect-rate dashboard should print: the Wilson score interval is
# well-behaved at extreme rates and small strata where the Wald interval
# collapses (Brown-Cai-DasGupta 2001). Strata are languages; the "defect"
# is a short document (n_chars below threshold). Exactness: per stratum the
# corpus reduces to two BIGINTs (n, s) — the streaming twin's ledger fact —
# and the bounds resolve through one shared double fragment (z = 1.96
# literal text both sides). Scale: one scan to |langs| rows.
WILSON_CHARS_MIN = 500

_WILSON_DEN = (
    "(CAST(1 AS DOUBLE) + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)"
    " / CAST(n AS DOUBLE))"
)
_WILSON_CENTER = (
    "((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    " + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)"
    " / (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE)))"
    f" / {_WILSON_DEN})"
)
_WILSON_HALF = (
    "(CAST(1.96 AS DOUBLE) * sqrt((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    " * (CAST(1 AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    " + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)"
    " / (CAST(4 AS DOUBLE) * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE))"
    f" / {_WILSON_DEN})"
)
_WILSON_LO_MICRO = (
    f"CAST(FLOOR(({_WILSON_CENTER} - {_WILSON_HALF})"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_WILSON_HI_MICRO = (
    f"CAST(FLOOR(({_WILSON_CENTER} + {_WILSON_HALF})"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def wilson_facts_from_documents(docs: DataFrame) -> DataFrame:
    """(lang, n, s) — per-language doc and short-doc counts from ONE scan
    (the streaming twin's SUM ledger fact)."""
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("n_chars") < WILSON_CHARS_MIN).cast("bigint"))
        .cast("bigint")
        .alias("s"),
    )


def wilson_report_from_facts(facts: DataFrame) -> DataFrame:
    """The Wilson-interval readout over (lang, n, s) facts, however
    accumulated — shared fragments end to end."""
    return facts.selectExpr(
        "lang",
        "n AS n_docs",
        "s AS n_short",
        f"{_WILSON_LO_MICRO} AS lo_micro",
        f"{_WILSON_HI_MICRO} AS hi_micro",
    )


def q_sample_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return wilson_report_from_facts(wilson_facts_from_documents(d))


Q_WILSON_ORACLE = f"""
WITH facts AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN n_chars < {WILSON_CHARS_MIN} THEN 1 ELSE 0 END)
              AS BIGINT) AS s
  FROM documents GROUP BY 1
)
SELECT lang, n AS n_docs, s AS n_short,
       {_WILSON_LO_MICRO} AS lo_micro,
       {_WILSON_HI_MICRO} AS hi_micro
FROM facts
"""

QUERIES["sample_wilson_ci"] = QuerySpec(q_sample_wilson_ci, Q_WILSON_ORACLE)


# -- partial correlation holding a confounder (r15) ------------------------------------------
# The "is it spurious?" follow-up to feat_corr_matrix: r_xy.z strips the
# part of an (x, y) correlation that is explained by both legs' shared
# correlation with z (first-order partial, Anderson 1958). Built ON the
# just-hardened decimal-first exact moments: the three pairwise r's come
# from functions/regression.corr_pair_sql (identical rounded BIGINT micros
# both engines), and the partial resolves from those QUANTIZED r's — a
# documented 1e-6-granularity definition that makes the readout exactly
# reproducible, with error vs the unquantized partial bounded by ~3e-6.
# Scale: one scan to one moment row; the readout is O(1).
PCORR_COLS = ("x1", "d", "y")  # x = x1, z = d (order date), y = cents

_PCORR_MICRO = (
    "CASE WHEN ABS(rxz) < 1000000 AND ABS(ryz) < 1000000 THEN"
    " CAST(FLOOR((CAST(rxy AS DOUBLE) / CAST(1000000 AS DOUBLE)"
    " - CAST(rxz AS DOUBLE) * CAST(ryz AS DOUBLE)"
    " / (CAST(1000000 AS DOUBLE) * CAST(1000000 AS DOUBLE)))"
    " / (sqrt(CAST(1 AS DOUBLE) - (CAST(rxz AS DOUBLE)"
    " / CAST(1000000 AS DOUBLE)) * (CAST(rxz AS DOUBLE)"
    " / CAST(1000000 AS DOUBLE)))"
    " * sqrt(CAST(1 AS DOUBLE) - (CAST(ryz AS DOUBLE)"
    " / CAST(1000000 AS DOUBLE)) * (CAST(ryz AS DOUBLE)"
    " / CAST(1000000 AS DOUBLE))))"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)


def q_feat_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r(x1, y) holding d: does the key-derived feature correlate with
    revenue once the calendar drift both share is held constant? The three
    pair micros come from corr_matrix_micro's exact decimal-first moments;
    the conditional-agg pivot folds 3 rows into 1."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        corr_matrix_micro,
    )

    o = load(spark, sf_dir, "orders")
    feats = o.select(
        (F.col("o_orderkey") % 180 + 60).cast("bigint").alias("x1"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    pairs = corr_matrix_micro(feats, PCORR_COLS)
    one = pairs.agg(
        F.max(
            F.when(
                (F.col("col_a") == "x1") & (F.col("col_b") == "y"),
                F.col("corr_micro"),
            )
        )
        .cast("bigint")
        .alias("rxy"),
        F.max(
            F.when(
                (F.col("col_a") == "x1") & (F.col("col_b") == "d"),
                F.col("corr_micro"),
            )
        )
        .cast("bigint")
        .alias("rxz"),
        F.max(
            F.when(
                (F.col("col_a") == "d") & (F.col("col_b") == "y"),
                F.col("corr_micro"),
            )
        )
        .cast("bigint")
        .alias("ryz"),
    )
    return one.selectExpr(
        "rxy AS r_xy_micro",
        "rxz AS r_xz_micro",
        "ryz AS r_yz_micro",
        f"{_PCORR_MICRO} AS r_partial_micro",
    )


def _pcorr_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.regression import (
        corr_pair_sql,
    )

    cols = PCORR_COLS
    moments = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in cols:
        moments.append(f"CAST(SUM({c}) AS DOUBLE) AS s_{c}")
    for i, a in enumerate(cols):
        for b in cols[i:]:
            lo, hi = sorted((a, b))
            moments.append(
                f"CAST(SUM(CAST({a} AS HUGEINT) * {b}) AS DOUBLE) AS p_{lo}_{hi}"
            )
    return f"""
WITH f AS (
  SELECT CAST(o_orderkey % 180 + 60 AS BIGINT) AS x1,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
), g AS (
  SELECT {", ".join(moments)} FROM f
), pivoted AS (
  SELECT CAST({corr_pair_sql("x1", "y")} AS BIGINT) AS rxy,
         CAST({corr_pair_sql("x1", "d")} AS BIGINT) AS rxz,
         CAST({corr_pair_sql("d", "y")} AS BIGINT) AS ryz
  FROM g
)
SELECT rxy AS r_xy_micro, rxz AS r_xz_micro, ryz AS r_yz_micro,
       {_PCORR_MICRO} AS r_partial_micro
FROM pivoted
"""


QUERIES["feat_partial_corr"] = QuerySpec(q_feat_partial_corr, _pcorr_oracle())


# -- Lorenz concentration deciles (r15) -------------------------------------------------------
# The curve BEHIND ops_gini_concentration's scalar: cumulative revenue
# share per customer decile (poorest tenth first). Decile assignment is
# ANSI NTILE over (cents, custkey) — a total order — computed by
# operators/ranking.ranged_ntile (range partitioning + broadcast offsets;
# the docstring proves value-equality with the single-task window form, so
# the DuckDB NTILE(10) oracle matches bit-for-bit at any corpus size).
# The cumulative fold then runs on TEN rows. Exactness: cents are BIGINT;
# shares resolve through one shared fragment.
LORENZ_TILES = 10

_LORENZ_SHARE_MICRO = (
    "CAST(FLOOR(CAST(cum_cents AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(total_cents AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def q_ops_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.operators.ranking import ranged_ntile

    o = load(spark, sf_dir, "orders")
    per_cust = (
        o.select(
            F.col("o_custkey").cast("bigint").alias("c"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("c")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    tiled = ranged_ntile(per_cust, ["cents", "c"], LORENZ_TILES, "decile")
    # the 10-row decile table feeds three consumers (both sides of the
    # cumulative self-join + the total fold) — pin it so the ranked
    # customer scan behind it runs once, not once per consumer
    deciles = materialize(
        tiled.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.sum("cents").cast("bigint").alias("decile_cents"),
        )
    )
    # ten rows: the cumulative fold is a broadcast self-join, not a window
    cum = (
        deciles.alias("a")
        .join(
            F.broadcast(deciles.alias("b")),
            F.col("b.decile") <= F.col("a.decile"),
        )
        .groupBy(F.col("a.decile").alias("decile"))
        .agg(
            F.first("a.n_cust").alias("n_cust"),
            F.first("a.decile_cents").alias("decile_cents"),
            F.sum("b.decile_cents").cast("bigint").alias("cum_cents"),
        )
    )
    totals = deciles.agg(F.sum("decile_cents").cast("bigint").alias("total_cents"))
    return cum.crossJoin(F.broadcast(totals)).selectExpr(
        "decile",
        "n_cust",
        "decile_cents",
        f"{_LORENZ_SHARE_MICRO} AS cum_share_micro",
    )


Q_LORENZ_ORACLE = f"""
WITH per_cust AS (
  SELECT CAST(o_custkey AS BIGINT) AS c,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
tiled AS (
  SELECT cents, CAST(NTILE({LORENZ_TILES}) OVER (ORDER BY cents, c) AS BIGINT) AS decile
  FROM per_cust
),
deciles AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
         CAST(SUM(cents) AS BIGINT) AS decile_cents
  FROM tiled GROUP BY 1
),
cum AS (
  SELECT a.decile, a.n_cust, a.decile_cents,
         CAST(SUM(b.decile_cents) AS BIGINT) AS cum_cents
  FROM deciles a JOIN deciles b ON b.decile <= a.decile
  GROUP BY 1, 2, 3
),
tot AS (SELECT CAST(SUM(decile_cents) AS BIGINT) AS total_cents FROM deciles)
SELECT decile, n_cust, decile_cents,
       {_LORENZ_SHARE_MICRO} AS cum_share_micro
FROM cum CROSS JOIN tot
"""

QUERIES["ops_lorenz_deciles"] = QuerySpec(q_ops_lorenz_deciles, Q_LORENZ_ORACLE)


# -- iterative proportional fitting (raking) of the training mix (r15) -----------------------
# The mix rebalancer (Deming & Stephan 1940): per-(lang, source) cell
# weights such that the weighted corpus hits UNIFORM language margins and
# uniform source margins simultaneously — the standard answer to "train on
# this corpus as if languages and sources were balanced" without dropping a
# single document. Three full IPF rounds (row-scale, column-scale), each
# half-step's weight QUANTIZED to micro through the shared FLOOR(x+0.5)
# spell — the PageRank/k-core fixed-point-trajectory discipline: both
# engines replay the identical integer trajectory, so convergence noise
# can't flip the hash. Scale shape: ONE corpus scan map-side-combines to
# the |langs|x|sources| grid; every iteration is a grid-sized fold + a
# broadcast join — dimension-bounded forever, and the grid is
# checkpoint-pinned so the half-step fan-out never replays upstream.
IPF_ROUNDS = 3

_IPF_TARGET_L = (
    "CAST(FLOOR(CAST(nn AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(ll AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_IPF_TARGET_S = (
    "CAST(FLOOR(CAST(nn AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(ss AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def ipf_step_sql(target_col: str) -> str:
    """One IPF half-step over columns (w, cl, {target_col}): rescale the
    cell weight by target/current for the axis whose fold produced `cl`,
    quantized half-up to micro. Shared verbatim by the Spark selectExpr and
    the oracle CTEs."""
    return (
        "CASE WHEN cl > 0 THEN"
        " CAST(FLOOR(CAST(w AS DOUBLE)"
        f" * CAST({target_col} AS DOUBLE) / CAST(cl AS DOUBLE)"
        " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
        " ELSE w END"
    )


def raking_cells_from_documents(docs: DataFrame) -> DataFrame:
    """(lang, source, n) — the margin grid from ONE documents scan (the
    streaming twin's SUM ledger fact)."""
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


def raking_report_from_cells(cells: DataFrame) -> DataFrame:
    """The IPF readout over (lang, source, n) facts, however accumulated:
    bake the uniform row/column targets onto the grid, then run IPF_ROUNDS
    full rounds of row- and column-scaling with every half-step quantized
    (shared fragments). Each half-step is a grid-sized aggregate + a
    broadcast join; the grid is pinned per step so the fan-out (the fold
    consumes it AND the join consumes it) replays nothing upstream."""
    cells = materialize(cells)
    tgt = cells.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.countDistinct("lang").cast("bigint").alias("ll"),
        F.countDistinct("source").cast("bigint").alias("ss"),
    ).selectExpr(
        f"{_IPF_TARGET_L} AS tl",
        f"{_IPF_TARGET_S} AS ts",
    )
    grid = materialize(
        cells.crossJoin(F.broadcast(tgt)).selectExpr(
            "lang", "source", "n", "CAST(1000000 AS BIGINT) AS w", "tl", "ts"
        )
    )
    for _ in range(IPF_ROUNDS):
        for axis, target in (("lang", "tl"), ("source", "ts")):
            tot = grid.groupBy(axis).agg(
                F.expr("SUM(CAST(n AS DECIMAL(38,0)) * w)").alias("cl")
            )
            grid = materialize(
                grid.join(F.broadcast(tot), axis)
                .selectExpr(
                    "lang",
                    "source",
                    "n",
                    f"{ipf_step_sql(target)} AS w",
                    "tl",
                    "ts",
                )
            )
    return grid.selectExpr("lang", "source", "n AS n_docs", "w AS w_micro")


def q_sample_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return raking_report_from_cells(raking_cells_from_documents(d))


def _raking_oracle() -> str:
    steps = []
    prev = "g0"
    idx = 0
    for _ in range(IPF_ROUNDS):
        for axis, target in (("lang", "tl"), ("source", "ts")):
            idx += 1
            steps.append(
                f"t{idx} AS (\n"
                f"  SELECT {axis},"
                f" CAST(SUM(CAST(n AS DECIMAL(38,0)) * w) AS DECIMAL(38,0))"
                f" AS cl\n"
                f"  FROM {prev} GROUP BY 1\n"
                f"),\n"
                f"g{idx} AS (\n"
                f"  SELECT g.lang, g.source, g.n,"
                f" {ipf_step_sql(target)} AS w, g.tl, g.ts\n"
                f"  FROM {prev} g JOIN t{idx} USING ({axis})\n"
                f")"
            )
            prev = f"g{idx}"
    chain = ",\n".join(steps)
    return f"""
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
tgt0 AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS ll,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS ss
  FROM cells
),
tgt AS (
  SELECT {_IPF_TARGET_L} AS tl, {_IPF_TARGET_S} AS ts FROM tgt0
),
g0 AS (
  SELECT lang, source, n, CAST(1000000 AS BIGINT) AS w, tl, ts
  FROM cells CROSS JOIN tgt
),
{chain}
SELECT lang, source, n AS n_docs, w AS w_micro FROM {prev}
"""


QUERIES["sample_raking_ipf"] = QuerySpec(q_sample_raking_ipf, _raking_oracle())
