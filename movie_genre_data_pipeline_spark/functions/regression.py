"""Distributed model fitting — closed-form OLS via normal equations (r7).

The scaling-law / feature-weighting primitive a training-data pipeline needs
(fit y ~ features over billions of rows): one full-scan aggregate produces the
Gram matrix X^T X and moment vector X^T y, then the coefficient solve runs on
that single row. For a d-feature model the scan reduces 100 TB to d² + d
numbers — the textbook "normal equations beat gradient descent when d is
small" regime, and the same shape MLlib's `WeightedLeastSquares` uses.

Spark plan: ONE hash aggregate with map-side partial aggregation (the Gram
sums are algebraic), no shuffle beyond the d²-sized final combine. The solve
(Cramer's rule for the 2-feature + intercept case) is a projection over the
one-row aggregate — no driver round-trip, so the whole fit is a single
DataFrame and composes with the rest of a plan.

Determinism contract (what makes `feat_ols_normal_eq` fully SQL-oracle-able):
- inputs are INTEGERS (features and target pre-quantized by the caller, e.g.
  money in cents), so every Gram/moment sum is an exact BIGINT in any
  accumulation order;
- sums are cast to DOUBLE (exact while < 2^53) and the determinant/solve is
  spelled as ONE fixed-parenthesization expression string shared VERBATIM
  with the DuckDB oracle — identical IEEE ops on identical operands are
  bit-identical;
- published coefficients are integers (beta × 10^6, rounded) — rounding a
  shared double to an integer is portable (the half-way gap dwarfs the ulp;
  see tests/test_rounding_portability.py for the rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.session import materialize

# Cramer's rule for [[n,sx1,sx2],[sx1,s11,s12],[sx2,s12,s22]] beta = [sy,s1y,s2y],
# written once and parsed by BOTH engines (identical precedence/ordering →
# identical IEEE evaluation). All identifiers reference DOUBLE-cast sums.
DET_SQL = (
    "(n * (s11 * s22 - s12 * s12)"
    " - sx1 * (sx1 * s22 - s12 * sx2)"
    " + sx2 * (sx1 * s12 - s11 * sx2))"
)
DET0_SQL = (  # target column replaces column 0 (intercept)
    "(sy * (s11 * s22 - s12 * s12)"
    " - sx1 * (s1y * s22 - s12 * s2y)"
    " + sx2 * (s1y * s12 - s11 * s2y))"
)
DET1_SQL = (  # target column replaces column 1 (beta1)
    "(n * (s1y * s22 - s12 * s2y)"
    " - sy * (sx1 * s22 - s12 * sx2)"
    " + sx2 * (sx1 * s2y - s1y * sx2))"
)
DET2_SQL = (  # target column replaces column 2 (beta2)
    "(n * (s11 * s2y - s1y * s12)"
    " - sx1 * (sx1 * s2y - s1y * sx2)"
    " + sy * (sx1 * s12 - s11 * sx2))"
)

GRAM_DOUBLE_COLS = [
    "CAST(n_rows AS DOUBLE) AS n",
    "CAST(sx1 AS DOUBLE) AS sx1",
    "CAST(sx2 AS DOUBLE) AS sx2",
    "CAST(sy AS DOUBLE) AS sy",
    "CAST(s11 AS DOUBLE) AS s11",
    "CAST(s12 AS DOUBLE) AS s12",
    "CAST(s22 AS DOUBLE) AS s22",
    "CAST(s1y AS DOUBLE) AS s1y",
    "CAST(s2y AS DOUBLE) AS s2y",
]

BETA_MICRO_SQL = {
    "beta0_micro": f"CAST(ROUND({DET0_SQL} / {DET_SQL} * 1000000) AS BIGINT)",
    "beta1_micro": f"CAST(ROUND({DET1_SQL} / {DET_SQL} * 1000000) AS BIGINT)",
    "beta2_micro": f"CAST(ROUND({DET2_SQL} / {DET_SQL} * 1000000) AS BIGINT)",
}

# Fit diagnostics over the same one-row Gram (plus the exact second moment
# `syy`, carried in DECIMAL(38,0)/HUGEINT because y² sums exceed BIGINT):
# SSE = y'y − β'X'y (exact normal-equations identity, evaluated on the shared
# float solve so both engines compute the identical doubles), SST = y'y − n·ȳ².
_B0 = f"({DET0_SQL} / {DET_SQL})"
_B1 = f"({DET1_SQL} / {DET_SQL})"
_B2 = f"({DET2_SQL} / {DET_SQL})"
SSE_SQL = f"(syy - ({_B0} * sy + {_B1} * s1y + {_B2} * s2y))"
SST_SQL = "(syy - sy * sy / n)"
FIT_QUALITY_SQL = {
    "r2_micro": f"CAST(ROUND((1.0 - {SSE_SQL} / {SST_SQL}) * 1000000) AS BIGINT)",
    "rmse_cents": f"CAST(ROUND(sqrt({SSE_SQL} / n)) AS BIGINT)",
}


def ols_gram(
    df: DataFrame,
    x1: str,
    x2: str,
    y: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact Gram/moment aggregate for y ~ 1 + x1 + x2 over INTEGER columns:
    (*group_cols, n_rows, sx1, sx2, sy, s11, s12, s22, s1y, s2y), all sums
    BIGINT. One row per group (one row total when ungrouped). This is the
    only stage that touches the data — one map-side-combined aggregate,
    d²·|groups|-sized output, and because the sums are ADDITIVE integers the
    same aggregate is a streaming ledger: per-micro-batch partial Grams fold
    by re-sum into the identical state (suite `stream_ols_normal_eq`)."""
    c1, c2, cy = (F.col(c).cast("bigint") for c in (x1, x2, y))
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(c1).alias("sx1"),
        F.sum(c2).alias("sx2"),
        F.sum(cy).alias("sy"),
        F.sum(c1 * c1).alias("s11"),
        F.sum(c1 * c2).alias("s12"),
        F.sum(c2 * c2).alias("s22"),
        F.sum(c1 * cy).alias("s1y"),
        F.sum(c2 * cy).alias("s2y"),
    )


def ols_fit_quality(df: DataFrame, x1: str, x2: str, y: str) -> DataFrame:
    """(n_rows, r2_micro, rmse_cents): goodness-of-fit for y ~ 1 + x1 + x2.
    Same single-aggregate shape as the fit, plus the exact second moment
    Σy² carried as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — both sum the
    integers exactly and cast to the same DOUBLE, so R² and RMSE come out of
    the shared expressions bit-identical."""
    c1, c2, cy = (F.col(c).cast("bigint") for c in (x1, x2, y))
    g = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(c1).alias("sx1"),
        F.sum(c2).alias("sx2"),
        F.sum(cy).alias("sy"),
        F.sum(c1 * c1).alias("s11"),
        F.sum(c1 * c2).alias("s12"),
        F.sum(c2 * c2).alias("s22"),
        F.sum(c1 * cy).alias("s1y"),
        F.sum(c2 * cy).alias("s2y"),
        F.sum((cy * cy).cast("decimal(38,0)")).alias("syy_d"),
    ).selectExpr(
        "n_rows",
        *GRAM_DOUBLE_COLS,
        "CAST(syy_d AS DOUBLE) AS syy",
    )
    return g.selectExpr(
        "CAST(n_rows AS BIGINT) AS n_rows",
        *[f"{expr} AS {name}" for name, expr in FIT_QUALITY_SQL.items()],
    )


def ols_solve_micro(gram: DataFrame, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Gram rows → (*group_cols, n_rows, beta0/1/2_micro): the Cramer solve
    as a projection over the aggregate (no driver round-trip)."""
    g = gram.selectExpr(*group_cols, "n_rows", *GRAM_DOUBLE_COLS)
    return g.selectExpr(
        *group_cols,
        "CAST(n_rows AS BIGINT) AS n_rows",
        *[f"{expr} AS {name}" for name, expr in BETA_MICRO_SQL.items()],
    )


def ols_fit_micro(
    df: DataFrame,
    x1: str,
    x2: str,
    y: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(*group_cols, n_rows, beta0_micro, beta1_micro, beta2_micro):
    closed-form OLS for y ~ 1 + x1 + x2, per group when `group_cols` is set
    (the "model per segment" shape — one shuffle on the group key, |groups|
    independent fits). Coefficients published as micro-units (beta × 1e6,
    rounded to BIGINT). Exact-integer Gram sums + the shared fixed-order
    Cramer expressions make the result bit-identical across engines."""
    return ols_solve_micro(ols_gram(df, x1, x2, y, group_cols), group_cols)


def corr_pair_sql(a: str, b: str) -> str:
    """The shared Pearson expression for one pair over DOUBLE-cast exact
    moments named n, s_<c> (first moments) and p_<c>_<c> (product moments,
    lexicographic suffix order): ONE fixed-parenthesization string parsed by
    both engines. Published ×1e6 as an integer — corr's ulp (~1e-16) is ten
    orders under the half-unit gap, the portable-rounding rule."""
    lo, hi = sorted((a, b))
    num = f"(n * p_{lo}_{hi} - s_{a} * s_{b})"
    den = (
        f"(sqrt(n * p_{a}_{a} - s_{a} * s_{a})"
        f" * sqrt(n * p_{b}_{b} - s_{b} * s_{b}))"
    )
    return f"CAST(ROUND({num} / {den} * 1000000) AS BIGINT)"


def corr_matrix_micro(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """(col_a, col_b, corr_micro): every pairwise Pearson correlation among k
    INTEGER columns from ONE map-side-combined aggregate — the feature-audit
    primitive (collinearity screen before a fit, drift detection between
    snapshots). The scan reduces the corpus to k + k(k+1)/2 moments; product
    moments are exact for EVERY int64 pair: the hot path is a checked 64-bit
    try_multiply (whole-stage-codegen-friendly), and only a row whose true
    product exceeds BIGINT falls back per-row to the DECIMAL(38,0) multiply
    (|int64·int64| < 8.5e37 < 1e38, so the fallback never overflows) —
    matching the oracle's HUGEINT-first form without paying decimal128
    multiplication on the 99.99% in-range rows (the pure decimal-first form
    measured 1.6-1.8x the BIGINT aggregate at sf0.1; this hybrid measures
    ~1.25x). A plain BIGINT product would error under ANSI (Spark 4 default)
    or wrap under non-ANSI past ~3e9 rows of 1e9-scale features — either way
    an outage this expression class cannot have. Both engines then cast the
    identical exact integer to the identical double.
    The k(k-1)/2 output rows unfold via one stack() projection — no second
    scan, no join, no shuffle beyond the d²-sized combine."""
    if len(cols) < 2:
        raise ValueError("at least two columns are required")
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast("bigint")).cast("double").alias(f"s_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i:]:
            lo, hi = sorted((a, b))
            aggs.append(
                F.sum(
                    F.coalesce(
                        F.expr(
                            f"try_multiply(CAST({a} AS BIGINT),"
                            f" CAST({b} AS BIGINT))"
                        ).cast("decimal(38,0)"),
                        (
                            F.col(a).cast("bigint").cast("decimal(38,0)")
                            * F.col(b).cast("bigint")
                        ).cast("decimal(38,0)"),
                    )
                )
                .cast("double")
                .alias(f"p_{lo}_{hi}")
            )
    g = df.agg(*aggs)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    stack_args = ", ".join(
        f"'{a}', '{b}', {corr_pair_sql(a, b)}" for a, b in pairs
    )
    return g.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, corr_micro)"
    )


def ridge_path_micro(
    df: DataFrame, x1: str, x2: str, y: str, lambdas: tuple[int, ...]
) -> DataFrame:
    """(lam, n_rows, beta0/1/2_micro): the full RIDGE regularization path from
    ONE scan. (XᵀX + λI')β = Xᵀy is the identical Cramer solve over an
    adjusted Gram — s11+λ and s22+λ, intercept unpenalized (I' zeroes the
    intercept row, the glmnet convention) — so the path costs one map-side-
    combined aggregate however many λs are fit: the d²-sized Gram row explodes
    to one row per λ and the solve runs as a projection over all of them.
    Integer λs keep the adjusted sums exact BIGINTs, so every fit on the path
    inherits the OLS bit-identity contract (λ=0 IS the OLS fit)."""
    if not lambdas:
        raise ValueError("at least one lambda is required")
    g = ols_gram(df, x1, x2, y).select(
        F.explode(F.array(*[F.lit(int(l)).cast("bigint") for l in lambdas])).alias(
            "lam"
        ),
        "*",
    )
    penalized = g.select(
        "lam",
        "n_rows",
        "sx1",
        "sx2",
        "sy",
        (F.col("s11") + F.col("lam")).alias("s11"),
        "s12",
        (F.col("s22") + F.col("lam")).alias("s22"),
        "s1y",
        "s2y",
    )
    return ols_solve_micro(penalized, group_cols=("lam",))


# -- logistic regression via IRLS (r8) ----------------------------------------------
# Newton / iteratively-reweighted least squares for y ∈ {0,1} ~ sigmoid(b0 +
# b1·x1 + b2·x2): each iteration reduces the data to the SAME d²-sized
# weighted Gram the OLS fit uses (weights w = μ(1−μ), residuals r = y − μ)
# and solves delta = (XᵀWX)⁻¹ Xᵀr with the shared Cramer strings. The quality-
# classifier primitive of training-data curation (fastText-style filters are
# this plus richer features).
#
# Exactness: betas live as INTEGER micro-units, so z = b0 + b1·x1 + b2·x2 is
# an exact BIGINT dot product; the sigmoid — the only transcendental — is
# quantized to integer micro-units IMMEDIATELY (clamped to [1, 999999] so
# saturated rows keep a nonzero weight), making w and r exact integers and
# every Gram sum accumulation-order-free. Weighted sums carry micro² factors
# (w ≤ 2.5e11), so they ride DECIMAL(38,0)/HUGEINT, cast once to DOUBLE for
# the shared-string solve; the 1e6 scaling of A and rhs cancels in A⁻¹rhs, so
# the micro-delta needs the single ×1e12 literal below.
SIGMOID_MICRO_SQL = (
    "LEAST(999999, GREATEST(1, CAST(ROUND((1.0 / (1.0 + exp(-(CAST(z_micro"
    " AS DOUBLE) / 1000000.0)))) * 1000000.0, 0) AS BIGINT)))"
)
DELTA_MICRO12_SQL = {
    "d0": f"CAST(ROUND({DET0_SQL} / {DET_SQL} * 1000000000000.0) AS BIGINT)",
    "d1": f"CAST(ROUND({DET1_SQL} / {DET_SQL} * 1000000000000.0) AS BIGINT)",
    "d2": f"CAST(ROUND({DET2_SQL} / {DET_SQL} * 1000000000000.0) AS BIGINT)",
}
LOGREG_W_SQL = "mu_micro * (1000000 - mu_micro)"
LOGREG_R_SQL = "y * 1000000 - mu_micro"


def logreg_irls_micro(
    df: DataFrame, x1: str, x2: str, y: str, iters: int = 4
) -> DataFrame:
    """Fit y ~ sigmoid(1, x1, x2) over INTEGER feature columns by `iters`
    IRLS steps from beta = 0 and publish the training trajectory: one row per
    iteration (iter, b0_micro, b1_micro, b2_micro, n_correct, n_rows), where
    n_correct counts rows whose EXACT integer score b0 + b1·x1 + b2·x2
    agrees in sign with the label after that iteration's update.

    Scale shape: per iteration ONE map-side-combined aggregate (d²+d numbers
    leave the executors — the ols_gram shape). r15: the accuracy of step
    t−1's betas and step t's weighted Gram both depend only on beta_{t-1},
    so they FUSE into that same aggregate — iters+1 driver round-trip jobs
    total instead of 2·iters (the final betas' accuracy is the one aggregate
    with no Gram consumer). The solve runs engine-side on the one-row Gram
    and only the d+1 updated micro-betas are collected to drive the next
    plan (bounded driver state, the kcenter-coreset discipline). The feature
    frame is cached across iterations; a cluster deployment would checkpoint
    it instead."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    feats = df.select(
        F.col(x1).cast("bigint").alias("x1"),
        F.col(x2).cast("bigint").alias("x2"),
        F.col(y).cast("bigint").alias("y"),
    ).cache()
    beta = (0, 0, 0)
    rows = []
    dec = "decimal(38,0)"

    def scored_for(b: tuple[int, int, int]) -> DataFrame:
        return feats.select(
            "x1",
            "x2",
            "y",
            (
                F.lit(b[0]) + F.lit(b[1]) * F.col("x1") + F.lit(b[2]) * F.col("x2")
            ).alias("z_micro"),
        ).withColumn("mu_micro", F.expr(SIGMOID_MICRO_SQL))

    # accuracy of the CURRENT betas, over the same scored frame the next
    # Gram derives from: sign(z) agreement with the label
    acc_cols = [
        F.sum(
            F.when((F.col("z_micro") > 0) == (F.col("y") == 1), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("n_correct"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    ]
    for t in range(1, iters + 1):
        scored = scored_for(beta)
        wr = scored.select(
            "x1",
            "x2",
            "y",
            "z_micro",
            F.expr(LOGREG_W_SQL).alias("w"),
            F.expr(LOGREG_R_SQL).alias("r"),
        )
        g = wr.agg(
            F.sum(F.col("w").cast(dec)).alias("ni"),
            F.sum((F.col("w") * F.col("x1")).cast(dec)).alias("sx1i"),
            F.sum((F.col("w") * F.col("x2")).cast(dec)).alias("sx2i"),
            F.sum(F.col("r").cast(dec)).alias("syi"),
            F.sum((F.col("w") * F.col("x1") * F.col("x1")).cast(dec)).alias("s11i"),
            F.sum((F.col("w") * F.col("x1") * F.col("x2")).cast(dec)).alias("s12i"),
            F.sum((F.col("w") * F.col("x2") * F.col("x2")).cast(dec)).alias("s22i"),
            F.sum((F.col("x1") * F.col("r")).cast(dec)).alias("s1yi"),
            F.sum((F.col("x2") * F.col("r")).cast(dec)).alias("s2yi"),
            *acc_cols,
        )
        d = g.select(
            F.col("ni").cast("double").alias("n"),
            F.col("sx1i").cast("double").alias("sx1"),
            F.col("sx2i").cast("double").alias("sx2"),
            F.col("syi").cast("double").alias("sy"),
            F.col("s11i").cast("double").alias("s11"),
            F.col("s12i").cast("double").alias("s12"),
            F.col("s22i").cast("double").alias("s22"),
            F.col("s1yi").cast("double").alias("s1y"),
            F.col("s2yi").cast("double").alias("s2y"),
            "n_correct",
            "n_rows",
        )
        step = d.select(
            F.expr(DELTA_MICRO12_SQL["d0"]).alias("d0"),
            F.expr(DELTA_MICRO12_SQL["d1"]).alias("d1"),
            F.expr(DELTA_MICRO12_SQL["d2"]).alias("d2"),
            "n_correct",
            "n_rows",
        ).collect()[0]
        if t > 1:
            # step's accuracy columns measure beta_{t-1} — the row for t-1
            rows.append(
                (
                    t - 1,
                    beta[0],
                    beta[1],
                    beta[2],
                    int(step["n_correct"]),
                    int(step["n_rows"]),
                )
            )
        beta = (
            beta[0] + int(step["d0"]),
            beta[1] + int(step["d1"]),
            beta[2] + int(step["d2"]),
        )
    acc = scored_for(beta).agg(*acc_cols).collect()[0]
    rows.append(
        (iters, beta[0], beta[1], beta[2], int(acc["n_correct"]), int(acc["n_rows"]))
    )
    feats.unpersist()
    return df.sparkSession.createDataFrame(
        rows,
        "iter int, b0_micro bigint, b1_micro bigint, b2_micro bigint,"
        " n_correct bigint, n_rows bigint",
    )


def logreg_irls_grouped(
    df: DataFrame, group: str, x1: str, x2: str, y: str, iters: int = 3
) -> DataFrame:
    """One independent logistic fit PER GROUP from the same scans — the
    per-domain quality-classifier shape (a filter per source/language).
    Fully declarative: the per-group micro-beta table (|groups| rows) joins
    back broadcast each iteration, the weighted Gram aggregates key on the
    group (ONE shuffle, d²·|groups| state), and the Cramer solve projects
    over every group row at once — no driver round-trip at all, unlike the
    ungrouped trainer's bounded per-step collect. The beta table is
    lineage-truncated per iteration (a checkpoint) so the plan stays flat
    in the iteration count.

    Returns (group, b0_micro, b1_micro, b2_micro, n_correct, n_rows): final
    betas + exact integer-score training accuracy per group."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    feats = materialize(
        df.select(
            F.col(group).alias("__g"),
            F.col(x1).cast("bigint").alias("x1"),
            F.col(x2).cast("bigint").alias("x2"),
            F.col(y).cast("bigint").alias("y"),
        )
    )
    betas = materialize(
        feats.select("__g")
        .distinct()
        .select(
            "__g",
            F.lit(0).cast("bigint").alias("b0"),
            F.lit(0).cast("bigint").alias("b1"),
            F.lit(0).cast("bigint").alias("b2"),
        )
    )
    dec = "decimal(38,0)"
    for _t in range(1, iters + 1):
        scored = feats.join(F.broadcast(betas), "__g").withColumn(
            "z_micro",
            F.col("b0") + F.col("b1") * F.col("x1") + F.col("b2") * F.col("x2"),
        ).withColumn("mu_micro", F.expr(SIGMOID_MICRO_SQL))
        wr = scored.select(
            "__g",
            "x1",
            "x2",
            F.expr(LOGREG_W_SQL).alias("w"),
            F.expr(LOGREG_R_SQL).alias("r"),
        )
        g = wr.groupBy("__g").agg(
            F.sum(F.col("w").cast(dec)).alias("ni"),
            F.sum((F.col("w") * F.col("x1")).cast(dec)).alias("sx1i"),
            F.sum((F.col("w") * F.col("x2")).cast(dec)).alias("sx2i"),
            F.sum(F.col("r").cast(dec)).alias("syi"),
            F.sum((F.col("w") * F.col("x1") * F.col("x1")).cast(dec)).alias("s11i"),
            F.sum((F.col("w") * F.col("x1") * F.col("x2")).cast(dec)).alias("s12i"),
            F.sum((F.col("w") * F.col("x2") * F.col("x2")).cast(dec)).alias("s22i"),
            F.sum((F.col("x1") * F.col("r")).cast(dec)).alias("s1yi"),
            F.sum((F.col("x2") * F.col("r")).cast(dec)).alias("s2yi"),
        )
        d = g.select(
            "__g",
            F.col("ni").cast("double").alias("n"),
            F.col("sx1i").cast("double").alias("sx1"),
            F.col("sx2i").cast("double").alias("sx2"),
            F.col("syi").cast("double").alias("sy"),
            F.col("s11i").cast("double").alias("s11"),
            F.col("s12i").cast("double").alias("s12"),
            F.col("s22i").cast("double").alias("s22"),
            F.col("s1yi").cast("double").alias("s1y"),
            F.col("s2yi").cast("double").alias("s2y"),
        )
        deltas = d.select(
            "__g",
            F.expr(DELTA_MICRO12_SQL["d0"]).alias("d0"),
            F.expr(DELTA_MICRO12_SQL["d1"]).alias("d1"),
            F.expr(DELTA_MICRO12_SQL["d2"]).alias("d2"),
        )
        betas = materialize(
            betas.join(deltas, "__g")
            .select(
                "__g",
                (F.col("b0") + F.col("d0")).alias("b0"),
                (F.col("b1") + F.col("d1")).alias("b1"),
                (F.col("b2") + F.col("d2")).alias("b2"),
            )
        )
    acc = (
        feats.join(F.broadcast(betas), "__g")
        .groupBy("__g")
        .agg(
            F.sum(
                F.when(
                    (
                        F.col("b0")
                        + F.col("b1") * F.col("x1")
                        + F.col("b2") * F.col("x2")
                        > 0
                    )
                    == (F.col("y") == 1),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_correct"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )
    return (
        betas.join(acc, "__g")
        .select(
            F.col("__g").alias(group),
            F.col("b0").alias("b0_micro"),
            F.col("b1").alias("b1_micro"),
            F.col("b2").alias("b2_micro"),
            "n_correct",
            "n_rows",
        )
    )


# -- PCA top component via power iteration (r8) --------------------------------------
# One exact-integer moment pass reduces the facts to the d×d covariance;
# power iteration then runs on that ONE ROW as pure projections — no data
# re-scan per iteration at any corpus size. Determinism: covariance entries
# derive from exact BIGINT/HUGEINT sums through SHARED fixed-parenthesization
# strings; each iterate is L∞-normalized (divide by the max-abs component —
# no sqrt) and quantized to integer micro-units, the IRLS discipline.
PCA_D = 4


def _pca_cov_sql(i: int, j: int) -> str:
    a, b = min(i, j), max(i, j)
    return (
        f"((CAST(s{a}{b} AS DOUBLE) - CAST(s{a} AS DOUBLE) * CAST(s{b}"
        f" AS DOUBLE) / CAST(n_rows AS DOUBLE)) / CAST(n_rows AS DOUBLE))"
    )


def pca_u_sql(i: int) -> str:
    """u_i = Σ_j C_ij · (v_j / 1e6) — one shared string per component."""
    return " + ".join(
        f"c{min(i, j)}{max(i, j)} * (CAST(v{j} AS DOUBLE) / 1000000.0)" for j in range(1, PCA_D + 1)
    )


PCA_M_SQL = "GREATEST(" + ", ".join(f"ABS(u{i})" for i in range(1, PCA_D + 1)) + ")"


def pca_moments(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact integer moment aggregate for PCA_D integer columns: one
    map-side-combined pass → (n_rows, s{i}, s{i}{j} for i<=j)."""
    assert len(cols) == PCA_D
    c = {i + 1: F.col(col).cast("bigint") for i, col in enumerate(cols)}
    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i in range(1, PCA_D + 1):
        aggs.append(F.sum(c[i].cast(dec)).alias(f"s{i}"))
    for i in range(1, PCA_D + 1):
        for j in range(i, PCA_D + 1):
            aggs.append(F.sum((c[i] * c[j]).cast(dec)).alias(f"s{i}{j}"))
    return df.agg(*aggs)


def pca_power_top1(df: DataFrame, cols: list[str], iters: int = 8) -> DataFrame:
    """Top principal component of PCA_D integer columns by `iters` power
    iterations, one row out: (v1_micro..v4_micro, lambda_micro,
    explained_ratio). The eigenvector is L∞-normalized (max-abs component =
    ±1e6) and sign-canonicalized so the max-abs component is positive;
    lambda is the Rayleigh quotient of the final iterate; explained_ratio
    = lambda / trace(C)."""
    return pca_power_from_moments(pca_moments(df, cols), iters=iters)


def pca_power_from_moments(g: DataFrame, iters: int = 8) -> DataFrame:
    """The solve half of `pca_power_top1`, off a one-row moments frame
    (n_rows, s{i}, s{i}{j}) — however it was produced: one batch pass or a
    fold of per-micro-batch ADDITIVE partials (the moments are exact
    integer sums, so the streaming ledger re-sum is the identical state —
    suite `stream_pca_moments`)."""
    cov = g.select(
        *[
            F.expr(_pca_cov_sql(i, j)).alias(f"c{i}{j}")
            for i in range(1, PCA_D + 1)
            for j in range(i, PCA_D + 1)
        ]
    )
    v = cov.select(
        "*", *[F.lit(1_000_000).cast("bigint").alias(f"v{i}") for i in range(1, PCA_D + 1)]
    )
    for _t in range(iters):
        u = v.select(
            "*", *[F.expr(pca_u_sql(i)).alias(f"u{i}") for i in range(1, PCA_D + 1)]
        ).withColumn("m", F.expr(PCA_M_SQL))
        v = u.select(
            *[F.col(f"c{i}{j}") for i in range(1, PCA_D + 1) for j in range(i, PCA_D + 1)],
            *[
                F.expr(f"CAST(ROUND(u{i} / m * 1000000.0, 0) AS BIGINT)").alias(
                    f"v{i}"
                )
                for i in range(1, PCA_D + 1)
            ],
        )
    ray_num = " + ".join(
        f"(CAST(v{i} AS DOUBLE) / 1000000.0) * c{min(i, j)}{max(i, j)} * (CAST(v{j} AS DOUBLE) / 1000000.0)"
        for i in range(1, PCA_D + 1)
        for j in range(1, PCA_D + 1)
    )
    ray_den = " + ".join(
        f"(CAST(v{i} AS DOUBLE) / 1000000.0) * (CAST(v{i} AS DOUBLE) / 1000000.0)" for i in range(1, PCA_D + 1)
    )
    trace = " + ".join(f"c{i}{i}" for i in range(1, PCA_D + 1))
    sign = (
        "CASE "
        + " ".join(
            f"WHEN ABS(v{i}) = 1000000 THEN (CASE WHEN v{i} > 0 THEN 1 ELSE -1 END)"
            for i in range(1, PCA_D + 1)
        )
        + " ELSE 1 END"
    )
    lam = f"(({ray_num}) / ({ray_den}))"
    return v.select(
        *[
            F.expr(f"CAST(({sign}) * v{i} AS BIGINT)").alias(f"v{i}_micro")
            for i in range(1, PCA_D + 1)
        ],
        F.expr(f"CAST(ROUND({lam} * 1000000.0, 0) AS BIGINT)").alias("lambda_micro"),
        F.expr(f"ROUND({lam} / ({trace}), 6)").alias("explained_ratio"),
    )


# -- deflated power iteration: the SECOND principal component (r9) ----------------------
def pca_ray_sql(v: str = "v") -> str:
    """Rayleigh quotient "(num)/(den)" of the iterate columns {v}1..{v}D over
    the covariance columns c{ij} — one shared string per engine."""
    num = " + ".join(
        f"(CAST({v}{i} AS DOUBLE) / 1000000.0) * c{min(i, j)}{max(i, j)}"
        f" * (CAST({v}{j} AS DOUBLE) / 1000000.0)"
        for i in range(1, PCA_D + 1)
        for j in range(1, PCA_D + 1)
    )
    den = " + ".join(
        f"(CAST({v}{i} AS DOUBLE) / 1000000.0) * (CAST({v}{i} AS DOUBLE) / 1000000.0)"
        for i in range(1, PCA_D + 1)
    )
    return f"(({num}) / ({den}))"


def pca_sign_sql(v: str = "v") -> str:
    """Sign-canonicalization CASE: +1 if the (first) max-abs component of the
    L∞-normalized iterate is positive, else -1."""
    return (
        "CASE "
        + " ".join(
            f"WHEN ABS({v}{i}) = 1000000 THEN (CASE WHEN {v}{i} > 0 THEN 1 ELSE -1 END)"
            for i in range(1, PCA_D + 1)
        )
        + " ELSE 1 END"
    )


def pca_u2_sql(i: int) -> str:
    """Deflated multiply: u2_i = Σ_j (C_ij − λ1·ŵ_i·ŵ_j) · (v2_j / 1e6) with
    ŵ = w/‖w‖₂, written as C·v2 − λ1·w_i·(w·v2)/(w·w) so the outer product
    never materializes AND the deflation is exact under the L∞-normalized w
    the iterates carry (‖w‖₂² can reach D; without the /(w·w) the residual
    eigenvalue along v1 is λ1·(1−‖w‖²) and loop 2 can converge straight back
    to ±v1 — numerically reproduced on random spread-eigenvector covariances).
    w{j} and lam1 ride as columns; one shared string per engine."""
    base = " + ".join(
        f"c{min(i, j)}{max(i, j)} * (CAST(v2{j} AS DOUBLE) / 1000000.0)"
        for j in range(1, PCA_D + 1)
    )
    dotw = " + ".join(
        f"w{j} * (CAST(v2{j} AS DOUBLE) / 1000000.0)" for j in range(1, PCA_D + 1)
    )
    ww = " + ".join(f"w{j} * w{j}" for j in range(1, PCA_D + 1))
    return f"({base}) - lam1 * w{i} * (({dotw}) / ({ww}))"


PCA_M2_SQL = "GREATEST(" + ", ".join(f"ABS(u2{i})" for i in range(1, PCA_D + 1)) + ")"

# alternating-sign init for the deflated loop: the all-ones init the first
# loop uses tends to lie close to a dominant all-positive component — a bad
# (slow, possibly degenerate) start once that direction is deflated away
PCA_V2_INIT = [1_000_000 if i % 2 == 1 else -1_000_000 for i in range(1, PCA_D + 1)]


def pca_power_deflated(g: DataFrame, iters: int = 8) -> DataFrame:
    """Top TWO principal components by power iteration + Hotelling deflation,
    off the same one-row exact-integer moments frame as
    `pca_power_from_moments`: loop 1 converges v (the top component), then
    λ1 and the unit-scale w ride along as columns and loop 2 iterates
    (C − λ1·w·wᵀ) — still zero data re-scans; every iterate re-quantizes to
    integer micros so the whole two-component trajectory replays
    bit-identically in SQL. Published λ2 is the Rayleigh quotient of the
    second iterate over the ORIGINAL covariance (equal to the deflated one
    at convergence, and the number a scree plot wants)."""
    cov = g.select(
        *[
            F.expr(_pca_cov_sql(i, j)).alias(f"c{i}{j}")
            for i in range(1, PCA_D + 1)
            for j in range(i, PCA_D + 1)
        ]
    )
    ccols = [f"c{i}{j}" for i in range(1, PCA_D + 1) for j in range(i, PCA_D + 1)]
    v = cov.select(
        "*",
        *[F.lit(1_000_000).cast("bigint").alias(f"v{i}") for i in range(1, PCA_D + 1)],
    )
    for _t in range(iters):
        u = v.select(
            "*", *[F.expr(pca_u_sql(i)).alias(f"u{i}") for i in range(1, PCA_D + 1)]
        ).withColumn("m", F.expr(PCA_M_SQL))
        v = u.select(
            *ccols,
            *[
                F.expr(f"CAST(ROUND(u{i} / m * 1000000.0, 0) AS BIGINT)").alias(
                    f"v{i}"
                )
                for i in range(1, PCA_D + 1)
            ],
        )
    sgn1 = pca_sign_sql("v")
    d = v.select(
        *ccols,
        *[F.expr(f"CAST(({sgn1}) * v{i} AS BIGINT)").alias(f"v{i}") for i in range(1, PCA_D + 1)],
    )
    d = d.select(
        "*",
        F.expr(pca_ray_sql("v")).alias("lam1"),
        *[
            F.expr(f"CAST(v{i} AS DOUBLE) / 1000000.0").alias(f"w{i}")
            for i in range(1, PCA_D + 1)
        ],
    )
    v2 = d.select(
        "*",
        *[
            F.lit(PCA_V2_INIT[i - 1]).cast("bigint").alias(f"v2{i}")
            for i in range(1, PCA_D + 1)
        ],
    )
    carry = ccols + [f"v{i}" for i in range(1, PCA_D + 1)] + ["lam1"] + [
        f"w{i}" for i in range(1, PCA_D + 1)
    ]
    for _t in range(iters):
        u2 = v2.select(
            "*", *[F.expr(pca_u2_sql(i)).alias(f"u2{i}") for i in range(1, PCA_D + 1)]
        ).withColumn("m2", F.expr(PCA_M2_SQL))
        v2 = u2.select(
            *carry,
            *[
                F.expr(f"CAST(ROUND(u2{i} / m2 * 1000000.0, 0) AS BIGINT)").alias(
                    f"v2{i}"
                )
                for i in range(1, PCA_D + 1)
            ],
        )
    sgn2 = pca_sign_sql("v2")
    lam2 = pca_ray_sql("v2")
    trace = " + ".join(f"c{i}{i}" for i in range(1, PCA_D + 1))
    return v2.select(
        *[F.expr(f"CAST(v{i} AS BIGINT)").alias(f"v{i}_micro") for i in range(1, PCA_D + 1)],
        F.expr(f"CAST(ROUND(lam1 * 1000000.0, 0) AS BIGINT)").alias("lambda1_micro"),
        *[
            F.expr(f"CAST(({sgn2}) * v2{i} AS BIGINT)").alias(f"v2{i}_micro")
            for i in range(1, PCA_D + 1)
        ],
        F.expr(f"CAST(ROUND({lam2} * 1000000.0, 0) AS BIGINT)").alias("lambda2_micro"),
        F.expr(f"ROUND(lam1 / ({trace}), 6)").alias("explained1_ratio"),
        F.expr(f"ROUND({lam2} / ({trace}), 6)").alias("explained2_ratio"),
    )
