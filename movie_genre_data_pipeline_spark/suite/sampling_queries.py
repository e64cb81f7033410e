"""Deterministic sampling / splitting / packing queries over `documents`
(north star: reproducible training-data curation). Membership decisions are
md5-hash thresholds (functions/sampling.py), so the DuckDB oracle reproduces the
EXACT same sample — something seed-based `df.sample()` can never guarantee across
engines or even across repartitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.functions.sampling import (
    assign_split,
    corpus_shuffle,
    hex_threshold,
    pack_token_budget,
    stratified_sample,
)
from movie_genre_data_pipeline_spark.functions.text import token_count
from movie_genre_data_pipeline_spark.session import materialize
from movie_genre_data_pipeline_spark.suite import QuerySpec, load
from movie_genre_data_pipeline_spark.suite.text_queries import _TOKS

# per-language sampling rates: downsample dominant langs, keep the tail
_FRACTIONS = {"en": 0.5, "de": 0.8, "fr": 0.25, "es": 0.6, "zh": 1.0}
_SPLITS = (("train", 0.8), ("val", 0.1), ("test", 0.1))
_TOKEN_BUDGET = 2000


def q_sample_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsample by language, then train/val/test assignment —
    both decisions pure functions of doc_id (independent salts), aggregated to
    (lang, split) counts + token totals."""
    d = load(spark, sf_dir, "documents")
    sampled = stratified_sample(d, "doc_id", "lang", _FRACTIONS)
    labeled = sampled.withColumn("split", assign_split("doc_id", _SPLITS))
    return labeled.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("total_tokens"),
    )


def _stratified_split_oracle() -> str:
    keep = " OR ".join(
        f"(lang = '{lang}' AND md5(doc_id || ':sample') < '{hex_threshold(f)}')"
        for lang, f in _FRACTIONS.items()
    )
    t_train = hex_threshold(0.8)
    t_val = hex_threshold(0.9)
    return f"""
WITH sampled AS (
  SELECT doc_id, lang, {_TOKS} AS toks
  FROM documents
  WHERE {keep}
),
labeled AS (
  SELECT lang,
         CASE WHEN md5(doc_id || ':split') < '{t_train}' THEN 'train'
              WHEN md5(doc_id || ':split') < '{t_val}' THEN 'val'
              ELSE 'test' END AS split,
         CAST(len(toks) AS BIGINT) AS n_tokens
  FROM sampled
)
SELECT lang, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM labeled GROUP BY 1, 2
"""


def q_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus sharding: per-language running token sum chops the doc sequence
    into ~2000-token training chunks; aggregated to per-chunk stats."""
    d = load(spark, sf_dir, "documents")
    packed = pack_token_budget(
        d, "doc_id", token_count("text"), "lang", _TOKEN_BUDGET
    )
    return packed.groupBy("lang", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("chunk_tokens"),
    )


Q_PACK_TOKEN_BUDGET_ORACLE = f"""
WITH t AS (
  SELECT lang, doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
c AS (
  SELECT lang, n_tokens,
         CAST(FLOOR(
           (SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) - n_tokens)
           / {float(_TOKEN_BUDGET)}
         ) AS BIGINT) AS chunk_id
  FROM t
)
SELECT lang, chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
FROM c GROUP BY 1, 2
"""


N_SHARDS = 8


def q_sample_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: every doc gets a (shard, pos)
    that is a pure function of doc_id — reproducible across engines, retries,
    and partitionings, unlike orderBy(rand())."""
    d = load(spark, sf_dir, "documents")
    return corpus_shuffle(d, "doc_id", N_SHARDS).select("doc_id", "shard", "pos")


Q_CORPUS_SHUFFLE_ORACLE = f"""
WITH tagged AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(doc_id || ':shuffle'), 1, 12)) AS BIGINT)
           % {N_SHARDS} AS shard,
         md5(doc_id || ':shuffle:order') AS ord
  FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord ASC, doc_id ASC)
            AS BIGINT) AS pos
FROM tagged
"""


RESERVOIR_K = 25


def q_sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted corpus subset: per language, keep the 25 docs with
    the highest priority n_chars/u (Duffield et al. priority sampling) — longer
    docs are proportionally likelier, yet the draw is a pure function of doc_id
    (u = 48-bit md5 fraction), so the oracle reproduces the exact sample AND
    the priority values bit-for-bit (single IEEE division, no pow/log)."""
    from movie_genre_data_pipeline_spark.functions.sampling import priority_sample

    d = load(spark, sf_dir, "documents")
    picked = priority_sample(
        d, "doc_id", "n_chars", RESERVOIR_K, strata_col="lang"
    )
    return picked.select("lang", "doc_id", "n_chars", "priority")


Q_WEIGHTED_RESERVOIR_ORACLE = f"""
WITH tagged AS (
  SELECT lang, doc_id, n_chars,
         CAST(n_chars AS DOUBLE) /
           ((CAST(concat('0x', substring(md5(doc_id || ':priority'), 1, 12))
                  AS BIGINT) + 1) / {float(1 << 48)!r}) AS priority
  FROM documents
)
SELECT lang, doc_id, n_chars, priority FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY lang ORDER BY priority DESC, doc_id ASC) AS rn
  FROM tagged
) t WHERE rn <= {RESERVOIR_K}
"""


QUERIES: dict[str, QuerySpec] = {
    "sample_stratified_split": QuerySpec(
        q_sample_stratified_split, _stratified_split_oracle()
    ),
    "sample_weighted_reservoir": QuerySpec(
        q_sample_weighted_reservoir, Q_WEIGHTED_RESERVOIR_ORACLE
    ),
    "pack_token_budget": QuerySpec(q_pack_token_budget, Q_PACK_TOKEN_BUDGET_ORACLE),
    "sample_corpus_shuffle": QuerySpec(
        q_sample_corpus_shuffle, Q_CORPUS_SHUFFLE_ORACLE
    ),
}


# -- temperature mixture sampling at alpha = 0.5 (r5) -----------------------------------
TEMP_TARGET = 300  # < corpus size so the α-rebalancing actually bites (en downsampled hardest)


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual rebalancing
    (functions/sampling.py:temperature_resample): shares ∝ √n_s lift
    low-resource languages relative to raw proportions — the mBERT/XLM-R
    mixing formula, exact at α = 0.5 because √ is correctly rounded and the
    normalizer folds in stratum-sorted order on both engines. The output
    reports observed vs target per language so the rebalancing effect is the
    checked value."""
    from movie_genre_data_pipeline_spark.functions.sampling import (
        temperature_resample,
    )

    d = load(spark, sf_dir, "documents")
    kept = temperature_resample(d, "doc_id", "lang", TEMP_TARGET, salt="temp5")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    kept_counts = kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept")
    )
    return counts.join(kept_counts, "lang", "left").select(
        "lang",
        "n_total",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
    )


Q_TEMPERATURE_MIXTURE_ORACLE = f"""
WITH counts AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
norm AS (
  SELECT list_aggregate(list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang), 'sum') AS w
  FROM counts
),
rates AS (
  SELECT lang, n,
         LEAST(1.0, sqrt(CAST(n AS DOUBLE)) / w * {float(TEMP_TARGET)!r}
                    / CAST(n AS DOUBLE)) AS rate
  FROM counts, norm
),
kept AS (
  SELECT d.lang
  FROM documents d JOIN rates r USING (lang)
  WHERE CAST(concat('0x', substring(
          md5(concat(CAST(doc_id AS VARCHAR), ':temp5')), 1, 12)) AS BIGINT)
        / {float(1 << 48)!r} < r.rate
),
kc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept FROM kept GROUP BY lang)
SELECT c.lang, c.n AS n_total, COALESCE(kc.n_kept, 0) AS n_kept
FROM counts c LEFT JOIN kc USING (lang)
"""


QUERIES["sample_temperature_mixture"] = QuerySpec(
    q_temperature_mixture, Q_TEMPERATURE_MIXTURE_ORACLE
)


FEAT_N_BINS = 10


def q_feat_equal_freq_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency discretization (the feature-engineering prep step):
    NTILE bins per series over a TOTAL order (value, then id — ties must not
    leave bin assignment to the engine), reported as per-bin count + exact
    value span. Binning is per event_type, so the window parallelizes across
    series (the per-partition discipline; a production pipeline swaps NTILE
    for approx-quantile cutpoints when a single series outgrows one task).
    NTILE's remainder rule (first bins take the extra rows) is SQL-standard
    and identical in both engines, so bin membership is oracle-exact."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    binned = ev.withColumn("bin", F.ntile(FEAT_N_BINS).over(w))
    return binned.groupBy("event_type", "bin").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


Q_FEAT_EQUAL_FREQ_BINS_ORACLE = f"""
WITH binned AS (
  SELECT event_type, value,
         NTILE({FEAT_N_BINS}) OVER (PARTITION BY event_type
                                    ORDER BY value ASC, event_id ASC) AS bin
  FROM events
)
SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(MIN(value), 6) AS lo, ROUND(MAX(value), 6) AS hi
FROM binned GROUP BY event_type, bin
"""


QUERIES["feat_equal_freq_bins"] = QuerySpec(
    q_feat_equal_freq_bins, Q_FEAT_EQUAL_FREQ_BINS_ORACLE
)


# -- distributed model fitting: closed-form OLS via normal equations (r7) ---------------
def q_feat_ols_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit totalprice_cents ~ 1 + runtime + genre_id over orders — the
    scaling-law / feature-weighting primitive (functions/regression.py): ONE
    map-side-combined aggregate reduces the fact table to the 3×3 integer
    Gram matrix + moment vector, and Cramer's rule solves on that single row
    as a projection. Integer inputs → exact BIGINT sums in any accumulation
    order; the determinant expressions are ONE shared string parsed by both
    engines, so the published micro-unit coefficients are bit-identical."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        ols_fit_micro,
    )

    o = load(spark, sf_dir, "orders")
    feats = o.select(
        (F.col("o_orderkey") % 180 + 60).cast("bigint").alias("x1"),
        (F.col("o_custkey") % 25).cast("bigint").alias("x2"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    return ols_fit_micro(feats, "x1", "x2", "y")


def _feat_ols_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.regression import (
        BETA_MICRO_SQL,
        GRAM_DOUBLE_COLS,
    )

    betas = ",\n       ".join(
        f"{expr} AS {name}" for name, expr in BETA_MICRO_SQL.items()
    )
    return f"""
WITH f AS (
  SELECT CAST(o_orderkey % 180 + 60 AS BIGINT) AS x1,
         CAST(o_custkey % 25 AS BIGINT) AS x2,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
), gi AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(x1) AS BIGINT) AS sx1,
         CAST(SUM(x2) AS BIGINT) AS sx2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(x1 * y) AS BIGINT) AS s1y,
         CAST(SUM(x2 * y) AS BIGINT) AS s2y
  FROM f
), g AS (
  SELECT n_rows, {", ".join(GRAM_DOUBLE_COLS)} FROM gi
)
SELECT CAST(n_rows AS BIGINT) AS n_rows,
       {betas}
FROM g
"""


QUERIES["feat_ols_normal_eq"] = QuerySpec(q_feat_ols_normal_eq, _feat_ols_oracle())


# -- per-segment model fitting: grouped OLS (r7) ----------------------------------------
def q_feat_ols_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One independent OLS fit PER ORDER-PRIORITY SEGMENT — the "model per
    segment" shape (per-domain quality weights, per-language scaling laws):
    the same exact-integer Gram aggregate keyed by the segment column, ONE
    shuffle on the group key, d²·|segments| state, and the Cramer solve runs
    as a projection over every group row at once. At 100 TB this fits
    thousands of segment models in a single pass over the facts."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        ols_fit_micro,
    )

    o = load(spark, sf_dir, "orders")
    feats = o.select(
        F.col("o_orderpriority").alias("segment"),
        (F.col("o_orderkey") % 180 + 60).cast("bigint").alias("x1"),
        (F.col("o_custkey") % 25).cast("bigint").alias("x2"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    return ols_fit_micro(feats, "x1", "x2", "y", group_cols=("segment",))


def _feat_ols_segment_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.regression import (
        BETA_MICRO_SQL,
        GRAM_DOUBLE_COLS,
    )

    betas = ",\n       ".join(
        f"{expr} AS {name}" for name, expr in BETA_MICRO_SQL.items()
    )
    return f"""
WITH f AS (
  SELECT o_orderpriority AS segment,
         CAST(o_orderkey % 180 + 60 AS BIGINT) AS x1,
         CAST(o_custkey % 25 AS BIGINT) AS x2,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
), gi AS (
  SELECT segment,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(x1) AS BIGINT) AS sx1,
         CAST(SUM(x2) AS BIGINT) AS sx2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(x1 * y) AS BIGINT) AS s1y,
         CAST(SUM(x2 * y) AS BIGINT) AS s2y
  FROM f GROUP BY segment
), g AS (
  SELECT segment, n_rows AS n_rows_i, {", ".join(GRAM_DOUBLE_COLS)} FROM gi
)
SELECT segment, CAST(n_rows_i AS BIGINT) AS n_rows,
       {betas}
FROM g
"""


QUERIES["feat_ols_by_segment"] = QuerySpec(
    q_feat_ols_by_segment, _feat_ols_segment_oracle()
)


# -- fit diagnostics: R² / RMSE from the same one-pass aggregate (r7) -------------------
def q_feat_ols_fit_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodness-of-fit for the orders model — R² and RMSE from the SAME
    single Gram aggregate as the fit (plus the exact Σy² second moment,
    carried in DECIMAL(38,0)/HUGEINT because squared cents exceed BIGINT):
    SSE = y'y − β'X'y is the normal-equations identity, evaluated on the
    shared-expression float solve so both engines produce identical doubles;
    published as integer micro-units / cents."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        ols_fit_quality,
    )

    o = load(spark, sf_dir, "orders")
    feats = o.select(
        (F.col("o_orderkey") % 180 + 60).cast("bigint").alias("x1"),
        (F.col("o_custkey") % 25).cast("bigint").alias("x2"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    return ols_fit_quality(feats, "x1", "x2", "y")


def _feat_ols_quality_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.regression import (
        FIT_QUALITY_SQL,
        GRAM_DOUBLE_COLS,
    )

    outs = ",\n       ".join(
        f"{expr} AS {name}" for name, expr in FIT_QUALITY_SQL.items()
    )
    return f"""
WITH f AS (
  SELECT CAST(o_orderkey % 180 + 60 AS BIGINT) AS x1,
         CAST(o_custkey % 25 AS BIGINT) AS x2,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
), gi AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(x1) AS BIGINT) AS sx1,
         CAST(SUM(x2) AS BIGINT) AS sx2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(x1 * y) AS BIGINT) AS s1y,
         CAST(SUM(x2 * y) AS BIGINT) AS s2y,
         SUM(CAST(y AS HUGEINT) * y) AS syy_h
  FROM f
), g AS (
  SELECT n_rows, {", ".join(GRAM_DOUBLE_COLS)},
         CAST(syy_h AS DOUBLE) AS syy
  FROM gi
)
SELECT CAST(n_rows AS BIGINT) AS n_rows,
       {outs}
FROM g
"""


QUERIES["feat_ols_fit_quality"] = QuerySpec(
    q_feat_ols_fit_quality, _feat_ols_quality_oracle()
)


# -- regularization path: ridge from the same one-pass Gram (r7) ------------------------
# λ grid sized against the fixture's Gram scale (s11 ≈ n·x1² ≈ 3.4e8 at
# sf0.01): 0 reproduces OLS exactly, 1e6/1e8/1e10 sweep from negligible to
# dominating penalty, so the published path shows real shrinkage.
RIDGE_LAMBDAS = (0, 10**6, 10**8, 10**10)


def q_feat_ridge_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge path for totalprice_cents ~ 1 + x1 + x2 over orders
    (functions/regression.py:ridge_path_micro): ONE Gram scan, the λ grid
    explodes the one-row aggregate, and the shared Cramer expressions solve
    (XᵀX + λI')β = Xᵀy per λ as a projection. λ=0 is bit-identical to
    feat_ols_normal_eq; the shrinkage law |β(λ)| non-increasing is pinned in
    tests/test_regression.py."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        ridge_path_micro,
    )

    o = load(spark, sf_dir, "orders")
    feats = o.select(
        (F.col("o_orderkey") % 180 + 60).cast("bigint").alias("x1"),
        (F.col("o_custkey") % 25).cast("bigint").alias("x2"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    return ridge_path_micro(feats, "x1", "x2", "y", RIDGE_LAMBDAS)


def _feat_ridge_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.regression import (
        BETA_MICRO_SQL,
        GRAM_DOUBLE_COLS,
    )

    betas = ",\n       ".join(
        f"{expr} AS {name}" for name, expr in BETA_MICRO_SQL.items()
    )
    lam_rows = ", ".join(f"({l})" for l in RIDGE_LAMBDAS)
    return f"""
WITH f AS (
  SELECT CAST(o_orderkey % 180 + 60 AS BIGINT) AS x1,
         CAST(o_custkey % 25 AS BIGINT) AS x2,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
), gi AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(x1) AS BIGINT) AS sx1,
         CAST(SUM(x2) AS BIGINT) AS sx2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(x1 * y) AS BIGINT) AS s1y,
         CAST(SUM(x2 * y) AS BIGINT) AS s2y
  FROM f
), gp AS (
  SELECT CAST(lam.lam AS BIGINT) AS lam, n_rows, sx1, sx2, sy,
         CAST(s11 + lam.lam AS BIGINT) AS s11, s12,
         CAST(s22 + lam.lam AS BIGINT) AS s22, s1y, s2y
  FROM gi CROSS JOIN (VALUES {lam_rows}) AS lam(lam)
), g AS (
  SELECT lam, n_rows AS n_rows_i, {", ".join(GRAM_DOUBLE_COLS)} FROM gp
)
SELECT lam, CAST(n_rows_i AS BIGINT) AS n_rows,
       {betas}
FROM g
"""


QUERIES["feat_ridge_path"] = QuerySpec(q_feat_ridge_path, _feat_ridge_oracle())


# -- feature audit: all-pairs Pearson correlation in one pass (r7) ----------------------
_CORR_COLS = ("x1", "x2", "d", "y")


def q_feat_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations among four integer order features — the
    collinearity screen run before any fit (functions/regression.py:
    corr_matrix_micro): ONE map-side-combined aggregate produces the exact
    k + k(k+1)/2 moments (product moments in DECIMAL(38,0)/HUGEINT — integer
    cross-products overflow BIGINT at fact scale), and the 6 output rows
    unfold by a stack() projection. The correlation doubles come from shared
    fixed-order expressions over identical exact-integer-derived operands,
    published ×1e6 as integers per the portable-rounding rule."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        corr_matrix_micro,
    )

    o = load(spark, sf_dir, "orders")
    feats = o.select(
        (F.col("o_orderkey") % 180 + 60).cast("bigint").alias("x1"),
        (F.col("o_custkey") % 25).cast("bigint").alias("x2"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    return corr_matrix_micro(feats, _CORR_COLS)


def _feat_corr_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.regression import (
        corr_pair_sql,
    )

    cols = _CORR_COLS
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
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, {corr_pair_sql(a, b)} AS corr_micro FROM g"
        for a, b in pairs
    )
    return f"""
WITH f AS (
  SELECT CAST(o_orderkey % 180 + 60 AS BIGINT) AS x1,
         CAST(o_custkey % 25 AS BIGINT) AS x2,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
), g AS (
  SELECT {", ".join(moments)} FROM f
)
{rows}
"""


QUERIES["feat_corr_matrix"] = QuerySpec(q_feat_corr_matrix, _feat_corr_oracle())


# -- leakage-safe splitting: assign by GROUP, not by row (r7) ----------------------------
def q_sample_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware train/val/test assignment — the leakage defense row-level
    splitting cannot give: the fold is a pure function of the CUSTOMER key,
    so every order of a customer lands in one fold and evaluation never sees
    a training customer's sibling rows (near-duplicate leakage). Same
    md5-threshold machinery as sample_stratified_split, keyed on the group;
    no-group-spans-folds is structural (a deterministic function of the key)
    and pinned in tests/test_sampling.py. Scale shape: the label is a scan-
    local projection on the fact table — no join, no shuffle before the
    summary aggregate."""
    from movie_genre_data_pipeline_spark.functions.sampling import assign_split

    o = load(spark, sf_dir, "orders")
    labeled = o.select(
        F.col("o_custkey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        assign_split("o_custkey", _SPLITS),
    )
    return labeled.groupBy("split").agg(
        F.count_distinct("o_custkey").cast("bigint").alias("n_groups"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").alias("total_cents"),
    )


def _group_split_oracle() -> str:
    t_train = hex_threshold(0.8)
    t_val = hex_threshold(0.9)
    return f"""
WITH labeled AS (
  SELECT o_custkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN md5(o_custkey || ':split') < '{t_train}' THEN 'train'
              WHEN md5(o_custkey || ':split') < '{t_val}' THEN 'val'
              ELSE 'test' END AS split
  FROM orders
)
SELECT split,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_groups,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM labeled GROUP BY split
"""


QUERIES["sample_group_split"] = QuerySpec(q_sample_group_split, _group_split_oracle())


# -- target encoding with smoothing + leave-one-out (r7) --------------------------------
# The categorical-feature workhorse: encode a category as its smoothed target
# mean, enc = (Σy_cat + m·ȳ_global) / (n_cat + m) — and the leakage-aware
# leave-one-out form every training pipeline actually needs,
# enc_loo(i) = (Σy_cat − y_i) / (n_cat − 1), whose extremes this query
# publishes per category. Exactness: integer-cent sums, the global mean
# enters as the exact integer pair (Σy, n) so the smoothed numerator
# Σy_cat·n + m·Σy stays an exact BIGINT (no pre-divided double), and every
# published value is a shared-expression division micro-rounded to BIGINT.
# One aggregate over the facts + a broadcast one-row global — no second scan.
TE_SMOOTHING = 100


def q_feat_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("category"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    per_cat = base.groupBy("category").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cat"),
        F.sum("y").cast("bigint").alias("sum_cat"),
        F.min("y").cast("bigint").alias("y_min"),
        F.max("y").cast("bigint").alias("y_max"),
    )
    glob = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum("y").cast("bigint").alias("sum_all"),
    )
    joined = per_cat.crossJoin(F.broadcast(glob))
    # enc = (sum_cat + m·(sum_all/n_all)) / (n_cat + m), kept exact by
    # clearing the global denominator: (sum_cat·n_all + m·sum_all) /
    # ((n_cat + m)·n_all). LOO extremes come from the category extremes:
    # removing the largest y minimizes the LOO encoding and vice versa.
    return joined.selectExpr(
        "category",
        "n_cat",
        "sum_cat",
        f"CAST(ROUND((CAST(sum_cat AS DOUBLE) * n_all + {TE_SMOOTHING} * CAST(sum_all AS DOUBLE))"
        f" / ((n_cat + {TE_SMOOTHING}.0) * n_all) * 100) AS BIGINT) AS enc_centimicro",
        "CAST(ROUND((CAST(sum_cat AS DOUBLE) - y_max) / (n_cat - 1) * 100) AS BIGINT)"
        " AS loo_min_centicents",
        "CAST(ROUND((CAST(sum_cat AS DOUBLE) - y_min) / (n_cat - 1) * 100) AS BIGINT)"
        " AS loo_max_centicents",
    )


Q_FEAT_TARGET_ENCODE_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority AS category,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
),
per_cat AS (
  SELECT category,
         CAST(COUNT(*) AS BIGINT) AS n_cat,
         CAST(SUM(y) AS BIGINT) AS sum_cat,
         CAST(MIN(y) AS BIGINT) AS y_min,
         CAST(MAX(y) AS BIGINT) AS y_max
  FROM base GROUP BY category
),
gall AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(y) AS BIGINT) AS sum_all
  FROM base
)
SELECT category, n_cat, sum_cat,
       CAST(ROUND((CAST(sum_cat AS DOUBLE) * n_all + {TE_SMOOTHING} * CAST(sum_all AS DOUBLE))
            / ((n_cat + {TE_SMOOTHING}.0) * n_all) * 100) AS BIGINT) AS enc_centimicro,
       CAST(ROUND((CAST(sum_cat AS DOUBLE) - y_max) / (n_cat - 1) * 100) AS BIGINT)
         AS loo_min_centicents,
       CAST(ROUND((CAST(sum_cat AS DOUBLE) - y_min) / (n_cat - 1) * 100) AS BIGINT)
         AS loo_max_centicents
FROM per_cat CROSS JOIN gall
"""


QUERIES["feat_target_encode"] = QuerySpec(
    q_feat_target_encode, Q_FEAT_TARGET_ENCODE_ORACLE
)


# -- k-center greedy coreset (r8) -------------------------------------------------------
# Gonzalez's farthest-point traversal (the classic 2-approximation for metric
# k-center) as a training-data pruning operator: select KC_K maximally-spread
# exemplars from the embedding corpus — the seed selection step of coreset /
# diverse-subset pipelines (herding, k-center greedy active learning a la
# Sener & Savarese '18). Exact-integer discipline: vectors are quantized to
# integral doubles (functions/kmeans.py:quantize_vectors), every min-distance
# is an exact BIGINT-valued double, and ties break on vid — so DuckDB replays
# the greedy traversal decision-for-decision.
KC_K = 8


def q_sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KC_K rounds of: pick the point FARTHEST (max min-squared-L2, ties ->
    lower vid) from the already-picked set, starting from the lowest vid.
    Each round is ONE distributed linear scan — the incoming center travels
    as an O(d) literal (broadcast-sized), the running min-distance column is
    cached between rounds (a cluster deployment would checkpoint it), and
    only the 1-row arg-max is collected. Total cost KC_K*n*d with no shuffle
    wider than the 1-row TakeOrdered — the scale-correct shape, vs the
    O(n^2) pairwise spread matrix a naive implementation materializes.
    `radius` of row t is the covering radius of the first t-1 centers — the
    monotone certificate sequence the 2-approx guarantee is read from."""
    from movie_genre_data_pipeline_spark.functions.kmeans import (
        _sq_dist,
        quantize_vectors,
    )

    e = load(spark, sf_dir, "embeddings")
    q = quantize_vectors(e, "vec_id", "embedding")
    c0 = q.orderBy("vid").limit(1).collect()[0]
    picks = [(1, int(c0["vid"]), -1.0)]
    m = (
        q.filter(F.col("vid") != int(c0["vid"]))
        .select("vid", "vq", _sq_dist(F.col("vq"), list(c0["vq"])).alias("mind"))
        .cache()
    )
    frames = [m]
    for t in range(2, KC_K + 1):
        top = m.orderBy(F.col("mind").desc(), F.col("vid").asc()).limit(1).collect()[0]
        picks.append((t, int(top["vid"]), float(top["mind"])))
        if t < KC_K:
            m = (
                m.filter(F.col("vid") != int(top["vid"]))
                .select(
                    "vid",
                    "vq",
                    F.least(
                        F.col("mind"), _sq_dist(F.col("vq"), list(top["vq"]))
                    ).alias("mind"),
                )
                .cache()
            )
            frames.append(m)
    for f in frames:
        f.unpersist()
    return spark.createDataFrame(picks, "sel_rank int, center bigint, radius double")


def _kcenter_oracle() -> str:
    from movie_genre_data_pipeline_spark.suite.similarity_queries import (
        _PQ_EQ_CTE,
        _pq_sqd,
    )

    DIM = 64
    parts = [
        f"""WITH {_PQ_EQ_CTE},
k1 AS MATERIALIZED (SELECT vid, vq FROM eq ORDER BY vid LIMIT 1),
m1 AS MATERIALIZED (
  SELECT e.vid, e.vq, {_pq_sqd("e.vq", "c.vq", DIM)} AS mind
  FROM eq e CROSS JOIN k1 c WHERE e.vid <> c.vid
)"""
    ]
    for t in range(2, KC_K + 1):
        parts.append(
            f""",
k{t} AS MATERIALIZED (
  SELECT vid, vq, mind FROM m{t - 1} ORDER BY mind DESC, vid ASC LIMIT 1
)"""
        )
        if t < KC_K:
            parts.append(
                f""",
m{t} AS MATERIALIZED (
  SELECT m.vid, m.vq,
         LEAST(m.mind, {_pq_sqd("m.vq", "c.vq", DIM)}) AS mind
  FROM m{t - 1} m CROSS JOIN k{t} c WHERE m.vid <> c.vid
)"""
            )
    sel = [
        "SELECT CAST(1 AS INTEGER) AS sel_rank, vid AS center,"
        " CAST(-1 AS DOUBLE) AS radius FROM k1"
    ]
    for t in range(2, KC_K + 1):
        sel.append(
            f"SELECT CAST({t} AS INTEGER) AS sel_rank, vid AS center,"
            f" mind AS radius FROM k{t}"
        )
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(sel)


QUERIES["sample_kcenter_coreset"] = QuerySpec(
    q_sample_kcenter_coreset, _kcenter_oracle()
)


# -- DSIR importance selection (r8) ------------------------------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023): score documents
# by a hashed-unigram target-vs-raw log-likelihood ratio and keep the ones
# that look more target-like than the corpus average. Target domain here =
# English documents (the stand-in for "high-quality reference corpus");
# selection is the deterministic logw > 0 rule so it stays a scan-local
# filter at 100 TB (no global sort, no Gumbel state).
DSIR_BUCKETS = 256


def q_sample_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DSIR selection report: how many documents each source
    contributes to the selected (more-target-like-than-raw) pool, plus the
    mean log importance weight of the selected docs in nats. Output is
    source-dimension-sized regardless of corpus size. Exactness: per-doc
    log-weights are exact integer micro-nat sums (functions/sampling.py
    dsir_importance); the published mean divides two exact integers once."""
    from movie_genre_data_pipeline_spark.functions.sampling import dsir_importance

    d = load(spark, sf_dir, "documents")
    w = dsir_importance(
        d, "doc_id", "text", (F.col("lang") == "en"), n_buckets=DSIR_BUCKETS
    )
    rep = (
        d.select("doc_id", "source")
        .join(w, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("logw_micro") > 0, F.lit(1)).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_selected"),
            F.sum(
                F.when(F.col("logw_micro") > 0, F.col("logw_micro")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("sel_logw_micro"),
        )
    )
    return rep.select(
        "source",
        "n_docs",
        "n_selected",
        F.round(F.col("n_selected").cast("double") / F.col("n_docs"), 6).alias(
            "sel_rate"
        ),
        F.when(
            F.col("n_selected") > 0,
            F.round(
                F.col("sel_logw_micro").cast("double")
                / F.lit(1e6)
                / F.col("n_selected"),
                6,
            ),
        ).alias("avg_sel_logw"),
    )


def _dsir_w_ctes() -> str:
    """The DSIR scoring chain as a WITH-body ending at w(doc_id, source,
    logw_micro) — shared by the selection report, the streaming fold's
    oracle, and the classifier-distillation oracle."""
    b = DSIR_BUCKETS
    return f"""terms AS (
  SELECT doc_id, lang = 'en' AS tgt,
         CAST(concat('0x', substring(md5(t.term), 1, 12)) AS BIGINT) % {b}
           AS bucket
  FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents) d,
       unnest(toks) AS t(term)
),
tf AS (SELECT doc_id, bucket, COUNT(*) AS tf FROM terms GROUP BY doc_id, bucket),
buckets AS (
  SELECT bucket, COUNT(*) AS raw_c,
         SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tgt_c
  FROM terms GROUP BY bucket
),
totals AS (SELECT SUM(raw_c) AS t_raw, SUM(tgt_c) AS t_tgt FROM buckets),
ratios AS (
  SELECT bucket,
         CAST(ROUND((LN((tgt_c + 1.0) / (t_tgt + CAST({b} AS DOUBLE)))
                   - LN((raw_c + 1.0) / (t_raw + CAST({b} AS DOUBLE))))
                    * 1000000.0, 0) AS BIGINT) AS lr_micro
  FROM buckets CROSS JOIN totals
),
scored AS (
  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
         CAST(SUM(tf.tf * r.lr_micro) AS BIGINT) AS logw_micro
  FROM tf JOIN ratios r USING (bucket) GROUP BY tf.doc_id
),
w AS (
  SELECT d.doc_id, d.source,
         COALESCE(s.logw_micro, 0) AS logw_micro
  FROM documents d LEFT JOIN scored s USING (doc_id)
)"""


def _importance_select_oracle() -> str:
    return f"""
WITH {_dsir_w_ctes()}
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN logw_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected,
       ROUND(CAST(SUM(CASE WHEN logw_micro > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS sel_rate,
       CASE WHEN SUM(CASE WHEN logw_micro > 0 THEN 1 ELSE 0 END) > 0 THEN
         ROUND(CAST(SUM(CASE WHEN logw_micro > 0 THEN logw_micro ELSE 0 END)
                    AS DOUBLE)
               / 1000000.0
               / SUM(CASE WHEN logw_micro > 0 THEN 1 ELSE 0 END), 6)
       END AS avg_sel_logw
FROM w GROUP BY source
"""


QUERIES["sample_importance_select"] = QuerySpec(
    q_sample_importance_select, _importance_select_oracle()
)


# -- logistic quality classifier: IRLS parameter recovery (r8) ---------------------------
# The fit is graded against a KNOWN generating process: labels are drawn by
# the deterministic md5-uniform channel u < sigmoid(zt/1e6) with the true
# micro-betas below, so the published trajectory must CONVERGE TOWARD the
# injected truth — a parameter-recovery law, not just a hash match
# (tests/test_regression.py pins it).
LOGREG_TRUE = (-2_000_000, 30_000, -150_000)
LOGREG_ITERS = 4
_LOGREG_ZT = (
    f"{LOGREG_TRUE[0]} + {LOGREG_TRUE[1]} * x1 + {LOGREG_TRUE[2]} * x2"
)
_LOGREG_LABEL = (
    "CAST(CASE WHEN CAST(u48 AS DOUBLE) / 281474976710656.0"
    " < 1.0 / (1.0 + exp(-(CAST(zt AS DOUBLE) / 1000000.0)))"
    " THEN 1 ELSE 0 END AS BIGINT)"
)


def q_feat_logreg_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the 2-feature logistic quality classifier by LOGREG_ITERS IRLS
    steps (functions/regression.py logreg_irls_micro) on labels synthesized
    by the md5-uniform logistic channel, and publish the per-iteration
    trajectory (micro-betas + exact integer-score training accuracy). Every
    iteration is one d²-sized map-side-combined aggregate over the fact
    table — the OLS/ridge scan shape, so the fit costs iters·scan at any
    scale and shuffles only Gram-sized rows."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        logreg_irls_micro,
    )

    o = load(spark, sf_dir, "orders")
    feats = o.select(
        (F.col("o_orderkey") % 180 + 60).cast("bigint").alias("x1"),
        (F.col("o_custkey") % 25).cast("bigint").alias("x2"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(":logreg"))),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("u48"),
    ).withColumn("zt", F.expr(_LOGREG_ZT))
    labeled = feats.select("x1", "x2", F.expr(_LOGREG_LABEL).alias("y"))
    return logreg_irls_micro(labeled, "x1", "x2", "y", iters=LOGREG_ITERS)


def _irls_ctes(iters: int, group: str | None = None) -> str:
    """The IRLS iteration chain as CTE text: expects upstream CTEs
    f(x1, x2, y[, group]) and b0(b0, b1, b2[, group]); emits s/g/d/b/a
    blocks per iteration — b{iters} holds the final micro-betas, a{iters}
    the final exact-integer accuracy. With `group`, every stage keys on it:
    one independent fit per group from the same scans. Shared by the
    recovery, distillation, and per-segment oracles."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        DELTA_MICRO12_SQL,
        LOGREG_R_SQL,
        LOGREG_W_SQL,
        SIGMOID_MICRO_SQL,
    )

    g = f"{group}, " if group else ""
    by = f" GROUP BY {group}" if group else ""
    join_b = (
        (lambda t: f"JOIN b{t} b USING ({group})")
        if group
        else (lambda t: f"CROSS JOIN b{t} b")
    )
    join_p = (
        (lambda t: f"JOIN b{t} p USING ({group})")
        if group
        else (lambda t: f"CROSS JOIN b{t} p")
    )
    parts = []
    for t in range(1, iters + 1):
        parts.append(
            f""",
s{t} AS MATERIALIZED (
  SELECT {g}x1, x2, y, {SIGMOID_MICRO_SQL} AS mu_micro
  FROM (SELECT f.*, b.b0 + b.b1 * x1 + b.b2 * x2 AS z_micro
        FROM f {join_b(t - 1)})
),
g{t} AS (
  SELECT {g}SUM(w) AS ni, SUM(w * x1) AS sx1i, SUM(w * x2) AS sx2i,
         SUM(r) AS syi, SUM(w * x1 * x1) AS s11i, SUM(w * x1 * x2) AS s12i,
         SUM(w * x2 * x2) AS s22i, SUM(x1 * r) AS s1yi, SUM(x2 * r) AS s2yi
  FROM (SELECT {g}x1, x2, {LOGREG_W_SQL} AS w, {LOGREG_R_SQL} AS r
        FROM s{t}){by}
),
d{t} AS (
  SELECT {g}CAST(ni AS DOUBLE) AS n, CAST(sx1i AS DOUBLE) AS sx1,
         CAST(sx2i AS DOUBLE) AS sx2, CAST(syi AS DOUBLE) AS sy,
         CAST(s11i AS DOUBLE) AS s11, CAST(s12i AS DOUBLE) AS s12,
         CAST(s22i AS DOUBLE) AS s22, CAST(s1yi AS DOUBLE) AS s1y,
         CAST(s2yi AS DOUBLE) AS s2y
  FROM g{t}
),
b{t} AS MATERIALIZED (
  SELECT {g}p.b0 + {DELTA_MICRO12_SQL["d0"]} AS b0,
         p.b1 + {DELTA_MICRO12_SQL["d1"]} AS b1,
         p.b2 + {DELTA_MICRO12_SQL["d2"]} AS b2
  FROM d{t} {join_p(t - 1)}
),
a{t} AS (
  SELECT {g}CAST(SUM(CASE WHEN (b.b0 + b.b1 * x1 + b.b2 * x2 > 0) = (y = 1)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM f {join_b(t)}{by}
)"""
        )
    return "".join(parts)


def _logreg_oracle() -> str:
    parts = [
        f"""WITH f AS MATERIALIZED (
  SELECT x1, x2, {_LOGREG_LABEL} AS y
  FROM (
    SELECT x1, x2, u48, {_LOGREG_ZT} AS zt
    FROM (
      SELECT CAST(o_orderkey % 180 + 60 AS BIGINT) AS x1,
             CAST(o_custkey % 25 AS BIGINT) AS x2,
             CAST(concat('0x', substring(md5(o_orderkey || ':logreg'), 1, 12))
               AS BIGINT) AS u48
      FROM orders))
),
b0 AS (SELECT CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1,
              CAST(0 AS BIGINT) AS b2)"""
    ]
    parts.append(_irls_ctes(LOGREG_ITERS))
    sel = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS INTEGER) AS iter, b0 AS b0_micro, b1 AS b1_micro,"
        f" b2 AS b2_micro, n_correct, n_rows FROM b{t} CROSS JOIN a{t}"
        for t in range(1, LOGREG_ITERS + 1)
    )
    return "".join(parts) + "\nSELECT * FROM (" + sel + ")"


QUERIES["feat_logreg_recovery"] = QuerySpec(q_feat_logreg_recovery, _logreg_oracle())


# -- classifier distillation: cheap-feature logistic fit on DSIR labels (r8) -------------
# The FineWeb/fastText workflow: the reference filter (here the DSIR
# importance rule) is expensive to evaluate in every downstream job, so
# distill it into a 2-feature logistic classifier and publish the final
# micro-betas plus the exact confusion matrix against the labels themselves.
DISTILL_ITERS = 3


def q_curate_classifier_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill the DSIR selection rule into a logistic classifier over two
    cheap scan-local features (whitespace token count, English-stopword
    hits): labels are the DSIR logw > 0 decisions, training is DISTILL_ITERS
    IRLS steps (each ONE d²-sized map-side-combined aggregate), and the
    readout is a single row: final micro-betas + exact integer confusion
    counts (tp/fp/fn/tn) of the distilled rule against its teacher. The
    whole composition — teacher scoring, feature build, training, audit —
    stays oracle-exact."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        logreg_irls_micro,
    )
    from movie_genre_data_pipeline_spark.functions.sampling import dsir_importance
    from movie_genre_data_pipeline_spark.functions.text import (
        LANG_LEXICONS,
        stopword_hits,
        token_count,
    )

    d = load(spark, sf_dir, "documents")
    w = dsir_importance(
        d, "doc_id", "text", (F.col("lang") == "en"), n_buckets=DSIR_BUCKETS
    )
    feats = (
        d.select(
            "doc_id",
            token_count("text").alias("x1"),
            stopword_hits("text", LANG_LEXICONS["en"]).alias("x2"),
        )
        .join(
            w.select(
                "doc_id",
                F.when(F.col("logw_micro") > 0, F.lit(1))
                .otherwise(F.lit(0))
                .cast("bigint")
                .alias("y"),
            ),
            "doc_id",
        )
        .select("x1", "x2", "y")
    )
    traj = logreg_irls_micro(feats, "x1", "x2", "y", iters=DISTILL_ITERS).collect()
    b = traj[-1]
    score = (
        F.lit(int(b["b0_micro"]))
        + F.lit(int(b["b1_micro"])) * F.col("x1")
        + F.lit(int(b["b2_micro"])) * F.col("x2")
    )
    pred = score > 0
    return feats.agg(
        F.sum(F.when(pred & (F.col("y") == 1), F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(pred & (F.col("y") == 0), F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~pred & (F.col("y") == 1), F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when(~pred & (F.col("y") == 0), F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("tn"),
    ).select(
        F.lit(int(b["b0_micro"])).cast("bigint").alias("b0_micro"),
        F.lit(int(b["b1_micro"])).cast("bigint").alias("b1_micro"),
        F.lit(int(b["b2_micro"])).cast("bigint").alias("b2_micro"),
        "tp",
        "fp",
        "fn",
        "tn",
    )


def _distill_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.text import LANG_LEXICONS

    en = ", ".join(f"'{w}'" for w in LANG_LEXICONS["en"])
    T = DISTILL_ITERS
    return f"""
WITH {_dsir_w_ctes()},
f AS MATERIALIZED (
  SELECT CAST(len(toks) AS BIGINT) AS x1,
         CAST(len(list_filter(toks, t -> lower(t) IN ({en}))) AS BIGINT) AS x2,
         CAST(CASE WHEN logw_micro > 0 THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) dt
  JOIN w USING (doc_id)
),
b0 AS (SELECT CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1,
              CAST(0 AS BIGINT) AS b2){_irls_ctes(T)}
SELECT b.b0 AS b0_micro, b.b1 AS b1_micro, b.b2 AS b2_micro,
       CAST(SUM(CASE WHEN b.b0 + b.b1 * x1 + b.b2 * x2 > 0 AND y = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN b.b0 + b.b1 * x1 + b.b2 * x2 > 0 AND y = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN NOT (b.b0 + b.b1 * x1 + b.b2 * x2 > 0) AND y = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(SUM(CASE WHEN NOT (b.b0 + b.b1 * x1 + b.b2 * x2 > 0) AND y = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS tn
FROM f CROSS JOIN b{T} b
GROUP BY b.b0, b.b1, b.b2
"""


QUERIES["curate_classifier_distill"] = QuerySpec(
    q_curate_classifier_distill, _distill_oracle()
)


# -- end-to-end training-set assembly funnel (r8 capstone) -------------------------------
# The whole north-star pipeline in ONE oracled query: span-level dedup →
# heuristic quality filter → DSIR target-domain selection → deterministic
# train/val/test split → token-budget packing, published as a funnel
# manifest (one row per stage with surviving docs/tokens; the three split
# rows carry packed-chunk counts). Thresholds are chosen so every stage
# BINDS at every test SF (cuts some docs, keeps some) — both branches of
# each filter are oracle-exercised.
FUNNEL_DUP_MAX = 0.5
FUNNEL_QUALITY_MIN = 0.55
FUNNEL_DSIR_MIN_MICRO = -1_000_000
FUNNEL_BUDGET = 2000


def q_curate_trainset_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble a training set end-to-end and publish the funnel manifest:
    stage ranks 1-4 are raw → span-dedup (dup_fraction < 0.5) → quality
    (score ≥ 0.55) → DSIR (logw_micro > −1e6) with surviving doc/token
    counts; ranks 5-7 are the md5-deterministic train/val/test splits of the
    survivors with their 2000-token packed-chunk counts. Every stage is the
    already-proven operator (duplicate_spans, quality_score,
    dsir_importance, assign_split, pack_token_budget) composed — the report
    an actual data-curation run hands to the training team."""
    from movie_genre_data_pipeline_spark.functions.dedup import duplicate_spans
    from movie_genre_data_pipeline_spark.functions.sampling import (
        assign_split,
        dsir_importance,
        pack_token_budget,
    )
    from movie_genre_data_pipeline_spark.functions.text import quality_score

    d = load(spark, sf_dir, "documents")
    spans = duplicate_spans(d, "doc_id", "text", l=6).select(
        "doc_id", "n_tokens", "dup_fraction"
    )
    q = d.select("doc_id", quality_score("text").alias("quality"))
    w = dsir_importance(
        d, "doc_id", "text", (F.col("lang") == "en"), n_buckets=DSIR_BUCKETS
    ).select("doc_id", "logw_micro")
    # stage barrier (the curate_corpus_pipeline discipline): the scored
    # frame feeds BOTH the funnel aggregate and the split/pack branch,
    # and each scoring table re-scans the corpus to build — checkpoint
    # once so the final plan reads the 500-column-free scored rows, not
    # 16 parquet re-derivations (measured: 16 → 0 document scans in the
    # final plan)
    scored = materialize(
        d.select("doc_id")
        .join(spans, "doc_id")
        .join(q, "doc_id")
        .join(w, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("dup_fraction") < F.lit(FUNNEL_DUP_MAX)).alias("s2"),
            (
                (F.col("dup_fraction") < F.lit(FUNNEL_DUP_MAX))
                & (F.col("quality") >= F.lit(FUNNEL_QUALITY_MIN))
            ).alias("s3"),
            (
                (F.col("dup_fraction") < F.lit(FUNNEL_DUP_MAX))
                & (F.col("quality") >= F.lit(FUNNEL_QUALITY_MIN))
                & (F.col("logw_micro") > F.lit(FUNNEL_DSIR_MIN_MICRO))
            ).alias("s4"),
        )
    )
    return _funnel_report(scored)


def _funnel_report(scored: DataFrame) -> DataFrame:
    """The funnel readout over a scored frame (doc_id, n_tokens, s2, s3,
    s4): stage rows 1-4 from one conditional-sum pass, split rows 5-7 from
    the survivors via md5 split assignment + token packing. Shared by the
    batch funnel and its streaming-ledger form."""
    from movie_genre_data_pipeline_spark.functions.sampling import (
        assign_split,
        pack_token_budget,
    )

    one = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("d1"),
        F.sum("n_tokens").cast("bigint").alias("t1"),
        *[
            c
            for i in (2, 3, 4)
            for c in (
                F.sum(F.when(F.col(f"s{i}"), F.lit(1)).otherwise(F.lit(0)))
                .cast("bigint")
                .alias(f"d{i}"),
                F.sum(F.when(F.col(f"s{i}"), F.col("n_tokens")).otherwise(F.lit(0)))
                .cast("bigint")
                .alias(f"t{i}"),
            )
        ],
    )
    funnel = one.selectExpr(
        "stack(4, 1, 'raw', d1, t1, 2, 'span_dedup', d2, t2,"
        " 3, 'quality', d3, t3, 4, 'dsir', d4, t4)"
        " AS (stage_rank, stage, docs, tokens)"
    ).withColumn("chunks", F.lit(None).cast("bigint"))
    survivors = scored.filter("s4").select(
        "doc_id", "n_tokens", assign_split("doc_id", _SPLITS)
    )
    packed = pack_token_budget(
        survivors, "doc_id", F.col("n_tokens"), "split", FUNNEL_BUDGET
    )
    splits = (
        packed.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
            F.count_distinct("chunk_id").cast("bigint").alias("chunks"),
        )
        .select(
            F.when(F.col("split") == "train", F.lit(5))
            .when(F.col("split") == "val", F.lit(6))
            .otherwise(F.lit(7))
            .cast("int")
            .alias("stage_rank"),
            F.col("split").alias("stage"),
            "docs",
            "tokens",
            "chunks",
        )
    )
    return funnel.unionByName(splits)


def _trainset_funnel_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.sampling import hex_threshold
    from movie_genre_data_pipeline_spark.suite.dedup_queries import (
        _duplicate_spans_oracle,
    )
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        Q_QUALITY_SCORES_ORACLE,
    )

    t_train, t_val = hex_threshold(0.8), hex_threshold(0.9)
    return f"""
WITH spanrep AS ({_duplicate_spans_oracle()}),
qual AS ({Q_QUALITY_SCORES_ORACLE}),
wdsir AS (WITH {_dsir_w_ctes()} SELECT doc_id, logw_micro FROM w),
scored AS (
  SELECT d.doc_id, s.n_tokens,
         s.dup_fraction < {FUNNEL_DUP_MAX} AS s2,
         s.dup_fraction < {FUNNEL_DUP_MAX}
           AND qual.quality >= {FUNNEL_QUALITY_MIN} AS s3,
         s.dup_fraction < {FUNNEL_DUP_MAX}
           AND qual.quality >= {FUNNEL_QUALITY_MIN}
           AND wd.logw_micro > {FUNNEL_DSIR_MIN_MICRO} AS s4
  FROM documents d
  JOIN spanrep s USING (doc_id)
  JOIN qual USING (doc_id)
  JOIN wdsir wd USING (doc_id)
),
splitrows AS (
  SELECT split,
         CAST(COUNT(*) AS BIGINT) AS docs,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens,
         CAST(COUNT(DISTINCT chunk_id) AS BIGINT) AS chunks
  FROM (
    SELECT split, n_tokens,
           CAST(FLOOR(
             (SUM(n_tokens) OVER (PARTITION BY split ORDER BY doc_id)
              - n_tokens) / {float(FUNNEL_BUDGET)}
           ) AS BIGINT) AS chunk_id
    FROM (
      SELECT doc_id, n_tokens,
             CASE WHEN md5(doc_id || ':split') < '{t_train}' THEN 'train'
                  WHEN md5(doc_id || ':split') < '{t_val}' THEN 'val'
                  ELSE 'test' END AS split
      FROM scored WHERE s4)
  ) GROUP BY split
)
SELECT CAST(1 AS INTEGER) AS stage_rank, 'raw' AS stage,
       CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens,
       CAST(NULL AS BIGINT) AS chunks
FROM scored
UNION ALL
SELECT 2, 'span_dedup',
       CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN s2 THEN n_tokens ELSE 0 END) AS BIGINT),
       CAST(NULL AS BIGINT)
FROM scored
UNION ALL
SELECT 3, 'quality',
       CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN s3 THEN n_tokens ELSE 0 END) AS BIGINT),
       CAST(NULL AS BIGINT)
FROM scored
UNION ALL
SELECT 4, 'dsir',
       CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN s4 THEN n_tokens ELSE 0 END) AS BIGINT),
       CAST(NULL AS BIGINT)
FROM scored
UNION ALL
SELECT CASE split WHEN 'train' THEN 5 WHEN 'val' THEN 6 ELSE 7 END,
       split, docs, tokens, chunks
FROM splitrows
"""


QUERIES["curate_trainset_funnel"] = QuerySpec(
    q_curate_trainset_funnel, _trainset_funnel_oracle()
)


# -- per-segment logistic fits with per-segment recovery (r8) ----------------------------
# Each order-priority segment draws labels from its OWN logistic channel
# (distinct true betas per segment), so the grouped trainer must recover a
# DIFFERENT parameter vector per group — the per-domain-classifier shape
# with the recovery law intact.
LOGREG_SEG_ITERS = 3
# si = first digit of o_orderpriority (1..5); truth varies linearly in si
_LOGREG_SEG_ZT = (
    "-2000000 + (20000 + 4000 * si) * x1 + (-(100000 + 20000 * si)) * x2"
)


def q_feat_logreg_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One logistic fit per order-priority segment, trained simultaneously
    by LOGREG_SEG_ITERS grouped IRLS steps (functions/regression.py:
    logreg_irls_grouped): the per-group beta table joins back broadcast each
    step, the weighted Gram keys on the segment (ONE shuffle, d²·|segments|
    state), and the solve projects over all group rows at once — no driver
    round-trips. Labels come from per-segment md5-uniform channels with
    DISTINCT injected truths, so each group's published betas must recover
    its own parameters (pinned in tests)."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        logreg_irls_grouped,
    )

    o = load(spark, sf_dir, "orders")
    feats = (
        o.select(
            F.col("o_orderpriority").alias("segment"),
            F.substring("o_orderpriority", 1, 1).cast("bigint").alias("si"),
            (F.col("o_orderkey") % 180 + 60).cast("bigint").alias("x1"),
            (F.col("o_custkey") % 25).cast("bigint").alias("x2"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.col("o_orderkey").cast("string"), F.lit(":logseg"))
                    ),
                    1,
                    12,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("u48"),
        )
        .withColumn("zt", F.expr(_LOGREG_SEG_ZT))
        .select("segment", "x1", "x2", F.expr(_LOGREG_LABEL).alias("y"))
    )
    return logreg_irls_grouped(
        feats, "segment", "x1", "x2", "y", iters=LOGREG_SEG_ITERS
    )


def _logreg_segment_oracle() -> str:
    return f"""
WITH f AS MATERIALIZED (
  SELECT segment, x1, x2, {_LOGREG_LABEL} AS y
  FROM (
    SELECT segment, x1, x2, u48, {_LOGREG_SEG_ZT} AS zt
    FROM (
      SELECT o_orderpriority AS segment,
             CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS si,
             CAST(o_orderkey % 180 + 60 AS BIGINT) AS x1,
             CAST(o_custkey % 25 AS BIGINT) AS x2,
             CAST(concat('0x', substring(md5(o_orderkey || ':logseg'), 1, 12))
               AS BIGINT) AS u48
      FROM orders))
),
b0 AS (SELECT DISTINCT segment, CAST(0 AS BIGINT) AS b0,
              CAST(0 AS BIGINT) AS b1, CAST(0 AS BIGINT) AS b2 FROM f)
{_irls_ctes(LOGREG_SEG_ITERS, group="segment")}
SELECT segment, b.b0 AS b0_micro, b.b1 AS b1_micro, b.b2 AS b2_micro,
       a.n_correct, a.n_rows
FROM b{LOGREG_SEG_ITERS} b JOIN a{LOGREG_SEG_ITERS} a USING (segment)
"""


QUERIES["feat_logreg_by_segment"] = QuerySpec(
    q_feat_logreg_by_segment, _logreg_segment_oracle()
)


# -- PCA top component by power iteration (r8) -------------------------------------------
PCA_ITERS = 8
_PCA_FEATS = [
    ("x1", "o_orderkey % 180 + 60"),
    ("x2", "o_custkey % 25"),
    ("x3", "o_orderkey % 97"),
    ("x4", "o_custkey % 53"),
]


def q_feat_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of four integer order features by power
    iteration (functions/regression.py:pca_power_top1): ONE map-side-
    combined moment pass reduces the facts to the 4×4 covariance, then all
    PCA_ITERS iterations are pure projections over that one row — no data
    re-scan per iteration at any corpus size (contrast gradient-descent PCA
    or iterative SVD, which re-scan per step). L∞ normalization (no sqrt)
    + per-iterate micro quantization keep the trajectory oracle-exact; the
    published row carries the sign-canonicalized eigenvector, the Rayleigh
    quotient, and the explained-variance ratio."""
    from movie_genre_data_pipeline_spark.functions.regression import pca_power_top1

    o = load(spark, sf_dir, "orders")
    feats = o.selectExpr(
        *[f"CAST({expr} AS BIGINT) AS {name}" for name, expr in _PCA_FEATS]
    )
    return pca_power_top1(feats, [n for n, _ in _PCA_FEATS], iters=PCA_ITERS)


def _pca_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.regression import (
        PCA_D,
        PCA_M_SQL,
        _pca_cov_sql,
        pca_u_sql,
    )

    d = PCA_D
    feats = ", ".join(f"CAST({expr} AS BIGINT) AS {name}" for name, expr in _PCA_FEATS)
    sums = ["CAST(COUNT(*) AS BIGINT) AS n_rows"]
    for i in range(1, d + 1):
        sums.append(f"SUM(x{i}) AS s{i}")
    for i in range(1, d + 1):
        for j in range(i, d + 1):
            sums.append(f"SUM(x{i} * x{j}) AS s{i}{j}")
    covs = ", ".join(
        f"{_pca_cov_sql(i, j)} AS c{i}{j}"
        for i in range(1, d + 1)
        for j in range(i, d + 1)
    )
    ccols = ", ".join(f"c{i}{j}" for i in range(1, d + 1) for j in range(i, d + 1))
    parts = [
        f"""WITH f AS (SELECT {feats} FROM orders),
g AS (SELECT {", ".join(sums)} FROM f),
c AS (SELECT {covs} FROM g),
p0 AS MATERIALIZED (SELECT c.*, {", ".join(f"CAST(1000000 AS BIGINT) AS v{i}" for i in range(1, d + 1))} FROM c)"""
    ]
    for t in range(1, PCA_ITERS + 1):
        us = ", ".join(f"{pca_u_sql(i)} AS u{i}" for i in range(1, d + 1))
        vs = ", ".join(
            f"CAST(ROUND(u{i} / m * 1000000.0, 0) AS BIGINT) AS v{i}"
            for i in range(1, d + 1)
        )
        parts.append(
            f""",
p{t} AS MATERIALIZED (
  SELECT {ccols}, {vs}
  FROM (SELECT p.*, {PCA_M_SQL} AS m
        FROM (SELECT p0x.*, {us} FROM p{t - 1} p0x) p)
)"""
        )
    ray_num = " + ".join(
        f"(CAST(v{i} AS DOUBLE) / 1000000.0) * c{min(i, j)}{max(i, j)} * (CAST(v{j} AS DOUBLE) / 1000000.0)"
        for i in range(1, d + 1)
        for j in range(1, d + 1)
    )
    ray_den = " + ".join(
        f"(CAST(v{i} AS DOUBLE) / 1000000.0) * (CAST(v{i} AS DOUBLE) / 1000000.0)" for i in range(1, d + 1)
    )
    trace = " + ".join(f"c{i}{i}" for i in range(1, d + 1))
    sign = (
        "CASE "
        + " ".join(
            f"WHEN ABS(v{i}) = 1000000 THEN (CASE WHEN v{i} > 0 THEN 1 ELSE -1 END)"
            for i in range(1, d + 1)
        )
        + " ELSE 1 END"
    )
    lam = f"(({ray_num}) / ({ray_den}))"
    sel = ", ".join(
        f"CAST(({sign}) * v{i} AS BIGINT) AS v{i}_micro" for i in range(1, d + 1)
    )
    parts.append(
        f"""
SELECT {sel},
       CAST(ROUND({lam} * 1000000.0, 0) AS BIGINT) AS lambda_micro,
       ROUND({lam} / ({trace}), 6) AS explained_ratio
FROM p{PCA_ITERS}"""
    )
    return "".join(parts)


QUERIES["feat_pca_power"] = QuerySpec(q_feat_pca_power, _pca_oracle())


def q_sample_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The split audit run before trusting a train/val/test assignment:
    per-fold document counts and share, token-mass share, mean token count,
    and distinct-source coverage — the distribution-parity readout that
    catches a skewed or leaky split before training does. One scan-local
    split projection + one fold-keyed aggregate; the shares divide exact
    integer sums once."""
    from movie_genre_data_pipeline_spark.functions.sampling import assign_split
    from movie_genre_data_pipeline_spark.functions.text import token_count

    d = load(spark, sf_dir, "documents")
    labeled = d.select(
        "doc_id",
        "source",
        token_count("text").alias("n_tokens"),
        assign_split("doc_id", _SPLITS),
    )
    totals = labeled.agg(
        F.count(F.lit(1)).cast("bigint").alias("tot_docs"),
        F.sum("n_tokens").cast("bigint").alias("tot_tokens"),
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "split",
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("tot_docs"), 6).alias(
                "doc_share"
            ),
            F.round(
                F.col("n_tokens").cast("double") / F.col("tot_tokens"), 6
            ).alias("token_share"),
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("mean_tokens"),
            "n_sources",
        )
    )


def _split_audit_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.sampling import hex_threshold

    t_train, t_val = hex_threshold(0.8), hex_threshold(0.9)
    return f"""
WITH labeled AS (
  SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CASE WHEN md5(doc_id || ':split') < '{t_train}' THEN 'train'
              WHEN md5(doc_id || ':split') < '{t_val}' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS tot_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
  FROM labeled
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(COUNT(*) AS DOUBLE) / tot_docs, 6) AS doc_share,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / tot_tokens, 6) AS token_share,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS mean_tokens,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM labeled CROSS JOIN totals
GROUP BY split, tot_docs, tot_tokens
"""


QUERIES["sample_split_audit"] = QuerySpec(q_sample_split_audit, _split_audit_oracle())


# -- second principal component by deflation (r9) ------------------------------------------
def q_feat_pca_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TWO principal components by power iteration + Hotelling deflation
    (functions/regression.py:pca_power_deflated) — the scree-plot / whitening
    prerequisite one component can't give. Same scale shape as
    feat_pca_power: ONE map-side-combined moment pass, then BOTH component
    loops are pure projections over the one-row covariance (deflation is
    C·v − λ1·w·(w·v)/(w·w), so the outer product never materializes and
    iteration count never multiplies corpus scans). Per-iterate micro quantization
    keeps the two-component trajectory bit-replayable in SQL."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        pca_moments,
        pca_power_deflated,
    )

    o = load(spark, sf_dir, "orders")
    feats = o.selectExpr(
        *[f"CAST({expr} AS BIGINT) AS {name}" for name, expr in _PCA_FEATS]
    )
    return pca_power_deflated(
        pca_moments(feats, [n for n, _ in _PCA_FEATS]), iters=PCA_ITERS
    )


def _pca_deflation_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.regression import (
        PCA_D,
        PCA_M2_SQL,
        PCA_M_SQL,
        PCA_V2_INIT,
        _pca_cov_sql,
        pca_ray_sql,
        pca_sign_sql,
        pca_u2_sql,
        pca_u_sql,
    )

    d = PCA_D
    feats = ", ".join(f"CAST({expr} AS BIGINT) AS {name}" for name, expr in _PCA_FEATS)
    sums = ["CAST(COUNT(*) AS BIGINT) AS n_rows"]
    for i in range(1, d + 1):
        sums.append(f"SUM(x{i}) AS s{i}")
    for i in range(1, d + 1):
        for j in range(i, d + 1):
            sums.append(f"SUM(x{i} * x{j}) AS s{i}{j}")
    covs = ", ".join(
        f"{_pca_cov_sql(i, j)} AS c{i}{j}"
        for i in range(1, d + 1)
        for j in range(i, d + 1)
    )
    ccols = ", ".join(f"c{i}{j}" for i in range(1, d + 1) for j in range(i, d + 1))
    parts = [
        f"""WITH f AS (SELECT {feats} FROM orders),
g AS (SELECT {", ".join(sums)} FROM f),
c AS (SELECT {covs} FROM g),
p0 AS MATERIALIZED (SELECT c.*, {", ".join(f"CAST(1000000 AS BIGINT) AS v{i}" for i in range(1, d + 1))} FROM c)"""
    ]
    for t in range(1, PCA_ITERS + 1):
        us = ", ".join(f"{pca_u_sql(i)} AS u{i}" for i in range(1, d + 1))
        vs = ", ".join(
            f"CAST(ROUND(u{i} / m * 1000000.0, 0) AS BIGINT) AS v{i}"
            for i in range(1, d + 1)
        )
        parts.append(
            f""",
p{t} AS MATERIALIZED (
  SELECT {ccols}, {vs}
  FROM (SELECT p.*, {PCA_M_SQL} AS m
        FROM (SELECT p0x.*, {us} FROM p{t - 1} p0x) p)
)"""
        )
    sgn1 = pca_sign_sql("v")
    canon_vs = ", ".join(
        f"CAST(({sgn1}) * v{i} AS BIGINT) AS v{i}" for i in range(1, d + 1)
    )
    parts.append(
        f""",
dfl AS MATERIALIZED (
  SELECT {ccols},
         {", ".join(f"v{i}" for i in range(1, d + 1))},
         {pca_ray_sql("v")} AS lam1,
         {", ".join(f"CAST(v{i} AS DOUBLE) / 1000000.0 AS w{i}" for i in range(1, d + 1))}
  FROM (SELECT {ccols}, {canon_vs} FROM p{PCA_ITERS})
),
q0 AS MATERIALIZED (
  SELECT dfl.*, {", ".join(f"CAST({PCA_V2_INIT[i - 1]} AS BIGINT) AS v2{i}" for i in range(1, d + 1))}
  FROM dfl
)"""
    )
    carry = (
        ccols
        + ", "
        + ", ".join(f"v{i}" for i in range(1, d + 1))
        + ", lam1, "
        + ", ".join(f"w{i}" for i in range(1, d + 1))
    )
    for t in range(1, PCA_ITERS + 1):
        u2s = ", ".join(f"{pca_u2_sql(i)} AS u2{i}" for i in range(1, d + 1))
        v2s = ", ".join(
            f"CAST(ROUND(u2{i} / m2 * 1000000.0, 0) AS BIGINT) AS v2{i}"
            for i in range(1, d + 1)
        )
        parts.append(
            f""",
q{t} AS MATERIALIZED (
  SELECT {carry}, {v2s}
  FROM (SELECT q.*, {PCA_M2_SQL} AS m2
        FROM (SELECT q0x.*, {u2s} FROM q{t - 1} q0x) q)
)"""
        )
    sgn2 = pca_sign_sql("v2")
    lam2 = pca_ray_sql("v2")
    trace = " + ".join(f"c{i}{i}" for i in range(1, d + 1))
    parts.append(
        f"""
SELECT {", ".join(f"CAST(v{i} AS BIGINT) AS v{i}_micro" for i in range(1, d + 1))},
       CAST(ROUND(lam1 * 1000000.0, 0) AS BIGINT) AS lambda1_micro,
       {", ".join(f"CAST(({sgn2}) * v2{i} AS BIGINT) AS v2{i}_micro" for i in range(1, d + 1))},
       CAST(ROUND({lam2} * 1000000.0, 0) AS BIGINT) AS lambda2_micro,
       ROUND(lam1 / ({trace}), 6) AS explained1_ratio,
       ROUND({lam2} / ({trace}), 6) AS explained2_ratio
FROM q{PCA_ITERS}"""
    )
    return "".join(parts)


QUERIES["feat_pca_deflation"] = QuerySpec(q_feat_pca_deflation, _pca_deflation_oracle())


# -- packing efficiency audit (r9) -----------------------------------------------------------
def pack_efficiency_from_counts(t: DataFrame) -> DataFrame:
    """The count-table form of the packing audit (r10): `t` is
    (lang, doc_id, n_tokens) per-document token counts — additive FACTS,
    however accumulated (one batch scan or a streaming append ledger folded
    by SUM). The packer's chunk assignment is a READOUT decision (a doc's
    chunk depends on the running total of every lower-id doc in its
    language), so the whole tail — pack window, chunk aggregate, audit
    aggregate — derives here, shared verbatim by q_sample_pack_efficiency
    and its streaming twin."""
    from movie_genre_data_pipeline_spark.functions.sampling import (
        pack_token_budget,
    )

    packed = pack_token_budget(
        t, "doc_id", F.col("n_tokens"), "lang", _TOKEN_BUDGET
    )
    chunks = packed.groupBy("lang", "chunk_id").agg(
        F.sum("n_tokens").cast("bigint").alias("chunk_tokens")
    )
    return chunks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("chunk_tokens").cast("bigint").alias("total_tokens"),
        F.min("chunk_tokens").cast("bigint").alias("min_chunk"),
        F.max("chunk_tokens").cast("bigint").alias("max_chunk"),
        F.sum(F.when(F.col("chunk_tokens") > _TOKEN_BUDGET, 1).otherwise(0))
        .cast("bigint")
        .alias("n_overfull"),
        F.expr(
            "CAST(ROUND(CAST(SUM(chunk_tokens) AS DOUBLE)"
            f" / (CAST(COUNT(*) AS DOUBLE) * CAST({_TOKEN_BUDGET} AS DOUBLE))"
            " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
        ).alias("fill_micro"),
    )


def q_sample_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit run after token-budget packing and before training: per
    language, chunk count, fill statistics, over-budget chunks (a single
    doc larger than the budget overfills its chunk — the packer's documented
    behavior, counted here instead of hidden), and the fill ratio against
    the ideal n_chunks·budget capacity. Same split_audit discipline: trust
    the sharding only after its distribution is published. One window (the
    packer's own) + one lang-keyed aggregate; all integers + one micro."""
    from movie_genre_data_pipeline_spark.functions.text import token_count

    d = load(spark, sf_dir, "documents")
    return pack_efficiency_from_counts(
        d.select("lang", "doc_id", token_count("text").alias("n_tokens"))
    )


Q_SAMPLE_PACK_EFFICIENCY_ORACLE = f"""
WITH t AS (
  SELECT lang, doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
c AS (
  SELECT lang, n_tokens,
         CAST(FLOOR(
           (SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) - n_tokens)
           / {float(_TOKEN_BUDGET)}
         ) AS BIGINT) AS chunk_id
  FROM t
),
chunks AS (
  SELECT lang, chunk_id, CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
  FROM c GROUP BY 1, 2
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(chunk_tokens) AS BIGINT) AS total_tokens,
       CAST(MIN(chunk_tokens) AS BIGINT) AS min_chunk,
       CAST(MAX(chunk_tokens) AS BIGINT) AS max_chunk,
       CAST(SUM(CASE WHEN chunk_tokens > {_TOKEN_BUDGET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overfull,
       CAST(ROUND(CAST(SUM(chunk_tokens) AS DOUBLE)
            / (CAST(COUNT(*) AS DOUBLE) * CAST({_TOKEN_BUDGET} AS DOUBLE))
            * CAST(1000000 AS DOUBLE)) AS BIGINT) AS fill_micro
FROM chunks GROUP BY lang
"""

QUERIES["sample_pack_efficiency"] = QuerySpec(
    q_sample_pack_efficiency, Q_SAMPLE_PACK_EFFICIENCY_ORACLE
)



# r15 (VERDICT r14 #6): the r11+ waves moved VERBATIM into per-family
# submodules (sampling_eval_queries, sampling_audit_queries);
# suite/__init__.all_queries registers them immediately after this module.


# r15 (VERDICT r14 #6): names moved VERBATIM into the split submodules stay
# importable from this module via PEP 562 lazy attribute resolution --
# function-local imports and tests across the package predate the split, and
# rewriting their import paths would flip seating fingerprints for a pure
# move. Lazy (not a top-level re-export) so importing a submodule first can
# never hit a partially-initialized parent.
_SPLIT_SUBMODULES = ('sampling_eval_queries', 'sampling_audit_queries')


def __getattr__(name: str):
    # Never forward dunder probes: the import machinery itself asks for
    # __path__ (package check) during every `from <this module> import x`,
    # and forwarding that into a submodule import while a submodule is
    # already mid-initialization deadlocks the cycle this hook exists to
    # avoid.
    if name.startswith("__") and name.endswith("__"):
        raise AttributeError(name)
    import importlib

    for _m in _SPLIT_SUBMODULES:
        mod = importlib.import_module(
            f"movie_genre_data_pipeline_spark.suite.{_m}"
        )
        if hasattr(mod, name):
            return getattr(mod, name)
    raise AttributeError(
        f"module {__name__!r} has no attribute {name!r}"
    )
