"""Feature statistics & selector-evaluation queries (r11-r13 wave),
moved VERBATIM out of sampling_queries.py (r15, VERDICT r14 #6 -- the
5.8k-line module split). Mutual information, chi-squared, the priority
estimator, leakage screen, WoE/IV, ESS, AUC/PR-AUC/KS, calibration
reliability, Brier decomposition, and the Poisson-bootstrap CI.
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
from movie_genre_data_pipeline_spark.suite.sampling_queries import (  # noqa: E501
    DSIR_BUCKETS,
    LOGREG_ITERS,
    _LOGREG_LABEL,
    _LOGREG_ZT,
    _dsir_w_ctes,
    _irls_ctes,
)

QUERIES: dict[str, QuerySpec] = {}

# -- mutual information between categorical features (r11) ------------------------------------
# The information-theoretic member of the feature-relevance family (next to
# Pearson corr and target encoding): MI(X;Y) = Σ p_xy · ln(p_xy / (p_x p_y))
# over the contingency table — the standard feature-selection statistic for
# categorical pairs. Exactness discipline: each cell's log-ratio argument is
# the EXACT integer ratio N·n_xy / (n_x·n_y); its ln is quantized to
# micro-nats with the FLOOR(x+0.5) half-up spell (the argument can be < 1,
# so the negative-half ROUND divergence is live here), weighted by the
# integer cell count, summed exactly in BIGINT, and divided by N once.
# Marginal entropies publish alongside (same per-term quantization as
# text_unigram_entropy) so normalized MI is one derived division away.
# Scale shape: one |X|·|Y|-cell hash aggregate + two broadcast marginals —
# nothing row-sized past the first groupBy. numpy law test in
# tests/test_engine_parity.py.
# each factor cast to DOUBLE BEFORE the multiply: n_rows*n_xy in BIGINT
# overflows 2^63 near 1.5e11 rows with a dominant cell (ANSI mode kills the
# job; non-ANSI wraps negative and ln() silently drops cells) — the r11
# review's point; the denominator already used this pattern
_MI_CELL = (
    "CAST(FLOOR(ln(CAST(n_rows AS DOUBLE) * CAST(n_xy AS DOUBLE)"
    " / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)))"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
# weighted log-sums accumulate in DECIMAL(38,0): a single term is
# ~ln(c)*1e6*c ~ 3e19 at trillion-row marginals, past BIGINT (the Simpson
# sum two modules over demonstrates the same fix)
_H_TERM = (
    "SUM(CAST(CAST(ROUND(ln(CAST({n} AS DOUBLE))"
    " * CAST(1000000 AS DOUBLE)) AS BIGINT) AS DECIMAL(38,0)) * {n})"
)


def mutual_info_from_cells(cells: DataFrame) -> DataFrame:
    """The count-table form of the MI report: `cells` is (x, y, n_xy) — the
    ADDITIVE contingency facts, however accumulated (one batch scan or a
    streaming ledger folded by SUM). Marginals, totals, the per-cell
    log-ratio quantization, and both entropies all derive here; shared by
    the batch query and its streaming twin."""
    # cells feeds FIVE consumers (both marginals, the total, the joined
    # frame, and — through the marginals — both entropy sums): one barrier
    # or the fact scan + cell aggregate re-run per consumer (plan audit: 6
    # orders scans without it)
    cells = materialize(cells)
    mx = cells.groupBy("x").agg(F.sum("n_xy").cast("bigint").alias("n_x"))
    my = cells.groupBy("y").agg(F.sum("n_xy").cast("bigint").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").cast("bigint").alias("n_rows"))
    joined = (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
    )
    sums = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max("n_rows").cast("bigint").alias("n_rows"),
        F.expr(
            f"SUM(CAST({_MI_CELL} AS DECIMAL(38,0)) * n_xy)"
        ).alias("smi"),
    )
    hx = mx.agg(F.expr(_H_TERM.format(n="n_x")).alias("sx"))
    hy = my.agg(F.expr(_H_TERM.format(n="n_y")).alias("sy"))
    ent = (
        "CAST(ROUND(ln(CAST(n_rows AS DOUBLE)) * CAST(1000000 AS DOUBLE))"
        " AS BIGINT)"
        " - CAST(FLOOR(CAST({s} AS DOUBLE) / CAST(n_rows AS DOUBLE)"
        " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    )
    return (
        sums.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .selectExpr(
            "n_cells",
            "n_rows",
            "CAST(FLOOR(CAST(smi AS DOUBLE) / CAST(n_rows AS DOUBLE)"
            " + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mi_micro",
            ent.format(s="sx") + " AS h_x_micro",
            ent.format(s="sy") + " AS h_y_micro",
        )
    )


def q_feat_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    return mutual_info_from_cells(cells)


Q_FEAT_MUTUAL_INFO_ORACLE = f"""
WITH cells AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y,
         CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM orders GROUP BY 1, 2
),
mx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY x),
my AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY y),
tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n_rows FROM cells),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         MAX(n_rows) AS n_rows,
         SUM(CAST({_MI_CELL} AS DECIMAL(38,0)) * n_xy) AS smi
  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
),
hx AS (SELECT {_H_TERM.format(n="n_x")} AS sx FROM mx),
hy AS (SELECT {_H_TERM.format(n="n_y")} AS sy FROM my)
SELECT n_cells,
       n_rows,
       CAST(FLOOR(CAST(smi AS DOUBLE) / CAST(n_rows AS DOUBLE)
         + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mi_micro,
       CAST(ROUND(ln(CAST(n_rows AS DOUBLE)) * CAST(1000000 AS DOUBLE))
         AS BIGINT)
       - CAST(FLOOR(CAST(sx AS DOUBLE) / CAST(n_rows AS DOUBLE)
         + CAST(0.5 AS DOUBLE)) AS BIGINT) AS h_x_micro,
       CAST(ROUND(ln(CAST(n_rows AS DOUBLE)) * CAST(1000000 AS DOUBLE))
         AS BIGINT)
       - CAST(FLOOR(CAST(sy AS DOUBLE) / CAST(n_rows AS DOUBLE)
         + CAST(0.5 AS DOUBLE)) AS BIGINT) AS h_y_micro
FROM sums CROSS JOIN hx CROSS JOIN hy
"""

QUERIES["feat_mutual_info"] = QuerySpec(
    q_feat_mutual_info, Q_FEAT_MUTUAL_INFO_ORACLE
)


# -- chi-squared independence test + Cramér's V (r13) -------------------------------------
# The frequentist companion to feat_mutual_info's information-theoretic
# readout: Pearson's χ² test of independence between two categorical
# columns (is the language mix the same across sources?) with its effect
# size, Cramér's V — the pair every drift review quotes (χ² says "not
# independent", V says "by how much" on a 0..1 scale). The grid is the FULL
# |X|×|Y| cross of observed levels (a structurally-absent cell is a real
# O=0 with E>0 — dropping it inflates independence), built as a broadcast
# margin cross-join, never a fact-side fan-out. Exactness: O and both
# margins are exact BIGINTs; each cell's (O·N − r·c)²/(N·r·c) term
# evaluates in ONE shared double expression quantized once to micro
# (deliberately double throughout — the cross-moment O·N reaches ~1e24 at
# petabyte counts, past DECIMAL(38)'s square headroom; at the driver's SFs
# every factor is exactly representable), then χ² folds as a BIGINT sum of
# per-cell micros and V resolves by one shared sqrt. Scale shape: one fact
# scan collapses map-side to |X|·|Y| cells; margins, grid, and readout are
# all broadcast-sized.
_CHI2_TERM_MICRO = (
    "CAST(FLOOR("
    "(CAST(o AS DOUBLE) * CAST(n_rows AS DOUBLE)"
    " - CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE))"
    " * (CAST(o AS DOUBLE) * CAST(n_rows AS DOUBLE)"
    " - CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE))"
    " * CAST(1000000 AS DOUBLE)"
    " / (CAST(n_rows AS DOUBLE) * CAST(r_tot AS DOUBLE)"
    " * CAST(c_tot AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_CRAMERS_V_MICRO = (
    "CASE WHEN n_rows > 0 AND LEAST(r_levels, c_levels) > 1 THEN"
    " CAST(FLOOR(sqrt(CAST(chi2_micro AS DOUBLE)"
    " / (CAST(1000000 AS DOUBLE) * CAST(n_rows AS DOUBLE)"
    " * CAST(LEAST(r_levels, c_levels) - 1 AS DOUBLE)))"
    " * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)


def chi2_from_cells(cells: DataFrame) -> DataFrame:
    """The independence-test tail over ADDITIVE (x, y, n_xy) contingency
    facts, however accumulated — shared by the batch query and the
    streaming ledger twin. Margins, the zero-filled grid, per-cell terms,
    and the V readout all derive here."""
    cells = materialize(cells)
    mx = cells.groupBy("x").agg(F.sum("n_xy").cast("bigint").alias("r_tot"))
    my = cells.groupBy("y").agg(F.sum("n_xy").cast("bigint").alias("c_tot"))
    tot = cells.agg(F.sum("n_xy").cast("bigint").alias("n_rows"))
    grid = (
        mx.crossJoin(F.broadcast(my))
        .join(F.broadcast(cells), ["x", "y"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            "r_tot",
            "c_tot",
            "n_rows",
            F.coalesce("n_xy", F.lit(0)).cast("bigint").alias("o"),
        )
    )
    folded = grid.selectExpr(
        "n_rows", f"{_CHI2_TERM_MICRO} AS term_micro"
    ).agg(
        F.max("n_rows").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("term_micro").cast("bigint").alias("chi2_micro"),
    )
    levels = mx.agg(F.count(F.lit(1)).cast("bigint").alias("r_levels")).crossJoin(
        F.broadcast(my.agg(F.count(F.lit(1)).cast("bigint").alias("c_levels")))
    )
    return (
        folded.crossJoin(F.broadcast(levels))
        .selectExpr(
            "n_rows",
            "n_cells",
            "r_levels",
            "c_levels",
            "(r_levels - 1) * (c_levels - 1) AS dof",
            "chi2_micro",
            f"{_CRAMERS_V_MICRO} AS cramers_v_micro",
        )
    )


def q_feat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    cells = d.groupBy(
        F.col("lang").alias("x"), F.col("source").alias("y")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    return chi2_from_cells(cells)


Q_FEAT_CHI2_ORACLE = f"""
WITH cells AS (
  SELECT lang AS x, source AS y, CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM documents GROUP BY 1, 2
),
mx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS r_tot FROM cells GROUP BY x),
my AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS c_tot FROM cells GROUP BY y),
tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n_rows FROM cells),
grid AS (
  SELECT mx.x, my.y, r_tot, c_tot, n_rows,
         CAST(COALESCE(c.n_xy, 0) AS BIGINT) AS o
  FROM mx CROSS JOIN my
  LEFT JOIN cells c ON c.x = mx.x AND c.y = my.y
  CROSS JOIN tot
),
folded AS (
  SELECT MAX(n_rows) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM({_CHI2_TERM_MICRO}) AS BIGINT) AS chi2_micro
  FROM grid
),
levels AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM mx) AS r_levels,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM my) AS c_levels
)
SELECT n_rows, n_cells, r_levels, c_levels,
       (r_levels - 1) * (c_levels - 1) AS dof,
       chi2_micro,
       {_CRAMERS_V_MICRO} AS cramers_v_micro
FROM folded CROSS JOIN levels
"""


QUERIES["feat_chi2_independence"] = QuerySpec(
    q_feat_chi2_independence, Q_FEAT_CHI2_ORACLE
)


# -- priority-sample threshold estimator (r12) -------------------------------------------------
# sample_weighted_reservoir keeps the top-k priority sample; this query adds
# the other half of Duffield/Lund/Thorup priority sampling — the THRESHOLD
# ESTIMATOR: with tau = the (k+1)-th priority, each sampled row's
# Horvitz-Thompson weight is max(w_i, tau) and the sample's est_total is an
# unbiased estimate of the stratum's TRUE total weight. Publishing the
# estimate next to the true per-language totals makes the estimator's
# accuracy the oracle-checked value. Exactness: priorities are one IEEE
# division of exact integers (the reservoir's 48-bit md5 fraction, same salt
# — so this IS the same sample, deliberately: one draw, two readouts);
# per-row estimates are micro-quantized BEFORE the k-term sum, so the sum is
# an exact BIGINT. Scale shape: two column-pruned fact scans (rank + totals
# — re-scanning 3 columns is cheaper than checkpointing a fact table), both
# windows partitioned by the stratum; nothing larger than |lang| rows after.
PRIORITY_EST_K = 25  # matches RESERVOIR_K: the same published sample


def priority_estimator_report(cands: DataFrame, totals: DataFrame) -> DataFrame:
    """The report tail over (lang, doc_id, n_chars) CANDIDATE rows and
    (lang, n_docs, total_chars) totals. Batch passes the full documents
    frame; the streaming twin passes its folded candidate ledger (per-batch
    top-(k+1) per stratum — a mergeable bound: any global top-(k+1) row is
    in its own batch's top-(k+1)) and SUM-folded totals. Priorities are a
    pure function of doc_id, so re-deriving them at readout is batching-
    invariant by construction."""
    from pyspark.sql import Window

    from movie_genre_data_pipeline_spark.functions.sampling import sample_tag

    u = (
        F.conv(F.substring(sample_tag("doc_id", "priority"), 1, 12), 16, 10)
        .cast("bigint")
        + F.lit(1)
    ).cast("double") / F.lit(float(1 << 48))
    tagged = cands.withColumn(
        "priority", F.col("n_chars").cast("double") / u
    )
    wlang = Window.partitionBy("lang")
    ranked = tagged.withColumn(
        "rn",
        F.row_number().over(
            wlang.orderBy(F.col("priority").desc(), F.col("doc_id").asc())
        ),
    ).withColumn(
        "tau",
        F.coalesce(
            F.max(
                F.when(
                    F.col("rn") == PRIORITY_EST_K + 1, F.col("priority")
                )
            ).over(wlang),
            F.lit(0.0).cast("double"),
        ),
    )
    sampled = ranked.filter(F.col("rn") <= PRIORITY_EST_K).withColumn(
        "est_micro",
        F.expr(
            "CAST(FLOOR(GREATEST(CAST(n_chars AS DOUBLE), tau)"
            " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
        ),
    )
    rep = sampled.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum("n_chars").cast("bigint").alias("sampled_chars"),
        F.expr(
            "CAST(FLOOR(MAX(tau) * CAST(1000000 AS DOUBLE)"
            " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
        ).alias("tau_micro"),
        F.sum("est_micro").cast("bigint").alias("est_total_micro"),
    )
    return rep.join(F.broadcast(totals), "lang").select(
        "lang",
        "n_sampled",
        "sampled_chars",
        "tau_micro",
        "est_total_micro",
        "n_docs",
        "total_chars",
    )


def q_sample_priority_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    totals = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return priority_estimator_report(d, totals)


Q_PRIORITY_ESTIMATOR_ORACLE = f"""
WITH tagged AS (
  SELECT lang, doc_id, n_chars,
         CAST(n_chars AS DOUBLE) /
           ((CAST(concat('0x', substring(md5(doc_id || ':priority'), 1, 12))
                  AS BIGINT) + 1) / {float(1 << 48)!r}) AS priority
  FROM documents
),
ranked AS (
  SELECT lang, doc_id, n_chars, priority,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY priority DESC, doc_id ASC) AS rn
  FROM tagged
),
taus AS (
  SELECT lang,
         COALESCE(MAX(CASE WHEN rn = {PRIORITY_EST_K + 1} THEN priority END),
                  CAST(0 AS DOUBLE)) AS tau
  FROM ranked GROUP BY lang
),
sampled AS (
  SELECT r.lang, r.n_chars, t.tau,
         CAST(FLOOR(GREATEST(CAST(r.n_chars AS DOUBLE), t.tau)
              * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
           AS est_micro
  FROM ranked r JOIN taus t USING (lang) WHERE r.rn <= {PRIORITY_EST_K}
),
rep AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
         CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
         CAST(FLOOR(MAX(tau) * CAST(1000000 AS DOUBLE)
              + CAST(0.5 AS DOUBLE)) AS BIGINT) AS tau_micro,
         CAST(SUM(est_micro) AS BIGINT) AS est_total_micro
  FROM sampled GROUP BY lang
),
totals AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM documents GROUP BY lang
)
SELECT r.lang, r.n_sampled, r.sampled_chars, r.tau_micro, r.est_total_micro,
       t.n_docs, t.total_chars
FROM rep r JOIN totals t USING (lang)
"""

QUERIES["sample_priority_estimator"] = QuerySpec(
    q_sample_priority_estimator, Q_PRIORITY_ESTIMATOR_ORACLE
)


# -- target-leakage screen: per-feature MI against a label (r12) -------------------------------
# feat_mutual_info prices ONE feature pair; the screen a modeler actually
# runs before training prices EVERY candidate feature against the label in
# one report, ranked by how much of the label's entropy the feature already
# explains — the standard pre-training leakage/relevance triage (a feature
# with nmi ~= 1 is leakage; ~0 is noise). Same exact-integer MI arithmetic
# as feat_mutual_info (per-cell ln of an exact integer ratio, micro-nat
# quantization, DECIMAL(38,0) weighted sums), generalized to a per-feature
# grain. Scale shape: ONE fact scan unpivoted via stack (5x rows map-side,
# collapsed by the map-side-combined cell groupBy before any shuffle);
# everything after runs on bounded (feature x value) tables with broadcast
# marginals.
LEAKAGE_FEATURES: list[tuple[str, str]] = [
    # (feature name, engine-portable expression over orders)
    ("order_priority", "o_orderpriority"),
    ("order_year", "CAST(year(o_orderdate) AS STRING)"),
    ("order_month", "CAST(month(o_orderdate) AS STRING)"),
    ("cust_mod10", "CAST(o_custkey % 10 AS STRING)"),
    (
        "price_band",
        "CAST(CAST(FLOOR(CAST(o_totalprice AS DOUBLE)"
        " / CAST(50000 AS DOUBLE)) AS BIGINT) AS STRING)",
    ),
]


def mutual_info_screen_from_cells(cells: DataFrame) -> DataFrame:
    """The per-feature MI tail: `cells` is (feature, x, y, n_xy) — additive
    contingency facts for EVERY screened feature, however accumulated (one
    stacked batch scan or a streaming ledger folded by SUM). Same five-
    consumer fan-out as mutual_info_from_cells, so the same barrier pin."""
    cells = materialize(cells)
    mx = cells.groupBy("feature", "x").agg(
        F.sum("n_xy").cast("bigint").alias("n_x")
    )
    my = cells.groupBy("feature", "y").agg(
        F.sum("n_xy").cast("bigint").alias("n_y")
    )
    tot = cells.groupBy("feature").agg(
        F.sum("n_xy").cast("bigint").alias("n_rows")
    )
    joined = (
        cells.join(F.broadcast(mx), ["feature", "x"])
        .join(F.broadcast(my), ["feature", "y"])
        .join(F.broadcast(tot), "feature")
    )
    sums = joined.groupBy("feature").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max("n_rows").cast("bigint").alias("n_rows"),
        F.expr(f"SUM(CAST({_MI_CELL} AS DECIMAL(38,0)) * n_xy)").alias("smi"),
    )
    hx = mx.groupBy("feature").agg(F.expr(_H_TERM.format(n="n_x")).alias("sx"))
    hy = my.groupBy("feature").agg(F.expr(_H_TERM.format(n="n_y")).alias("sy"))
    ent = (
        "CAST(ROUND(ln(CAST(n_rows AS DOUBLE)) * CAST(1000000 AS DOUBLE))"
        " AS BIGINT)"
        " - CAST(FLOOR(CAST({s} AS DOUBLE) / CAST(n_rows AS DOUBLE)"
        " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    )
    return (
        sums.join(F.broadcast(hx), "feature")
        .join(F.broadcast(hy), "feature")
        .selectExpr(
            "feature",
            "n_cells",
            "n_rows",
            "CAST(FLOOR(CAST(smi AS DOUBLE) / CAST(n_rows AS DOUBLE)"
            " + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mi_micro",
            ent.format(s="sx") + " AS h_x_micro",
            ent.format(s="sy") + " AS h_y_micro",
        )
        .selectExpr(
            "feature",
            "n_cells",
            "n_rows",
            "mi_micro",
            "h_x_micro",
            "h_y_micro",
            # share of label entropy the feature explains — the leakage dial;
            # derived from already-quantized integers, so exact cross-engine
            "CASE WHEN h_y_micro > 0 THEN"
            " CAST(FLOOR(CAST(mi_micro AS DOUBLE) * CAST(1000000 AS DOUBLE)"
            " / CAST(h_y_micro AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END AS nmi_y_micro",
        )
    )


def leakage_cell_facts(orders: DataFrame) -> DataFrame:
    """(feature, x, y, n_xy) — the stacked additive contingency facts over
    one orders scan (stack unpivots the feature expressions map-side)."""
    stack_expr = ", ".join(
        f"'{name}', {expr}" for name, expr in LEAKAGE_FEATURES
    )
    return (
        orders.selectExpr(
            f"stack({len(LEAKAGE_FEATURES)}, {stack_expr}) AS (feature, x)",
            "o_orderstatus AS y",
        )
        .groupBy("feature", "x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    )


def q_feat_leakage_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return mutual_info_screen_from_cells(leakage_cell_facts(o))


def _leakage_oracle() -> str:
    sel = "\nUNION ALL ".join(
        f"SELECT '{name}' AS feature, {expr.replace('AS STRING', 'AS VARCHAR')}"
        f" AS x, o_orderstatus AS y FROM orders"
        for name, expr in LEAKAGE_FEATURES
    )
    return f"""
WITH stacked AS (
{sel}
),
cells AS (
  SELECT feature, x, y, CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM stacked GROUP BY 1, 2, 3
),
mx AS (SELECT feature, x, CAST(SUM(n_xy) AS BIGINT) AS n_x
       FROM cells GROUP BY 1, 2),
my AS (SELECT feature, y, CAST(SUM(n_xy) AS BIGINT) AS n_y
       FROM cells GROUP BY 1, 2),
tot AS (SELECT feature, CAST(SUM(n_xy) AS BIGINT) AS n_rows
        FROM cells GROUP BY 1),
sums AS (
  SELECT feature, CAST(COUNT(*) AS BIGINT) AS n_cells,
         MAX(n_rows) AS n_rows,
         SUM(CAST({_MI_CELL} AS DECIMAL(38,0)) * n_xy) AS smi
  FROM cells JOIN mx USING (feature, x) JOIN my USING (feature, y)
       JOIN tot USING (feature)
  GROUP BY feature
),
hx AS (SELECT feature, {_H_TERM.format(n="n_x")} AS sx FROM mx GROUP BY feature),
hy AS (SELECT feature, {_H_TERM.format(n="n_y")} AS sy FROM my GROUP BY feature),
ents AS (
  SELECT feature, n_cells, n_rows,
         CAST(FLOOR(CAST(smi AS DOUBLE) / CAST(n_rows AS DOUBLE)
           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mi_micro,
         CAST(ROUND(ln(CAST(n_rows AS DOUBLE)) * CAST(1000000 AS DOUBLE))
           AS BIGINT)
         - CAST(FLOOR(CAST(sx AS DOUBLE) / CAST(n_rows AS DOUBLE)
           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS h_x_micro,
         CAST(ROUND(ln(CAST(n_rows AS DOUBLE)) * CAST(1000000 AS DOUBLE))
           AS BIGINT)
         - CAST(FLOOR(CAST(sy AS DOUBLE) / CAST(n_rows AS DOUBLE)
           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS h_y_micro
  FROM sums JOIN hx USING (feature) JOIN hy USING (feature)
)
SELECT feature, n_cells, n_rows, mi_micro, h_x_micro, h_y_micro,
       CASE WHEN h_y_micro > 0 THEN
         CAST(FLOOR(CAST(mi_micro AS DOUBLE) * CAST(1000000 AS DOUBLE)
           / CAST(h_y_micro AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS nmi_y_micro
FROM ents
"""


QUERIES["feat_leakage_screen"] = QuerySpec(
    q_feat_leakage_screen, _leakage_oracle()
)


# -- feature pricing: weight-of-evidence / information value (r12) -----------------------
# The credit-scoring companion to the MI leakage screen: per feature bin,
# WoE = ln(P(bin|pos) / P(bin|neg)) prices how hard the bin separates the
# binary target, and IV = Σ (pos_share − neg_share)·WoE summarizes the
# feature (IV < 0.02 noise, > 0.5 suspicious/leaky — the standard triage
# bands). Exactness discipline: WoE uses the Laplace-smoothed EXACT integer
# ratio ((2·n_pos+1)·(2·N+B)) / ((2·n_neg+1)·(2·P+B)) so no bin divides by
# zero, each factor cast to DOUBLE before the multiply (the _MI_CELL
# overflow spell); the distribution shares are micro-quantized integers
# FIRST, so every IV contribution is an exact (share_diff × woe_micro)
# integer and the corpus sum is accumulation-order-free. Scale shape: one
# stacked orders scan collapsed map-side into (feature, bin) cells; the
# report runs on bounded cell tables with broadcast per-feature totals.
# FLOOR(x+0.5), not ROUND: WoE is frequently NEGATIVE, and ROUND of a
# negative non-integer-derived double is the one rounding form that has
# diverged between Spark and a driver-side DuckDB before (the r6 lesson
# text_queries.py:1136 documents; VERDICT r12 advice re-flagged this
# instance). The shared half-up-toward-+inf spell is representation-stable
# on both engines.
_WOE_MICRO = (
    "CAST(FLOOR(ln((CAST(2 * n_pos + 1 AS DOUBLE)"
    " * CAST(2 * t_neg + n_bins AS DOUBLE))"
    " / (CAST(2 * n_neg + 1 AS DOUBLE)"
    " * CAST(2 * t_pos + n_bins AS DOUBLE)))"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
# A class with no rows in a feature (t = 0: every row of the feature is the
# other class) has share 0 in every bin, not a division by zero.
_SHARE_MICRO = (
    "CASE WHEN {t} > 0 THEN"
    " CAST(FLOOR(CAST({n} AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST({t} AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_IV_MICRO = (
    "CAST(FLOOR(CAST(iv_sum AS DOUBLE) / CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def woe_cell_facts(orders: DataFrame) -> DataFrame:
    """(feature, x, n_pos, n_neg) — stacked additive per-bin target counts
    over ONE orders scan (y = order finalized, the same binary the target
    encoder prices); SUM-foldable, so the streaming twin appends these."""
    stack_expr = ", ".join(
        f"'{name}', {expr}" for name, expr in LEAKAGE_FEATURES
    )
    return (
        orders.selectExpr(
            f"stack({len(LEAKAGE_FEATURES)}, {stack_expr}) AS (feature, x)",
            "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y",
        )
        .groupBy("feature", "x")
        .agg(
            F.sum("y").cast("bigint").alias("n_pos"),
            F.sum(1 - F.col("y")).cast("bigint").alias("n_neg"),
        )
    )


def woe_iv_report_from_cells(cells: DataFrame) -> DataFrame:
    """The WoE/IV tail over additive (feature, x, n_pos, n_neg) facts,
    however accumulated (one stacked batch scan or a streaming ledger folded
    by SUM). Two consumers of `cells` (the totals aggregate and the bin
    join), so the cell fan-out is barrier-pinned."""
    cells = materialize(cells)
    tot = cells.groupBy("feature").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("n_pos").cast("bigint").alias("t_pos"),
        F.sum("n_neg").cast("bigint").alias("t_neg"),
    )
    bins = cells.join(F.broadcast(tot), "feature").selectExpr(
        "feature",
        "n_bins",
        "t_pos",
        "t_neg",
        f"{_WOE_MICRO} AS woe_micro",
        f"{_SHARE_MICRO.format(n='n_pos', t='t_pos')} AS pos_share_micro",
        f"{_SHARE_MICRO.format(n='n_neg', t='t_neg')} AS neg_share_micro",
    )
    return (
        bins.groupBy("feature")
        .agg(
            F.max("n_bins").alias("n_bins"),
            F.max("t_pos").alias("n_pos"),
            F.max("t_neg").alias("n_neg"),
            F.expr(
                "SUM((pos_share_micro - neg_share_micro) * woe_micro)"
            ).alias("iv_sum"),
            F.min("woe_micro").alias("woe_min_micro"),
            F.max("woe_micro").alias("woe_max_micro"),
        )
        .selectExpr(
            "feature",
            "n_bins",
            "n_pos",
            "n_neg",
            f"{_IV_MICRO} AS iv_micro",
            "woe_min_micro",
            "woe_max_micro",
        )
    )


def q_feat_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return woe_iv_report_from_cells(woe_cell_facts(o))


def _woe_oracle() -> str:
    sel = "\nUNION ALL ".join(
        f"SELECT '{name}' AS feature, {expr.replace('AS STRING', 'AS VARCHAR')}"
        f" AS x, CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y"
        f" FROM orders"
        for name, expr in LEAKAGE_FEATURES
    )
    return f"""
WITH stacked AS (
{sel}
),
cells AS (
  SELECT feature, x,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(1 - y) AS BIGINT) AS n_neg
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
SELECT feature, n_bins, n_pos, n_neg, {_IV_MICRO} AS iv_micro,
       woe_min_micro, woe_max_micro
FROM folded
"""


QUERIES["feat_woe_iv"] = QuerySpec(q_feat_woe_iv, _woe_oracle())


# -- weighting audit: Kish effective sample size (r12) ------------------------------------
# The audit a curator runs before trusting a WEIGHTED corpus: if documents
# enter the loss (or a sampler) weighted by quality, the effective number of
# documents per language is Kish's ESS = (Σw)²/Σw² — equal weights give
# ESS = n, one dominant document drives it toward 1, and a low ESS/n ratio
# says the weighting collapsed the stratum onto a few documents (variance
# inflation). Exactness: w is the ALREADY-ORACLED 6dp quality score snapped
# to integer micro-units, so Σw and Σw² are exact DECIMAL(38,0) integer
# sums and ESS resolves in one IEEE-exact double expression + the
# FLOOR(x+0.5) spell. Scale shape: ONE documents scan with scan-local
# feature extraction collapsed map-side into |languages| rows.
_ESS_MICRO = (
    "CASE WHEN sum_w2 > 0 THEN"
    " CAST(FLOOR(CAST(sum_w AS DOUBLE) * CAST(sum_w AS DOUBLE)"
    " * CAST(1000000 AS DOUBLE) / CAST(sum_w2 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_ESS_RATIO_MICRO = (
    "CAST(FLOOR(CAST(ess_micro AS DOUBLE) / CAST(n_docs AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def quality_weight_facts(docs: DataFrame) -> DataFrame:
    """(lang, n_docs, sum_w, sum_w2) — additive per-language weight moments
    over ONE documents scan (w = micro-quantized quality, a scan-local
    arrival decision). SUM-foldable, so the streaming twin appends these."""
    from movie_genre_data_pipeline_spark.functions.text import quality_score

    w = (
        F.round(quality_score("text") * F.lit(1000000.0))
        .cast("bigint")
        .alias("w")
    )
    return (
        docs.select("lang", w)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            # DECIMAL(38,0) accumulate: w ≤ 1e6 micro, so a BIGINT Σw wraps
            # past ~9e12 documents (non-ANSI SUM is silent about it)
            F.expr("SUM(CAST(w AS DECIMAL(38,0)))").alias("sum_w"),
            F.expr("SUM(CAST(w AS DECIMAL(38,0)) * w)").alias("sum_w2"),
        )
    )


def ess_report_from_facts(facts: DataFrame) -> DataFrame:
    """The ESS tail over additive per-language weight moments, however
    accumulated (one batch scan or a streaming ledger folded by SUM)."""
    return facts.selectExpr(
        "lang",
        "n_docs",
        "CAST(sum_w AS BIGINT) AS sum_w_micro",
        f"{_ESS_MICRO} AS ess_micro",
    ).selectExpr(
        "lang",
        "n_docs",
        "sum_w_micro",
        "ess_micro",
        f"{_ESS_RATIO_MICRO} AS ess_ratio_micro",
    )


def q_sample_ess_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return ess_report_from_facts(quality_weight_facts(d))


def _ess_oracle() -> str:
    # the weight IS text_quality_scores' oracled formula — embedded as a
    # nested CTE (never re-spelled), so the two strings cannot drift
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        Q_QUALITY_SCORES_ORACLE,
    )

    return f"""
WITH q AS ({Q_QUALITY_SCORES_ORACLE}),
w AS (
  SELECT d.lang, CAST(ROUND(q.quality * 1000000.0) AS BIGINT) AS w
  FROM documents d JOIN q ON q.doc_id = d.doc_id
),
facts AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS DECIMAL(38,0)) AS sum_w,
         SUM(CAST(w AS DECIMAL(38,0)) * w) AS sum_w2
  FROM w GROUP BY 1
),
ess AS (
  SELECT lang, n_docs, CAST(sum_w AS BIGINT) AS sum_w_micro,
         {_ESS_MICRO} AS ess_micro
  FROM facts
)
SELECT lang, n_docs, sum_w_micro, ess_micro,
       {_ESS_RATIO_MICRO} AS ess_ratio_micro
FROM ess
"""


QUERIES["sample_ess_report"] = QuerySpec(q_sample_ess_report, _ess_oracle())


# -- selector evaluation: exact Mann-Whitney AUC (r12) ------------------------------------
# The ranking-evaluation readout the selection family was missing: AUC of
# the DSIR log-weight as a classifier score for the target domain —
# P[score(random target doc) > score(random non-target doc)] with ties at
# half, i.e. the probability the selector RANKS a target doc above a
# non-target one (0.5 = blind, 1.0 = perfect separation). Computed exactly
# by the grouped Mann-Whitney identity: group docs by distinct score, take
# the exclusive prefix sum of negative counts in score order, and fold
# U2 = Σ c_pos·(2·cum_neg_below + c_neg) (twice U so ties stay integral);
# AUC = U2 / (2·P·N) resolves in one IEEE-exact double expression + the
# FLOOR(x+0.5) spell. Scale shape: one doc-keyed score aggregate, then the
# distinct-score table's prefix sum runs RANGE-PARTITIONED
# (operators/ranking.ranged_running_sum — no single-task window even if
# every doc scores uniquely), and the readout is a 1-row reduction.
_AUC_MICRO = (
    "CASE WHEN n_pos > 0 AND n_neg > 0 THEN"
    " CAST(FLOOR(CAST(u2 AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / (CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)


def auc_report_from_labeled(labeled: DataFrame) -> DataFrame:
    """The Mann-Whitney tail over (y BOOLEAN, logw_micro) rows, however the
    scores were derived (one batch scoring pass or a readout over the DSIR
    ledgers). Grouped-tie identity + range-partitioned prefix sum."""
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_running_sum,
    )

    groups = labeled.groupBy(F.col("logw_micro").alias("s")).agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("bigint").alias("c_pos"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).cast("bigint").alias("c_neg"),
    )
    cum = ranged_running_sum(
        groups, ["s"], F.col("c_neg"), "cum_neg_below"
    )
    sums = cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scores"),
        F.sum("c_pos").cast("bigint").alias("n_pos"),
        F.sum("c_neg").cast("bigint").alias("n_neg"),
        # DECIMAL(38,0): U2 is O(P·N) pair counts — quadratic in docs, past
        # 2^63 the moment both classes clear ~2e9
        F.expr(
            "SUM(CAST(c_pos AS DECIMAL(38,0))"
            " * (2 * cum_neg_below + c_neg))"
        ).alias("u2"),
    )
    return sums.selectExpr(
        "n_pos",
        "n_neg",
        "n_scores",
        f"{_AUC_MICRO} AS auc_micro",
    ).selectExpr(
        "n_pos",
        "n_neg",
        "n_scores",
        "auc_micro",
        "auc_micro * 2 - 1000000 AS gini_micro",
    )


def q_feat_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.sampling import dsir_importance

    d = load(spark, sf_dir, "documents")
    w = dsir_importance(
        d, "doc_id", "text", (F.col("lang") == "en"), n_buckets=DSIR_BUCKETS
    )
    labeled = (
        d.select("doc_id", (F.col("lang") == "en").alias("y"))
        .join(w, "doc_id")
        .select("y", "logw_micro")
    )
    return auc_report_from_labeled(labeled)


def _auc_oracle() -> str:
    return f"""
WITH {_dsir_w_ctes()},
labeled AS (
  SELECT w.doc_id, w.logw_micro, d.lang = 'en' AS y
  FROM w JOIN documents d USING (doc_id)
),
groups AS (
  SELECT logw_micro AS s,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
  FROM labeled GROUP BY 1
),
cum AS (
  SELECT s, c_pos, c_neg,
         CAST(COALESCE(SUM(c_neg) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_neg_below
  FROM groups
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_scores,
         CAST(SUM(c_pos) AS BIGINT) AS n_pos,
         CAST(SUM(c_neg) AS BIGINT) AS n_neg,
         SUM(CAST(c_pos AS DECIMAL(38,0))
             * (2 * cum_neg_below + c_neg)) AS u2
  FROM cum
)
SELECT n_pos, n_neg, n_scores, {_AUC_MICRO} AS auc_micro,
       {_AUC_MICRO} * 2 - 1000000 AS gini_micro
FROM sums
"""


QUERIES["feat_auc_report"] = QuerySpec(q_feat_auc_report, _auc_oracle())


# -- selector evaluation: average precision / PR-AUC (r13) --------------------------------
# The imbalanced-regime companion to the ROC AUC (VERDICT r12 #4): when the
# positive class is tiny — the regime an LLM-data selector actually runs in —
# ROC AUC stays optimistic because true negatives dominate both axes, while
# the precision-recall curve prices exactly what the curator pays for: of the
# documents the selector ranks highest, how many are really target-domain?
# AP = Σ_k ΔR_k·P_k over distinct scores DESCENDING (the step-wise
# average_precision convention, ties grouped), via the same (s, c_pos, c_neg)
# table as the AUC: TP_k = P − pos_below(k) and at-or-above_k = N_tot −
# all_below(k) re-derive both curve axes from two range-partitioned exclusive
# prefix sums. Exactness: each group's term is quantized ONCE to pico units
# (FLOOR(c_pos·TP·1e12/at_or_above + 0.5) — one deterministic double
# expression, identical text both engines), accumulated in DECIMAL(38,0)
# (terms reach c_pos·1e12, past BIGINT the moment one tie group holds ~9e6
# positives), and AP resolves in one final double divide + the half-up
# spell. The random-classifier baseline for AP is the PREVALENCE P/(P+N)
# (not 0.5) — published alongside so the lift is readable. Scale shape: one
# doc-keyed score aggregate, two ranged prefix sums over the distinct-score
# table (operators/ranking — no single-task window), broadcast 1-row totals,
# 1-row readout.
_AP_TERM_PICO = (
    "CASE WHEN c_pos > 0 THEN"
    " CAST(FLOOR(CAST(c_pos AS DOUBLE)"
    " * CAST(n_pos - cum_pos_below AS DOUBLE)"
    " * CAST(1000000000000 AS DOUBLE)"
    " / CAST(n_pos + n_neg - cum_all_below AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS DECIMAL(38,0))"
    " ELSE CAST(0 AS DECIMAL(38,0)) END"
)
_AP_MICRO = (
    "CASE WHEN n_pos > 0 AND n_neg > 0 THEN"
    " CAST(FLOOR(CAST(ap_sum AS DOUBLE)"
    " / (CAST(1000000 AS DOUBLE) * CAST(n_pos AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_PREVALENCE_MICRO = (
    "CAST(FLOOR(CAST(n_pos AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(n_pos + n_neg AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def pr_auc_report_from_labeled(labeled: DataFrame) -> DataFrame:
    """The average-precision tail over (y BOOLEAN, logw_micro) rows, however
    the scores were derived — shared by the batch query and the streaming
    ledger readout, exactly like auc_report_from_labeled."""
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_running_sum,
    )

    groups = labeled.groupBy(F.col("logw_micro").alias("s")).agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("bigint").alias("c_pos"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).cast("bigint").alias("c_neg"),
    )
    cum = ranged_running_sum(groups, ["s"], F.col("c_pos"), "cum_pos_below")
    cum = ranged_running_sum(
        cum, ["s"], F.col("c_pos") + F.col("c_neg"), "cum_all_below"
    )
    tot = cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scores"),
        F.sum("c_pos").cast("bigint").alias("n_pos"),
        F.sum("c_neg").cast("bigint").alias("n_neg"),
    )
    sums = (
        cum.crossJoin(F.broadcast(tot))
        .selectExpr(
            "n_pos",
            "n_neg",
            "n_scores",
            f"{_AP_TERM_PICO} AS term_pico",
        )
        .agg(
            F.max("n_pos").alias("n_pos"),
            F.max("n_neg").alias("n_neg"),
            F.max("n_scores").alias("n_scores"),
            F.sum("term_pico").alias("ap_sum"),
        )
    )
    return sums.selectExpr(
        "n_pos",
        "n_neg",
        "n_scores",
        f"{_AP_MICRO} AS ap_micro",
        f"{_PREVALENCE_MICRO} AS prevalence_micro",
    )


def q_feat_pr_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.sampling import dsir_importance

    d = load(spark, sf_dir, "documents")
    w = dsir_importance(
        d, "doc_id", "text", (F.col("lang") == "en"), n_buckets=DSIR_BUCKETS
    )
    labeled = (
        d.select("doc_id", (F.col("lang") == "en").alias("y"))
        .join(w, "doc_id")
        .select("y", "logw_micro")
    )
    return pr_auc_report_from_labeled(labeled)


def _pr_auc_oracle() -> str:
    return f"""
WITH {_dsir_w_ctes()},
labeled AS (
  SELECT w.doc_id, w.logw_micro, d.lang = 'en' AS y
  FROM w JOIN documents d USING (doc_id)
),
groups AS (
  SELECT logw_micro AS s,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
  FROM labeled GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_scores,
         CAST(SUM(c_pos) AS BIGINT) AS n_pos,
         CAST(SUM(c_neg) AS BIGINT) AS n_neg
  FROM groups
),
cum AS (
  SELECT s, c_pos, c_neg,
         CAST(COALESCE(SUM(c_pos) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_pos_below,
         CAST(COALESCE(SUM(c_pos + c_neg) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_all_below
  FROM groups
),
sums AS (
  SELECT MAX(t.n_pos) AS n_pos, MAX(t.n_neg) AS n_neg,
         MAX(t.n_scores) AS n_scores,
         SUM({_AP_TERM_PICO}) AS ap_sum
  FROM cum CROSS JOIN tot t
)
SELECT n_pos, n_neg, n_scores, {_AP_MICRO} AS ap_micro,
       {_PREVALENCE_MICRO} AS prevalence_micro
FROM sums
"""


QUERIES["feat_pr_auc_report"] = QuerySpec(q_feat_pr_auc_report, _pr_auc_oracle())


# -- selector evaluation: Kolmogorov-Smirnov separation (r13) -----------------------------
# The third leg of the scorecard-evaluation triple (AUC ranks, calibration
# prices confidence, KS localizes): KS = max_s |F_pos(s) − F_neg(s)| over the
# score axis — the single best cutoff's class separation, THE standard
# scorecard acceptance statistic, and unlike AUC it also says WHERE to cut
# (the published ks_at_score). Exactness: with the same (s, c_pos, c_neg)
# grouped table, inclusive-ascending CDFs make each gap an EXACT integer
# cross-product |cum_pos·n_neg − cum_neg·n_pos| (DECIMAL(38,0) — the product
# is O(n²) past 2^63 when both classes clear ~3e9) and the max is
# order-free, so KS needs NO per-term double quantization at all: one double
# divide at the very end. The argmax score is tie-broken by MIN(s) so both
# engines publish the same cutoff. Scale shape: identical to the AUC — one
# doc-keyed score aggregate, one range-partitioned prefix sum (inclusive =
# exclusive + own count), a 1-row max-reduce, and one broadcast-back join to
# recover the argmax score.
_KS_MICRO = (
    "CASE WHEN n_pos > 0 AND n_neg > 0 THEN"
    " CAST(FLOOR(CAST(ks_num AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)


def ks_report_from_labeled(labeled: DataFrame) -> DataFrame:
    """The KS tail over (y BOOLEAN, logw_micro) rows, however the scores were
    derived — shared by the batch query and the streaming ledger readout.
    `gaps` feeds two consumers (the max-reduce and the argmax join-back), so
    the prefix-sum fan-out is barrier-pinned."""
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_running_sum,
    )

    groups = labeled.groupBy(F.col("logw_micro").alias("s")).agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("bigint").alias("c_pos"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).cast("bigint").alias("c_neg"),
    )
    cum = ranged_running_sum(groups, ["s"], F.col("c_pos"), "pos_below")
    cum = ranged_running_sum(cum, ["s"], F.col("c_neg"), "neg_below")
    tot = cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scores"),
        F.sum("c_pos").cast("bigint").alias("n_pos"),
        F.sum("c_neg").cast("bigint").alias("n_neg"),
    )
    # inclusive CDFs (exclusive prefix + the group's own count); each gap is
    # the exact integer cross-product, so the max is integer-ordered and no
    # per-term quantization exists anywhere.
    gaps = materialize(
        cum.selectExpr(
            "s",
            "CAST(pos_below + c_pos AS BIGINT) AS cum_pos",
            "CAST(neg_below + c_neg AS BIGINT) AS cum_neg",
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "s",
            "n_pos",
            "n_neg",
            "n_scores",
            "abs(CAST(cum_pos AS DECIMAL(38,0)) * n_neg"
            " - CAST(cum_neg AS DECIMAL(38,0)) * n_pos) AS gap_num",
        )
    )
    best = gaps.agg(
        F.max("n_pos").alias("n_pos"),
        F.max("n_neg").alias("n_neg"),
        F.max("n_scores").alias("n_scores"),
        F.max("gap_num").alias("ks_num"),
    )
    at = (
        gaps.join(
            F.broadcast(best.select(F.col("ks_num").alias("__best"))),
            F.col("gap_num") == F.col("__best"),
        )
        .agg(F.min("s").cast("bigint").alias("ks_at_score"))
    )
    return best.crossJoin(F.broadcast(at)).selectExpr(
        "n_pos",
        "n_neg",
        "n_scores",
        f"{_KS_MICRO} AS ks_micro",
        "ks_at_score",
    )


def q_feat_ks_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.sampling import dsir_importance

    d = load(spark, sf_dir, "documents")
    w = dsir_importance(
        d, "doc_id", "text", (F.col("lang") == "en"), n_buckets=DSIR_BUCKETS
    )
    labeled = (
        d.select("doc_id", (F.col("lang") == "en").alias("y"))
        .join(w, "doc_id")
        .select("y", "logw_micro")
    )
    return ks_report_from_labeled(labeled)


def _ks_oracle() -> str:
    return f"""
WITH {_dsir_w_ctes()},
labeled AS (
  SELECT w.doc_id, w.logw_micro, d.lang = 'en' AS y
  FROM w JOIN documents d USING (doc_id)
),
groups AS (
  SELECT logw_micro AS s,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
  FROM labeled GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_scores,
         CAST(SUM(c_pos) AS BIGINT) AS n_pos,
         CAST(SUM(c_neg) AS BIGINT) AS n_neg
  FROM groups
),
cum AS (
  SELECT s,
         CAST(SUM(c_pos) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_pos,
         CAST(SUM(c_neg) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_neg
  FROM groups
),
gaps AS (
  SELECT s, t.n_pos, t.n_neg, t.n_scores,
         abs(CAST(cum_pos AS DECIMAL(38,0)) * t.n_neg
             - CAST(cum_neg AS DECIMAL(38,0)) * t.n_pos) AS gap_num
  FROM cum CROSS JOIN tot t
),
best AS (
  SELECT MAX(n_pos) AS n_pos, MAX(n_neg) AS n_neg,
         MAX(n_scores) AS n_scores, MAX(gap_num) AS ks_num
  FROM gaps
),
at AS (
  SELECT CAST(MIN(g.s) AS BIGINT) AS ks_at_score
  FROM gaps g JOIN best b ON g.gap_num = b.ks_num
)
SELECT n_pos, n_neg, n_scores, {_KS_MICRO} AS ks_micro, ks_at_score
FROM best CROSS JOIN at
"""


QUERIES["feat_ks_report"] = QuerySpec(q_feat_ks_report, _ks_oracle())


# -- classifier calibration: reliability bins (r12) ---------------------------------------
# The evaluation companion to the AUC report on the PROBABILITY axis: a
# classifier can rank perfectly yet lie about its confidence. Score every
# row under the IRLS fit's FINAL betas, bin the predicted probability into
# deciles, and compare each bin's mean prediction against its observed
# positive rate — the reliability diagram, whose per-bin |gap| rolls up to
# ECE (the law test pins the weighted roll-up). Exactness: mu is the
# already-integer micro-sigmoid (functions/regression.SIGMOID_MICRO_SQL),
# so bins are integer DIV, and both per-bin means divide exact integer sums
# once (Σmu in DECIMAL(38,0) — n·1e6 passes 2^63 at ~9e12 rows). Scale
# shape: the IRLS fit is iters x a d²-sized map-side-combined Gram; scoring
# + binning is ONE more scan collapsed map-side into 10 rows.
_CAL_AVG_PRED = (
    "CAST(FLOOR(CAST(sum_mu AS DOUBLE) / CAST(n_rows AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_CAL_OBS_RATE = (
    "CAST(FLOOR(CAST(sum_y AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(n_rows AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def _logreg_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, y, mu_micro) for every order under the IRLS fit's FINAL betas —
    the shared front half of the probability-axis evaluations (calibration
    report, Brier decomposition, conformal threshold; k = the orderkey, the
    deterministic split handle). The fit is iters x the d²-sized
    map-side-combined Gram; only the d+1 final micro-betas are collected;
    scoring is one more scan-local projection."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        SIGMOID_MICRO_SQL,
        logreg_irls_micro,
    )

    o = load(spark, sf_dir, "orders")
    feats = o.select(
        F.col("o_orderkey").cast("bigint").alias("k"),
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
    labeled = feats.select("k", "x1", "x2", F.expr(_LOGREG_LABEL).alias("y"))
    traj = logreg_irls_micro(labeled, "x1", "x2", "y", iters=LOGREG_ITERS)
    final = traj.filter(F.col("iter") == LOGREG_ITERS).collect()[0]
    b0, b1, b2 = final["b0_micro"], final["b1_micro"], final["b2_micro"]
    return labeled.select(
        "k",
        "y",
        (
            F.lit(b0) + F.lit(b1) * F.col("x1") + F.lit(b2) * F.col("x2")
        ).alias("z_micro"),
    ).withColumn("mu_micro", F.expr(SIGMOID_MICRO_SQL))


def q_feat_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _logreg_scored(spark, sf_dir)
    bins = scored.groupBy(
        F.expr("mu_micro DIV 100000").cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("y").cast("bigint").alias("sum_y"),
        F.expr("SUM(CAST(mu_micro AS DECIMAL(38,0)))").alias("sum_mu"),
    )
    return bins.selectExpr(
        "bin",
        "n_rows",
        f"{_CAL_AVG_PRED} AS avg_pred_micro",
        f"{_CAL_OBS_RATE} AS obs_rate_micro",
    ).selectExpr(
        "bin",
        "n_rows",
        "avg_pred_micro",
        "obs_rate_micro",
        "avg_pred_micro - obs_rate_micro AS gap_micro",
    )


def _logreg_scored_ctes() -> str:
    """The fit-and-score chain as WITH-body text ending at
    scored(y, mu_micro) — the oracle twin of _logreg_scored, shared by the
    calibration and Brier-decomposition oracles so the scoring chain is
    spelled exactly once."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        SIGMOID_MICRO_SQL,
    )

    head = f"""WITH f AS MATERIALIZED (
  SELECT k, x1, x2, {_LOGREG_LABEL} AS y
  FROM (
    SELECT k, x1, x2, u48, {_LOGREG_ZT} AS zt
    FROM (
      SELECT CAST(o_orderkey AS BIGINT) AS k,
             CAST(o_orderkey % 180 + 60 AS BIGINT) AS x1,
             CAST(o_custkey % 25 AS BIGINT) AS x2,
             CAST(concat('0x', substring(md5(o_orderkey || ':logreg'), 1, 12))
               AS BIGINT) AS u48
      FROM orders))
),
b0 AS (SELECT CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1,
              CAST(0 AS BIGINT) AS b2)"""
    scored = f""",
scored AS (
  SELECT k, y, {SIGMOID_MICRO_SQL} AS mu_micro
  FROM (SELECT f.k, f.y, b.b0 + b.b1 * x1 + b.b2 * x2 AS z_micro
        FROM f CROSS JOIN b{LOGREG_ITERS} b)
)"""
    return head + _irls_ctes(LOGREG_ITERS) + scored


def _calibration_oracle() -> str:
    tail = f""",
bins AS (
  SELECT CAST(mu_micro // 100000 AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(y) AS BIGINT) AS sum_y,
         SUM(CAST(mu_micro AS DECIMAL(38,0))) AS sum_mu
  FROM scored GROUP BY 1
)
SELECT bin, n_rows, {_CAL_AVG_PRED} AS avg_pred_micro,
       {_CAL_OBS_RATE} AS obs_rate_micro,
       {_CAL_AVG_PRED} - {_CAL_OBS_RATE} AS gap_micro
FROM bins
"""
    return _logreg_scored_ctes() + tail


QUERIES["feat_calibration_report"] = QuerySpec(
    q_feat_calibration_report, _calibration_oracle()
)


# -- classifier evaluation: Brier score + Murphy decomposition (r13) ----------------------
# The scalar that prices the WHOLE probability axis at once: the Brier score
# (mean squared error of the predicted probability) and its Murphy (1973)
# decomposition over the calibration deciles — reliability (how far bin
# confidence sits from bin truth; lower is better, the ECE's squared
# cousin), resolution (how far bin truths spread from the base rate; HIGHER
# is better — a classifier can be perfectly calibrated and useless), and
# uncertainty (the base rate's own variance, the floor no model beats
# without information). With binned predictions the 3-term identity is
# exact; with raw scores it carries two extra terms (Stephenson et al.'s
# generalized decomposition) which we PUBLISH instead of hiding — the
# within-bin prediction variance and the within-bin prediction-outcome
# covariance: brier ≈ reliability − resolution + uncertainty + within_bin
# − 2·within_cov (law-tested to quantization tolerance). Exactness: mu is the
# integer micro-sigmoid, so Σ(mu − 1e6·y)², per-bin (Σmu − 1e6·Σy)², and
# Σmu² are exact DECIMAL(38,0) integers; each per-bin term quantizes ONCE
# through a shared double expression + FLOOR(x+0.5), and each readout
# divides once by 1e6·N. Scale shape: the IRLS fit (iters × d² Gram), then
# ONE more scan collapsed map-side into 10 bin rows + a 1-row global.
_BRIER_MICRO = (
    "CAST(FLOOR(CAST(sum_sq AS DOUBLE)"
    " / (CAST(1000000 AS DOUBLE) * CAST(n_rows AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_YBAR_MICRO = (
    "CAST(FLOOR(CAST(sum_y AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(n_rows AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_UNC_MICRO = (
    "CAST(FLOOR(CAST(ybar_micro * (1000000 - ybar_micro) AS DOUBLE)"
    " / CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
# per-bin n_k·(p̄_k − ȳ_k)² in micro² units = (Σmu_k − 1e6·Σy_k)²/n_k —
# the numerator squared exactly in DECIMAL(38,0), ONE double divide
_REL_TERM = (
    "CAST(FLOOR(CAST(CAST(b_sum_mu - 1000000 * b_sum_y AS DECIMAL(38,0))"
    " * (b_sum_mu - 1000000 * b_sum_y) AS DOUBLE)"
    " / CAST(b_n AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DECIMAL(38,0))"
)
# per-bin n_k·(ȳ_k − ȳ)² in micro² units = (1e6·Σy_k − n_k·ȳ_micro)²/n_k
_RES_TERM = (
    "CAST(FLOOR(CAST(CAST(1000000 * b_sum_y - b_n * ybar_micro"
    " AS DECIMAL(38,0))"
    " * (1000000 * b_sum_y - b_n * ybar_micro) AS DOUBLE)"
    " / CAST(b_n AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DECIMAL(38,0))"
)
# per-bin within-bin prediction variance Σmu² − (Σmu)²/n_k in micro² units
_WB_TERM = (
    "CAST(FLOOR(CAST(b_sum_mu2 AS DOUBLE)"
    " - CAST(CAST(b_sum_mu AS DECIMAL(38,0)) * b_sum_mu AS DOUBLE)"
    " / CAST(b_n AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DECIMAL(38,0))"
)
# per-bin within-bin prediction-outcome covariance, micro² units:
# 1e6·(Σmu·y − Σmu·Σy/n_k) — signed, so FLOOR(x+0.5) is the half-up spell
_WC_TERM = (
    "CAST(FLOOR(CAST(1000000 AS DOUBLE) * (CAST(b_sum_mu_y AS DOUBLE)"
    " - CAST(CAST(b_sum_mu AS DECIMAL(38,0)) * b_sum_y AS DOUBLE)"
    " / CAST(b_n AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS DECIMAL(38,0))"
)
_TERM_TO_MICRO = (
    "CAST(FLOOR(CAST({t} AS DOUBLE)"
    " / (CAST(1000000 AS DOUBLE) * CAST(n_rows AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def q_feat_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = materialize(_logreg_scored(spark, sf_dir))
    glob = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("y").cast("bigint").alias("sum_y"),
        F.expr(
            "SUM(CAST(mu_micro - 1000000 * y AS DECIMAL(38,0))"
            " * (mu_micro - 1000000 * y))"
        ).alias("sum_sq"),
    ).selectExpr(
        "n_rows",
        "sum_y",
        "sum_sq",
        f"{_YBAR_MICRO} AS ybar_micro",
    )
    bins = scored.groupBy(
        F.expr("mu_micro DIV 100000").cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("b_n"),
        F.sum("y").cast("bigint").alias("b_sum_y"),
        F.expr("SUM(CAST(mu_micro AS DECIMAL(38,0)))").alias("b_sum_mu"),
        F.expr("SUM(CAST(mu_micro AS DECIMAL(38,0)) * mu_micro)").alias(
            "b_sum_mu2"
        ),
        F.expr("SUM(CAST(mu_micro AS DECIMAL(38,0)) * y)").alias("b_sum_mu_y"),
    )
    terms = (
        bins.crossJoin(F.broadcast(glob))
        .selectExpr(
            "n_rows",
            "sum_y",
            "sum_sq",
            "ybar_micro",
            f"{_REL_TERM} AS rel_term",
            f"{_RES_TERM} AS res_term",
            f"{_WB_TERM} AS wb_term",
            f"{_WC_TERM} AS wc_term",
        )
        .groupBy("n_rows", "sum_y", "sum_sq", "ybar_micro")
        .agg(
            F.sum("rel_term").alias("rel_sum"),
            F.sum("res_term").alias("res_sum"),
            F.sum("wb_term").alias("wb_sum"),
            F.sum("wc_term").alias("wc_sum"),
        )
    )
    return terms.selectExpr(
        "n_rows",
        "ybar_micro",
        f"{_BRIER_MICRO} AS brier_micro",
        f"{_UNC_MICRO} AS unc_micro",
        f"{_TERM_TO_MICRO.format(t='rel_sum')} AS reliability_micro",
        f"{_TERM_TO_MICRO.format(t='res_sum')} AS resolution_micro",
        f"{_TERM_TO_MICRO.format(t='wb_sum')} AS within_bin_micro",
        f"{_TERM_TO_MICRO.format(t='wc_sum')} AS within_cov_micro",
    )


def _brier_oracle() -> str:
    tail = f""",
gtot AS (
  SELECT n_rows, sum_y, sum_sq, {_YBAR_MICRO} AS ybar_micro
  FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(y) AS BIGINT) AS sum_y,
           SUM(CAST(mu_micro - 1000000 * y AS DECIMAL(38,0))
               * (mu_micro - 1000000 * y)) AS sum_sq
    FROM scored)
),
bins AS (
  SELECT CAST(mu_micro // 100000 AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS b_n,
         CAST(SUM(y) AS BIGINT) AS b_sum_y,
         SUM(CAST(mu_micro AS DECIMAL(38,0))) AS b_sum_mu,
         SUM(CAST(mu_micro AS DECIMAL(38,0)) * mu_micro) AS b_sum_mu2,
         SUM(CAST(mu_micro AS DECIMAL(38,0)) * y) AS b_sum_mu_y
  FROM scored GROUP BY 1
),
terms AS (
  SELECT n_rows, sum_y, sum_sq, ybar_micro,
         SUM({_REL_TERM}) AS rel_sum,
         SUM({_RES_TERM}) AS res_sum,
         SUM({_WB_TERM}) AS wb_sum,
         SUM({_WC_TERM}) AS wc_sum
  FROM bins CROSS JOIN gtot
  GROUP BY 1, 2, 3, 4
)
SELECT n_rows, ybar_micro,
       {_BRIER_MICRO} AS brier_micro,
       {_UNC_MICRO} AS unc_micro,
       {_TERM_TO_MICRO.format(t='rel_sum')} AS reliability_micro,
       {_TERM_TO_MICRO.format(t='res_sum')} AS resolution_micro,
       {_TERM_TO_MICRO.format(t='wb_sum')} AS within_bin_micro,
       {_TERM_TO_MICRO.format(t='wc_sum')} AS within_cov_micro
FROM terms
"""
    return _logreg_scored_ctes() + tail


QUERIES["feat_brier_decomposition"] = QuerySpec(
    q_feat_brier_decomposition, _brier_oracle()
)


# -- uncertainty: deterministic Poisson-bootstrap CI (r12) --------------------------------
# The statistic a curator should report WITH every per-language quality
# mean: its sampling uncertainty. At cluster scale the standard resampling
# method is the POISSON bootstrap (each row enters replicate r with weight
# k ~ Poisson(1) — no global resample, one scan generates every replicate
# map-side; Chamandy et al., "Estimating Uncertainty for Massive Data
# Streams", Google 2012). Determinism: k is a pure function of
# md5(doc_id:boot:r) through the Poisson(1) inverse CDF whose cumulative
# thresholds are embedded as SHARED double literals (the lexicon
# discipline — nothing transcendental is evaluated at query time), so both
# engines draw the identical replicate weights. Exactness: each replicate
# mean is one integer division of exact BIGINT sums (Σ k·q_micro / Σ k,
# k ≤ 7 by truncation), and the CI bounds are order statistics (ranks 2
# and B−1 of the B=32 sorted replicate means — a ~94% interpercentile
# band). Scale shape: ONE doc scan fans out x32 map-side (explode of a
# literal range), collapses to (lang, replicate) partials, then |langs|
# rows; the sorted replicate array is B-sized per language.
BOOT_B = 32
_POISSON1_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
)
_BOOT_K = (
    "CASE "
    + " ".join(
        f"WHEN u < {t} THEN CAST({k} AS BIGINT)"
        for k, t in enumerate(_POISSON1_CDF)
    )
    + " ELSE CAST(7 AS BIGINT) END"
)
_BOOT_MEAN = (
    "CASE WHEN sum_k > 0 THEN"
    " CAST(FLOOR(CAST(sum_kq AS DOUBLE) / CAST(sum_k AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)


def bootstrap_replicate_facts(docs: DataFrame) -> DataFrame:
    """(lang, r, sum_k, sum_kq) + the point-estimate facts (n_docs, sum_q)
    folded per (lang, replicate) — additive, so the streaming twin appends
    these. The replicate weight is an ARRIVAL decision (pure doc_id hash)."""
    from movie_genre_data_pipeline_spark.functions.text import quality_score

    q = (
        F.round(quality_score("text") * F.lit(1000000.0))
        .cast("bigint")
        .alias("q")
    )
    reps = (
        docs.select("doc_id", "lang", q)
        .select(
            "doc_id",
            "lang",
            "q",
            F.explode(F.expr(f"sequence(0, {BOOT_B - 1})")).alias("r"),
        )
        .selectExpr(
            "lang",
            "r",
            "q",
            "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),"
            " ':boot:', CAST(r AS STRING))), 1, 12), 16, 10) AS BIGINT)"
            " / CAST(281474976710656 AS DOUBLE) AS u",
        )
        .withColumn("k", F.expr(_BOOT_K))
    )
    return reps.groupBy("lang", "r").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("q").cast("decimal(38,0)").alias("sum_q"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.expr("SUM(CAST(k AS DECIMAL(38,0)) * q)").alias("sum_kq"),
    )


def bootstrap_ci_from_facts(facts: DataFrame) -> DataFrame:
    """The CI tail over additive (lang, r) replicate facts: replicate means,
    then order statistics over the B-sized sorted array per language."""
    means = facts.selectExpr(
        "lang",
        "r",
        "n_docs",
        "sum_q",
        f"{_BOOT_MEAN} AS mean_r_micro",
    )
    return (
        means.groupBy("lang")
        .agg(
            F.max("n_docs").cast("bigint").alias("n_docs"),
            F.max("sum_q").alias("sum_q"),
            F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
            F.sort_array(F.collect_list("mean_r_micro")).alias("ms"),
        )
        .selectExpr(
            "lang",
            "n_docs",
            "n_replicates",
            "CAST(FLOOR(CAST(sum_q AS DOUBLE) / CAST(n_docs AS DOUBLE)"
            " + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mean_micro",
            "element_at(ms, 2) AS ci_lo_micro",
            f"element_at(ms, {BOOT_B - 1}) AS ci_hi_micro",
        )
    )


def q_sample_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return bootstrap_ci_from_facts(bootstrap_replicate_facts(d))


def _bootstrap_oracle() -> str:
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        Q_QUALITY_SCORES_ORACLE,
    )

    return f"""
WITH qv AS ({Q_QUALITY_SCORES_ORACLE}),
base AS (
  SELECT d.doc_id, d.lang, CAST(ROUND(qv.quality * 1000000.0) AS BIGINT) AS q
  FROM documents d JOIN qv ON qv.doc_id = d.doc_id
),
reps AS (
  SELECT lang, r, q,
         CAST(concat('0x', substring(md5(doc_id || ':boot:' || r), 1, 12))
           AS BIGINT) / CAST(281474976710656 AS DOUBLE) AS u
  FROM base, UNNEST(generate_series(0, {BOOT_B - 1})) AS g(r)
),
weighted AS (SELECT lang, r, q, {_BOOT_K} AS k FROM reps),
facts AS (
  SELECT lang, r,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(q) AS DECIMAL(38,0)) AS sum_q,
         CAST(SUM(k) AS BIGINT) AS sum_k,
         SUM(CAST(k AS DECIMAL(38,0)) * q) AS sum_kq
  FROM weighted GROUP BY 1, 2
),
means AS (
  SELECT lang, r, n_docs, sum_q, {_BOOT_MEAN} AS mean_r_micro FROM facts
),
folded AS (
  SELECT lang,
         CAST(MAX(n_docs) AS BIGINT) AS n_docs,
         MAX(sum_q) AS sum_q,
         CAST(COUNT(*) AS BIGINT) AS n_replicates,
         list_sort(list(mean_r_micro)) AS ms
  FROM means GROUP BY 1
)
SELECT lang, n_docs, n_replicates,
       CAST(FLOOR(CAST(sum_q AS DOUBLE) / CAST(n_docs AS DOUBLE)
         + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mean_micro,
       ms[2] AS ci_lo_micro,
       ms[{BOOT_B - 1}] AS ci_hi_micro
FROM folded
"""


QUERIES["sample_bootstrap_ci"] = QuerySpec(
    q_sample_bootstrap_ci, _bootstrap_oracle()
)

