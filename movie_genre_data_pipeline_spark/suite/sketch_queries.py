"""Count-Min sketch queries over `documents` (north star: fixed-size frequency
estimation — the heavy-hitter / boilerplate-phrase detector that still works
when the key space is billions of n-grams).

`sketch_cms_heavy_hitters` builds a d×w Count-Min grid over every word 3-gram
occurrence in the corpus, probes the vocabulary back through the grid, and
reports the top phrases by estimated count next to their exact counts — the
overestimate column IS the sketch's documented error, reproduced bit-for-bit
by the oracle (same md5 cell math, same min-of-counters).

Scale shape: the build shuffle is bounded by the grid (d·w cells), not the
16k+ (at sf0.01; billions at 100 TB) distinct grams; the probe is d broadcast
joins; the top-k is a TakeOrderedAndProject, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.functions.cms import build_cms, cms_estimate
from movie_genre_data_pipeline_spark.functions.dedup import shingle_rows
from movie_genre_data_pipeline_spark.session import materialize
from movie_genre_data_pipeline_spark.suite import QuerySpec, load
from movie_genre_data_pipeline_spark.suite.text_queries import _TOKS

CMS_W = 1024
CMS_D = 3
GRAM_K = 3
TOP_N = 20


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    grams = shingle_rows(d, "doc_id", "text", k=GRAM_K).select(
        F.col("s").alias("gram")
    )
    # the (≤ d·w)-row grid is referenced d times by the probe joins; checkpoint
    # so Catalyst doesn't re-derive the corpus scan per reference — persist-the-
    # sketch-once is also exactly the production usage.
    cms = materialize(build_cms(grams, "gram", CMS_W, CMS_D), eager=True)
    vocab = grams.groupBy("gram").agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    est = cms_estimate(vocab, "gram", cms, CMS_W, CMS_D)
    return (
        est.select(
            "gram",
            "n_exact",
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") - F.col("n_exact")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.col("cms_est").desc(), F.col("gram").asc())
        .limit(TOP_N)
    )


_CMS_ROWS = ", ".join(f"({r})" for r in range(CMS_D))
_CMS_CELL = (
    "CAST(concat('0x', substring(md5(gram || ':' || r), 1, 12)) AS BIGINT)"
    f" % {CMS_W}"
)
Q_CMS_HEAVY_HITTERS_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
grams AS (
  SELECT array_to_string(toks[i:i + {GRAM_K - 1}], ' ') AS gram
  FROM (SELECT * FROM toks WHERE len(toks) >= {GRAM_K}) t,
       unnest(generate_series(1, len(toks) - {GRAM_K - 1})) AS g(i)
),
vocab AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_exact FROM grams GROUP BY 1),
cells AS (
  SELECT r, {_CMS_CELL} AS col_idx, SUM(n_exact) AS cnt
  FROM vocab CROSS JOIN (VALUES {_CMS_ROWS}) h(r)
  GROUP BY 1, 2
),
est AS (
  SELECT gram, n_exact, MIN(cnt) AS cms_est
  FROM (SELECT gram, n_exact, r, {_CMS_CELL} AS col_idx
        FROM vocab CROSS JOIN (VALUES {_CMS_ROWS}) h(r)) p
  JOIN cells USING (r, col_idx)
  GROUP BY gram, n_exact
)
SELECT gram, n_exact,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - n_exact AS BIGINT) AS overcount
FROM est
ORDER BY cms_est DESC, gram ASC
LIMIT {TOP_N}
"""


HLL_P = 8
_HLL_M = 1 << HLL_P
_HLL_REST_BITS = 48 - HLL_P
_HLL_SCALE = _HLL_REST_BITS + 1  # empty-bucket term exponent
_HLL_REST_MOD = 1 << _HLL_REST_BITS


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user count via a 256-register HyperLogLog next to
    the exact COUNT(DISTINCT): the sketch's register table and estimate are
    deterministic (md5-hashed), so the oracle reproduces estimate AND error
    bit-for-bit — same contract as the CMS overcount column."""
    from movie_genre_data_pipeline_spark.functions.hll import (
        hll_estimate,
        hll_registers,
    )

    ev = load(spark, sf_dir, "events")
    regs = hll_registers(ev, "user_id", ["event_type"], p=HLL_P)
    est = hll_estimate(regs, ["event_type"], p=HLL_P)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        "n_zero",
        "register_sum",
        "hll_est",
        F.round(
            (F.col("hll_est") - F.col("n_exact")) / F.col("n_exact"), 4
        ).alias("rel_err"),
    )


def _hll_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.hll import hll_alpha

    alpha_num = hll_alpha(_HLL_M) * _HLL_M * _HLL_M * float(1 << _HLL_SCALE)
    return f"""
WITH h AS (
  SELECT event_type,
         CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS h48
  FROM events
),
r AS (
  SELECT event_type, h48 // {_HLL_REST_MOD} AS bucket,
         CASE WHEN h48 % {_HLL_REST_MOD} = 0 THEN {_HLL_SCALE}
              ELSE {_HLL_SCALE} - length(format('{{:b}}', h48 % {_HLL_REST_MOD}))
         END AS rho
  FROM h
),
regs AS (SELECT event_type, bucket, MAX(rho) AS rho FROM r GROUP BY 1, 2),
spine AS (
  SELECT event_type, g.b AS bucket
  FROM (SELECT DISTINCT event_type FROM events)
  CROSS JOIN (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS b) g
),
full_regs AS (
  SELECT s.event_type, COALESCE(regs.rho, 0) AS rho
  FROM spine s LEFT JOIN regs ON s.event_type = regs.event_type
                             AND s.bucket = regs.bucket
),
agg AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         CAST(SUM(CAST(power(2.0, {_HLL_SCALE} - rho) AS BIGINT)) AS BIGINT)
           AS register_sum
  FROM full_regs GROUP BY 1
),
est AS (
  SELECT event_type, n_zero, register_sum,
         CASE WHEN {alpha_num!r} / register_sum <= {2.5 * _HLL_M!r}
                   AND n_zero > 0
              THEN round({float(_HLL_M)!r} * ln({float(_HLL_M)!r} / n_zero), 2)
              ELSE round({alpha_num!r} / register_sum, 2) END AS hll_est
  FROM agg
),
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
)
SELECT est.event_type, n_exact, n_zero, register_sum, hll_est,
       round((hll_est - n_exact) / n_exact, 4) AS rel_err
FROM est JOIN ex ON est.event_type = ex.event_type
"""


KMV_K = 256


def q_kmv_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which language corpora share phrasing, and how much: KMV bottom-k
    sketches per language estimate every pairwise word-3-gram-set
    Jaccard/overlap from 256 hashes per language, next to the exact self-join
    baseline (the sketch error is part of the output — CMS/HLL contract).
    3-grams, not unigrams: the fixture's languages share one small token pool
    (unigram Jaccard is 1.0 everywhere), while their 3k-9k distinct 3-grams
    overlap partially — the estimator's real regime. At 100 TB the exact join
    is the disqualifying path and the sketch columns are the product."""
    from movie_genre_data_pipeline_spark.functions.dedup import shingle_rows
    from movie_genre_data_pipeline_spark.functions.kmv import (
        kmv_pair_estimates,
        kmv_sketch,
    )

    d = load(spark, sf_dir, "documents")
    # the (lang, gram) vocab feeds four consumers (sketch build, counts, both
    # sides of the exact self-join). Catalyst's ReusedExchange already shares
    # the subtree (A/B-measured: warm times identical), so this barrier is a
    # GUARD, not a win: it pins single-computation even if a future edit
    # breaks subtree identity and silently disables reuse
    vocab = materialize(
        shingle_rows(d, "doc_id", "text", k=GRAM_K, extra_cols=("lang",))
        .select("lang", F.col("s").alias("tok"))
        .distinct(),
        eager=True,
    )
    est = kmv_pair_estimates(
        kmv_sketch(vocab, "tok", ["lang"], k=KMV_K), "lang", k=KMV_K
    )
    counts = vocab.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # r15: the exact pairwise-overlap baseline as ONE groupBy(tok) lang-set
    # fold + in-stage pair explode (per gram, every lang pair sharing it) —
    # the previous vocab ⨝ vocab tok self-join shuffled the vocabulary
    # twice and sort-merged it; this shuffles it once and the pair fan-out
    # is bounded by |langs|² per gram. Counts are identical: a (ga < gb)
    # pair is emitted exactly once per shared gram either way.
    lang_sets = vocab.groupBy("tok").agg(F.collect_set("lang").alias("ls"))
    inter = (
        lang_sets.select(F.explode("ls").alias("ga"), "ls")
        .select("ga", F.explode("ls").alias("gb"))
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter_exact"))
    )
    out = (
        est.join(F.broadcast(inter), ["ga", "gb"], "left")
        .join(F.broadcast(counts.withColumnRenamed("lang", "ga").withColumnRenamed("n", "na")), "ga")
        .join(F.broadcast(counts.withColumnRenamed("lang", "gb").withColumnRenamed("n", "nb")), "gb")
    )
    n_inter = F.coalesce(F.col("n_inter_exact"), F.lit(0)).cast("bigint")
    return out.select(
        F.col("ga").alias("lang_a"),
        F.col("gb").alias("lang_b"),
        "k_common",
        "jaccard_est",
        "union_est",
        "inter_est",
        n_inter.alias("n_inter_exact"),
        F.round(
            n_inter.cast("double") / (F.col("na") + F.col("nb") - n_inter), 4
        ).alias("jaccard_exact"),
    )


def _kmv_oracle() -> str:
    union_num = float(KMV_K - 1) * float(1 << 48)
    return f"""
WITH toks AS (SELECT lang, {_TOKS} AS toks FROM documents),
vocab AS (
  SELECT DISTINCT lang, array_to_string(toks[i:i + {GRAM_K - 1}], ' ') AS tok
  FROM (SELECT * FROM toks WHERE len(toks) >= {GRAM_K}) t,
       unnest(generate_series(1, len(toks) - {GRAM_K - 1})) AS g(i)
),
hashed AS (
  SELECT DISTINCT lang,
         CAST(concat('0x', substring(md5(tok), 1, 12)) AS BIGINT) AS h48
  FROM vocab
),
sk AS (
  SELECT lang, h48 FROM (
    SELECT lang, h48,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h48 ASC) AS rn
    FROM hashed) t
  WHERE rn <= {KMV_K}
),
langs AS (SELECT DISTINCT lang FROM sk),
pairs AS (SELECT a.lang AS ga, b.lang AS gb FROM langs a, langs b
          WHERE a.lang < b.lang),
sides AS (
  SELECT p.ga, p.gb, s.h48, 1 AS in_a, 0 AS in_b
  FROM pairs p JOIN sk s ON s.lang = p.ga
  UNION ALL
  SELECT p.ga, p.gb, s.h48, 0 AS in_a, 1 AS in_b
  FROM pairs p JOIN sk s ON s.lang = p.gb
),
merged AS (SELECT ga, gb, h48, MAX(in_a) AS in_a, MAX(in_b) AS in_b
           FROM sides GROUP BY 1, 2, 3),
topk AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h48 ASC) AS rn
    FROM merged) t
  WHERE rn <= {KMV_K}
),
agg AS (
  SELECT ga, gb, CAST(SUM(in_a * in_b) AS BIGINT) AS k_common,
         MAX(h48) AS h_k, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM topk GROUP BY 1, 2
),
est AS (
  SELECT ga, gb, k_common,
         k_common / CAST(n_kept AS DOUBLE) AS jac_raw,
         CASE WHEN n_kept < {KMV_K} THEN CAST(n_kept AS DOUBLE)
              ELSE {union_num!r} / h_k END AS union_raw
  FROM agg
),
counts AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM vocab GROUP BY 1),
inter AS (
  SELECT va.lang AS ga, vb.lang AS gb, CAST(COUNT(*) AS BIGINT) AS n_inter_exact
  FROM vocab va JOIN vocab vb ON va.tok = vb.tok AND va.lang < vb.lang
  GROUP BY 1, 2
)
SELECT est.ga AS lang_a, est.gb AS lang_b, k_common,
       round(jac_raw, 4) AS jaccard_est,
       round(union_raw, 2) AS union_est,
       round(jac_raw * union_raw, 2) AS inter_est,
       COALESCE(n_inter_exact, 0) AS n_inter_exact,
       round(COALESCE(n_inter_exact, 0) / CAST(ca.n + cb.n - COALESCE(n_inter_exact, 0) AS DOUBLE), 4)
         AS jaccard_exact
FROM est
LEFT JOIN inter ON est.ga = inter.ga AND est.gb = inter.gb
JOIN counts ca ON ca.lang = est.ga
JOIN counts cb ON cb.lang = est.gb
"""


HISTO_LO, HISTO_HI, HISTO_BINS = 0.0, 500.0, 200
_HISTO_W = (HISTO_HI - HISTO_LO) / HISTO_BINS
HISTO_QS = (0.5, 0.9, 0.99)


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type p50/p90/p99 from a 200-bin mergeable counting histogram
    (shuffle O(groups×bins), values scanned once) next to the exact sort-based
    percentile — the estimation error (bounded by one bin width = 2.5) is part
    of the output, per the sketch-family contract."""
    from movie_genre_data_pipeline_spark.functions.quantiles import (
        build_histogram,
        histogram_quantiles,
    )

    ev = load(spark, sf_dir, "events")
    hist = build_histogram(
        ev, "value", HISTO_LO, HISTO_HI, HISTO_BINS, ["event_type"]
    )
    est = histogram_quantiles(
        hist, HISTO_QS, HISTO_LO, HISTO_HI, HISTO_BINS, ["event_type"]
    )
    exact = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_exact"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99_exact"),
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n",
        "hq50",
        "hq90",
        "hq99",
        "p50_exact",
        "p99_exact",
        F.round(F.col("hq50") - F.col("p50_exact"), 6).alias("err50"),
        F.round(F.col("hq99") - F.col("p99_exact"), 6).alias("err99"),
    )


def _histo_q_sql(q: float) -> str:
    return (
        f"ROUND(MIN(CASE WHEN cum >= {q!r}*n AND cum_prev < {q!r}*n "
        f"THEN {HISTO_LO!r} + (bin + ({q!r}*n - cum_prev)/cnt) * {_HISTO_W!r} "
        f"END), 6) AS hq{q * 100:g}"
    )


Q_HISTOGRAM_QUANTILES_ORACLE = f"""
WITH h AS (
  SELECT event_type,
         CAST(LEAST({HISTO_BINS - 1}, GREATEST(0,
              FLOOR((value - {HISTO_LO!r}) / {_HISTO_W!r}))) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
c AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin ASC) AS cum
  FROM h
),
r AS (SELECT *, cum - cnt AS cum_prev FROM c),
t AS (SELECT event_type, MAX(cum) AS n FROM r GROUP BY 1),
j AS (SELECT r.*, t.n FROM r JOIN t USING (event_type)),
est AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
         {_histo_q_sql(0.5)},
         {_histo_q_sql(0.9)},
         {_histo_q_sql(0.99)}
  FROM j GROUP BY 1
),
ex AS (
  SELECT event_type,
         ROUND(quantile_cont(value, 0.50), 6) AS p50_exact,
         ROUND(quantile_cont(value, 0.99), 6) AS p99_exact
  FROM events GROUP BY 1
)
SELECT est.event_type, n, hq50, hq90, hq99, p50_exact, p99_exact,
       ROUND(hq50 - p50_exact, 6) AS err50,
       ROUND(hq99 - p99_exact, 6) AS err99
FROM est JOIN ex USING (event_type)
"""


QUERIES: dict[str, QuerySpec] = {
    "sketch_cms_heavy_hitters": QuerySpec(
        q_cms_heavy_hitters, Q_CMS_HEAVY_HITTERS_ORACLE
    ),
    "sketch_hll_distinct": QuerySpec(q_hll_distinct, _hll_oracle()),
    "sketch_kmv_vocab_overlap": QuerySpec(q_kmv_vocab_overlap, _kmv_oracle()),
    "sketch_histogram_quantiles": QuerySpec(
        q_histogram_quantiles, Q_HISTOGRAM_QUANTILES_ORACLE
    ),
}


# -- AMS (Alon-Matias-Szegedy) join-size estimation (r9) -----------------------------------
# The second-frequency-moment sketch family member the optimizer needs at
# 100 TB: |R ⋈ S| on a key = Σ_k f_R(k)·f_S(k), estimated WITHOUT computing the
# join by E[Z_R·Z_S] where Z = Σ_rows ξ(key) under a ±1 hash ξ (AMS '96 /
# the sketch behind join-cardinality estimation in modern CBOs). Here R =
# view events, S = purchase events, keyed by user_id — both sides carry real
# multiplicity, so the estimate is non-trivially probabilistic. ξ_j(k) is
# md5-parity (portable-randomness discipline: same literal hash math in both
# engines); AMS_REPS independent replicas are averaged. Everything is exact:
# Z sums are integers, products integers, and the mean divides by a power of
# two (16), which is EXACT in IEEE — the published estimate carries no
# accumulation-order risk at all. The scan cost is REPS signed additions per
# row folded into one REPS-sized aggregate; the true join size (the audit
# column) is one user-keyed count join, never the join itself.
AMS_REPS = 16


def _ams_signs():
    """array<bigint> of the AMS_REPS ±1 signs for this row's user key —
    md5-parity per (replica, key), shared verbatim with the oracle."""
    return F.expr(
        f"transform(sequence(1, {AMS_REPS}), "
        "j -> CAST(1 - 2 * (CAST(conv(substring(md5(concat(CAST(j AS STRING), "
        "':', CAST(user_id AS STRING))), 1, 4), 16, 10) AS BIGINT) % 2) AS BIGINT))"
    )


def q_ams_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")

    def z_side(kind: str, alias: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == kind)
            .select(F.posexplode(_ams_signs()).alias("j0", "sgn"))
            .groupBy((F.col("j0") + F.lit(1)).alias("j"))
            .agg(F.sum("sgn").cast("bigint").alias(alias))
        )

    zr, zs = z_side("view", "z_r"), z_side("purchase", "z_s")
    est = (
        zr.join(zs, "j")
        .agg(F.sum(F.col("z_r") * F.col("z_s")).cast("bigint").alias("prod_sum"))
        .selectExpr(
            f"CAST({AMS_REPS} AS BIGINT) AS reps",
            f"CAST(prod_sum AS DOUBLE) / {AMS_REPS} AS est_join_size",
        )
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("fr"))
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("fs"))
    )
    true_sz = views.join(purch, "user_id").agg(
        F.sum(F.col("fr") * F.col("fs")).cast("bigint").alias("true_join_size")
    )
    return est.crossJoin(F.broadcast(true_sz)).selectExpr(
        "reps",
        "est_join_size",
        "true_join_size",
        "CAST(ROUND((est_join_size - CAST(true_join_size AS DOUBLE))"
        " / CAST(true_join_size AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT)"
        " AS rel_err_micro",
    )


_AMS_SIGN_SQL = (
    "CAST(1 - 2 * (CAST(concat('0x', substring(md5(concat(CAST(j AS VARCHAR), "
    "':', CAST(user_id AS VARCHAR))), 1, 4)) AS BIGINT) % 2) AS BIGINT)"
)

Q_AMS_JOIN_SIZE_ORACLE = f"""
WITH reps AS (SELECT unnest(generate_series(1, {AMS_REPS})) AS j),
zr AS (
  SELECT j, CAST(SUM({_AMS_SIGN_SQL}) AS BIGINT) AS z_r
  FROM events CROSS JOIN reps WHERE event_type = 'view' GROUP BY j
),
zs AS (
  SELECT j, CAST(SUM({_AMS_SIGN_SQL}) AS BIGINT) AS z_s
  FROM events CROSS JOIN reps WHERE event_type = 'purchase' GROUP BY j
),
est AS (
  SELECT CAST({AMS_REPS} AS BIGINT) AS reps,
         CAST(SUM(z_r * z_s) AS DOUBLE) / {AMS_REPS} AS est_join_size
  FROM zr JOIN zs USING (j)
),
fr AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS fr FROM events
       WHERE event_type = 'view' GROUP BY user_id),
fs AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS fs FROM events
       WHERE event_type = 'purchase' GROUP BY user_id),
tj AS (SELECT CAST(SUM(fr * fs) AS BIGINT) AS true_join_size
       FROM fr JOIN fs USING (user_id))
SELECT reps, est_join_size, true_join_size,
       CAST(ROUND((est_join_size - CAST(true_join_size AS DOUBLE))
            / CAST(true_join_size AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT)
         AS rel_err_micro
FROM est CROSS JOIN tj
"""

QUERIES["sketch_ams_join_size"] = QuerySpec(q_ams_join_size, Q_AMS_JOIN_SIZE_ORACLE)


# -- HLL set algebra: union by register max, intersection by inclusion-exclusion (r13) -----
# The operation that makes HLL the warehouse's distinct sketch of choice:
# register tables MERGE — |A∪B| is the bucket-wise MAX of the two tables
# (exactly the property the streaming ledger twin folds on), and |A∩B|
# falls out of inclusion-exclusion on three estimates. This query runs the
# algebra on two real populations (viewers vs purchasers), publishes all
# three estimates NEXT TO their exact truths and the I-E intersection next
# to the exact overlap — the audited-sketch discipline (CMS overcount, HLL
# rel_err, MinHash calibration) extended to set operations, with the
# documented caveat visible in-row: I-E inherits the ABSOLUTE error of all
# three estimates, so small intersections of large sets are where it
# degrades (the reason KMV serves the overlap-RATIO readout next door).
# Determinism: md5 registers, integral register sums, one double division
# per estimate — both engines replay everything bit-for-bit. Scale shape:
# one events scan to (pop, bucket, rho) partials; every later stage runs on
# ≤ 3·m register rows; exact truths are two distinct aggregates.
HLL_SET_A = "view"
HLL_SET_B = "purchase"


def q_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.hll import (
        hll_estimate,
        hll_registers,
    )

    ev = load(spark, sf_dir, "events")
    regs = materialize(
        hll_registers(
            ev.filter(F.col("event_type").isin(HLL_SET_A, HLL_SET_B)),
            "user_id",
            ["event_type"],
            p=HLL_P,
        )
        .withColumnRenamed("event_type", "pop")
    )
    union_regs = (
        regs.groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
        .selectExpr("'union' AS pop", "bucket", "rho")
    )
    est = hll_estimate(
        regs.unionByName(union_regs), ["pop"], p=HLL_P
    ).select("pop", "hll_est")
    wide = est.groupBy().pivot(
        "pop", [HLL_SET_A, HLL_SET_B, "union"]
    ).agg(F.first("hll_est")).selectExpr(
        f"`{HLL_SET_A}` AS est_a",
        f"`{HLL_SET_B}` AS est_b",
        "`union` AS est_union",
    )
    exact = (
        ev.filter(F.col("event_type").isin(HLL_SET_A, HLL_SET_B))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == HLL_SET_A, 1).otherwise(0)).alias(
                "in_a"
            ),
            F.max(F.when(F.col("event_type") == HLL_SET_B, 1).otherwise(0)).alias(
                "in_b"
            ),
        )
        .agg(
            F.sum("in_a").cast("bigint").alias("exact_a"),
            F.sum("in_b").cast("bigint").alias("exact_b"),
            F.count(F.lit(1)).cast("bigint").alias("exact_union"),
            F.sum(F.col("in_a") * F.col("in_b"))
            .cast("bigint")
            .alias("exact_intersect"),
        )
    )
    return wide.crossJoin(F.broadcast(exact)).selectExpr(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_intersect",
        "est_a",
        "est_b",
        "est_union",
        "round(est_a + est_b - est_union, 2) AS est_intersect",
    )


def _hll_set_algebra_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.hll import hll_alpha

    alpha_num = hll_alpha(_HLL_M) * _HLL_M * _HLL_M * float(1 << _HLL_SCALE)
    est_expr = f"""CASE WHEN {alpha_num!r} / register_sum <= {2.5 * _HLL_M!r}
                   AND n_zero > 0
              THEN round({float(_HLL_M)!r} * ln({float(_HLL_M)!r} / n_zero), 2)
              ELSE round({alpha_num!r} / register_sum, 2) END"""
    return f"""
WITH h AS (
  SELECT event_type AS pop,
         CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS h48
  FROM events WHERE event_type IN ('{HLL_SET_A}', '{HLL_SET_B}')
),
r AS (
  SELECT pop, h48 // {_HLL_REST_MOD} AS bucket,
         CASE WHEN h48 % {_HLL_REST_MOD} = 0 THEN {_HLL_SCALE}
              ELSE {_HLL_SCALE} - length(format('{{:b}}', h48 % {_HLL_REST_MOD}))
         END AS rho
  FROM h
),
regs AS MATERIALIZED (SELECT pop, bucket, MAX(rho) AS rho FROM r GROUP BY 1, 2),
all_regs AS (
  SELECT pop, bucket, rho FROM regs
  UNION ALL
  SELECT 'union' AS pop, bucket, MAX(rho) AS rho FROM regs GROUP BY 2
),
agg AS (
  SELECT pop,
         CAST({_HLL_M} - COUNT(*) AS BIGINT) AS n_zero,
         CAST(SUM(CAST(power(2.0, {_HLL_SCALE} - rho) AS BIGINT))
              + ({_HLL_M} - COUNT(*)) * CAST({1 << _HLL_SCALE} AS BIGINT)
              AS BIGINT) AS register_sum
  FROM all_regs GROUP BY 1
),
est AS (SELECT pop, {est_expr} AS hll_est FROM agg),
wide AS (
  SELECT MAX(CASE WHEN pop = '{HLL_SET_A}' THEN hll_est END) AS est_a,
         MAX(CASE WHEN pop = '{HLL_SET_B}' THEN hll_est END) AS est_b,
         MAX(CASE WHEN pop = 'union' THEN hll_est END) AS est_union
  FROM est
),
ex AS (
  SELECT CAST(SUM(in_a) AS BIGINT) AS exact_a,
         CAST(SUM(in_b) AS BIGINT) AS exact_b,
         CAST(COUNT(*) AS BIGINT) AS exact_union,
         CAST(SUM(in_a * in_b) AS BIGINT) AS exact_intersect
  FROM (
    SELECT user_id,
           MAX(CASE WHEN event_type = '{HLL_SET_A}' THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN event_type = '{HLL_SET_B}' THEN 1 ELSE 0 END) AS in_b
    FROM events WHERE event_type IN ('{HLL_SET_A}', '{HLL_SET_B}')
    GROUP BY user_id)
)
SELECT exact_a, exact_b, exact_union, exact_intersect,
       est_a, est_b, est_union,
       round(est_a + est_b - est_union, 2) AS est_intersect
FROM wide CROSS JOIN ex
"""


QUERIES["sketch_hll_set_algebra"] = QuerySpec(
    q_hll_set_algebra, _hll_set_algebra_oracle()
)
