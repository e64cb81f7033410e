"""Time-series queries over `events`: dense gap-filled bucket rollups
(operators/timeseries.py) and staged funnel conversion — the continuous-
aggregate / behavioral-analytics shapes a warehouse layered on this engine
serves constantly.

Both are single-scan, one-shuffle plans: the gapfill spine is generated from
two scalars (never a shuffle of events), and the funnel is one conditional-min
hash aggregate per user followed by a scalar reduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.operators.timeseries import time_bucket_gapfill
from movie_genre_data_pipeline_spark.session import materialize
from movie_genre_data_pipeline_spark.suite import QuerySpec, load

BUCKET_S = 3600  # hourly


def q_time_bucket_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    dense = time_bucket_gapfill(
        ev,
        "ts",
        BUCKET_S,
        aggs={
            "n": F.count(F.lit(1)).cast("bigint"),
            "total_value": F.round(F.sum("value"), 2),
        },
        fill={"n": F.lit(0).cast("bigint"), "total_value": F.lit(0.0)},
        group_cols=("event_type",),
    )
    return dense.select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        "event_type",
        "n",
        "total_value",
    )


Q_TIME_BUCKET_GAPFILL_ORACLE = f"""
WITH b AS (
  SELECT make_timestamp(CAST(FLOOR(EPOCH(ts) / {BUCKET_S}) AS BIGINT)
                        * {BUCKET_S} * 1000000) AS bucket,
         event_type, value
  FROM events
),
bounds AS (SELECT MIN(bucket) AS b0, MAX(bucket) AS b1 FROM b),
spine AS (
  SELECT unnest(generate_series(b0, b1, INTERVAL {BUCKET_S} SECONDS)) AS bucket
  FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
agg AS (
  SELECT bucket, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(value), 2) AS total_value
  FROM b GROUP BY 1, 2
)
SELECT strftime(s.bucket, '%Y-%m-%d %H:%M:%S') AS w_start,
       t.event_type,
       COALESCE(a.n, 0) AS n,
       COALESCE(a.total_value, 0.0) AS total_value
FROM spine s
CROSS JOIN types t
LEFT JOIN agg a ON a.bucket = s.bucket AND a.event_type = t.event_type
"""


# -- staged funnel: view -> click -> purchase, ordered by each user's FIRST
#    occurrence of each stage. One hash aggregate on user_id (conditional mins
#    — no per-event window), then a scalar reduce. ---------------------------------
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    stage2 = F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view"))
    stage3 = stage2 & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_viewed"),
        F.sum(F.when(stage2, 1).otherwise(0)).cast("bigint").alias("n_clicked_after"),
        F.sum(F.when(stage3, 1).otherwise(0)).cast("bigint").alias("n_purchased_after"),
    )


Q_FUNNEL_CONVERSION_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_viewed,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                      AND t_purchase > t_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after
FROM per_user
"""


# -- cascading rollup: 1h tier feeds the 1d tier ----------------------------------
DAY_S = 86400


def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution continuous aggregate: the daily tier is derived
    ENTIRELY from the hourly aggregate (sums of sums, sums of counts, min/max
    of extrema) — raw events are scanned exactly once, for the finest tier.
    This is the re-aggregation contract that keeps a 5-year dashboard
    O(buckets) instead of O(events) at 100 TB: each coarser tier reads the
    previous tier's (persisted) output. `n_hour_buckets` certifies the
    cascade — it can only come from counting hourly rows. The oracle mirrors
    the two-level cascade so even the float accumulation path is identical."""
    from movie_genre_data_pipeline_spark.operators.timeseries import time_bucket

    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        time_bucket("ts", BUCKET_S).alias("h_bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("value").alias("sum_value"),
        F.max("value").alias("max_value"),
    )
    daily = hourly.groupBy(
        time_bucket("h_bucket", DAY_S).alias("d_bucket"), "event_type"
    ).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.round(F.sum("sum_value"), 2).alias("total_value"),
        F.round(F.max("max_value"), 2).alias("max_value"),
        F.count(F.lit(1)).cast("bigint").alias("n_hour_buckets"),
    )
    return daily.select(
        F.date_format("d_bucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        "total_value",
        "max_value",
        "n_hour_buckets",
    )


Q_ROLLUP_CASCADE_ORACLE = f"""
WITH hourly AS (
  SELECT make_timestamp(CAST(FLOOR(EPOCH(ts) / {BUCKET_S}) AS BIGINT)
                        * {BUCKET_S} * 1000000) AS h_bucket,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(value) AS sum_value,
         MAX(value) AS max_value
  FROM events GROUP BY 1, 2
),
daily AS (
  SELECT make_timestamp(CAST(FLOOR(EPOCH(h_bucket) / {DAY_S}) AS BIGINT)
                        * {DAY_S} * 1000000) AS d_bucket,
         event_type,
         CAST(SUM(n) AS BIGINT) AS n,
         ROUND(SUM(sum_value), 2) AS total_value,
         ROUND(MAX(max_value), 2) AS max_value,
         CAST(COUNT(*) AS BIGINT) AS n_hour_buckets
  FROM hourly GROUP BY 1, 2
)
SELECT strftime(d_bucket, '%Y-%m-%d') AS day, event_type,
       n, total_value, max_value, n_hour_buckets
FROM daily
"""


# -- trailing-window z-score anomaly flags over the dense hourly series -----------
ZS_LOOKBACK = 24
ZS_MIN_PERIODS = 12


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection over a continuous aggregate: hourly event counts per
    type (gap-filled so empty hours read as 0, not missing baseline), each
    scored against the trailing 24h mean/stddev (operators/timeseries.py:
    rolling_zscore). The Prometheus/TimescaleDB rolling-stats shape.

    Exactly oracle-able because the scored series is INTEGER counts: frame sums
    of x and x*x are exact IEEE integers regardless of accumulation order, and
    mean/var/z are then single correctly-rounded IEEE ops DuckDB reproduces
    bit-for-bit — so even the `is_anomaly` threshold comparison is stable."""
    from movie_genre_data_pipeline_spark.operators.timeseries import (
        rolling_zscore,
        time_bucket_gapfill,
    )

    ev = load(spark, sf_dir, "events")
    dense = time_bucket_gapfill(
        ev,
        "ts",
        BUCKET_S,
        aggs={"n": F.count(F.lit(1)).cast("bigint")},
        fill={"n": F.lit(0).cast("bigint")},
        group_cols=("event_type",),
    )
    scored = rolling_zscore(
        dense,
        order_col="bucket",
        value_col="n",
        partition_cols=("event_type",),
        lookback=ZS_LOOKBACK,
        min_periods=ZS_MIN_PERIODS,
    )
    return scored.select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        "event_type",
        "n",
        "baseline_n",
        F.round("zscore", 6).alias("zscore"),
        F.when(F.abs("zscore") >= 2.0, 1).otherwise(0).cast("int").alias("is_anomaly"),
    )


Q_ANOMALY_ZSCORE_ORACLE = f"""
WITH b AS (
  SELECT make_timestamp(CAST(FLOOR(EPOCH(ts) / {BUCKET_S}) AS BIGINT)
                        * {BUCKET_S} * 1000000) AS bucket,
         event_type
  FROM events
),
bounds AS (SELECT MIN(bucket) AS b0, MAX(bucket) AS b1 FROM b),
spine AS (
  SELECT unnest(generate_series(b0, b1, INTERVAL {BUCKET_S} SECONDS)) AS bucket
  FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
agg AS (
  SELECT bucket, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM b GROUP BY 1, 2
),
dense AS (
  SELECT s.bucket, t.event_type, COALESCE(a.n, 0) AS n
  FROM spine s CROSS JOIN types t
  LEFT JOIN agg a ON a.bucket = s.bucket AND a.event_type = t.event_type
),
frames AS (
  SELECT bucket, event_type, n,
         CAST(n AS DOUBLE) AS x,
         CAST(COUNT(*) OVER w AS DOUBLE) AS fn,
         SUM(CAST(n AS DOUBLE)) OVER w AS fs,
         SUM(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) OVER w AS fs2
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN {ZS_LOOKBACK} PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT bucket, event_type, n,
         CAST(fn AS BIGINT) AS baseline_n,
         CASE WHEN fn >= {ZS_MIN_PERIODS}
                   AND (fs2 - fs * fs / fn) / (fn - 1.0) > 0
              THEN (x - fs / fn)
                   / SQRT((fs2 - fs * fs / fn) / (fn - 1.0))
         END AS z
  FROM frames
)
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS w_start, event_type, n,
       baseline_n,
       ROUND(z, 6) AS zscore,
       CAST(CASE WHEN ABS(z) >= 2.0 THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
FROM scored
"""


# -- retention cohorts: first-seen week × activity-week offset --------------------------
WEEK_S = 604800


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort-retention matrix every product-analytics warehouse serves:
    users grouped by first-seen week, and for each later week the fraction of
    the cohort still active. Three hash aggregates, all shuffling on user_id
    or the (cohort, offset) pair — per-user state is one min(); the matrix is
    (weeks × weeks) rows, dimension-sized at any event volume. Integer counts
    + one division keep every cell oracle-exact."""
    from movie_genre_data_pipeline_spark.operators.timeseries import (
        epoch_seconds,
        time_bucket,
    )

    ev = load(spark, sf_dir, "events")
    # weekly feeds three consumers (cohorts, sizes-via-cohorts, cells); the
    # checkpoint pins ONE events scan — weekly is (user, week) grain, far
    # smaller than raw events at any scale
    weekly = materialize(
        ev.select("user_id", time_bucket("ts", WEEK_S).alias("week"))
        .distinct(),
        eager=True,
    )
    cohorts = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    cells = (
        weekly.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (
                (epoch_seconds("week") - epoch_seconds("cohort_week"))
                / F.lit(WEEK_S)
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    return cells.join(F.broadcast(sizes), "cohort_week").select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort"),
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
    )


Q_RETENTION_COHORTS_ORACLE = f"""
WITH weekly AS (
  SELECT DISTINCT user_id,
         make_timestamp(CAST(FLOOR(EPOCH(ts) / {WEEK_S}) AS BIGINT)
                        * {WEEK_S} * 1000000) AS week
  FROM events
),
cohorts AS (SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY user_id),
sizes AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
          FROM cohorts GROUP BY cohort_week),
cells AS (
  SELECT c.cohort_week,
         CAST((EPOCH(w.week) - EPOCH(c.cohort_week)) / {WEEK_S} AS BIGINT)
           AS week_offset,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM weekly w JOIN cohorts c USING (user_id)
  GROUP BY 1, 2
)
SELECT strftime(ce.cohort_week, '%Y-%m-%d') AS cohort,
       ce.week_offset, ce.n_active, s.cohort_size,
       ROUND(ce.n_active / CAST(s.cohort_size AS DOUBLE), 6) AS retention
FROM cells ce JOIN sizes s USING (cohort_week)
"""


QUERIES: dict[str, QuerySpec] = {
    "time_bucket_gapfill": QuerySpec(
        q_time_bucket_gapfill, Q_TIME_BUCKET_GAPFILL_ORACLE
    ),
    "ts_retention_cohorts": QuerySpec(q_retention_cohorts, Q_RETENTION_COHORTS_ORACLE),
    "funnel_conversion": QuerySpec(q_funnel_conversion, Q_FUNNEL_CONVERSION_ORACLE),
    "rollup_cascade": QuerySpec(q_rollup_cascade, Q_ROLLUP_CASCADE_ORACLE),
    "ts_anomaly_zscore": QuerySpec(q_anomaly_zscore, Q_ANOMALY_ZSCORE_ORACLE),
}


# -- seasonal-naive forecast backtest: the baseline every capacity-planning /
#    anomaly system starts from. Forecast n̂(t) = n(t − SEASON buckets) on the
#    dense gap-filled hourly count series; score per series over every bucket
#    with a full season of history. One gapfill + one lag window + one hash
#    aggregate — integer counts make every |error| exact, so MAE/bias are
#    single rounded divisions both engines reproduce bit-for-bit. -----------------
SEASON_BUCKETS = 24  # daily seasonality on the hourly grid


def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    dense = time_bucket_gapfill(
        ev,
        "ts",
        BUCKET_S,
        aggs={"n": F.count(F.lit(1)).cast("bigint")},
        fill={"n": F.lit(0).cast("bigint")},
        group_cols=("event_type",),
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    scored = dense.withColumn("nhat", F.lag("n", SEASON_BUCKETS).over(w)).filter(
        F.col("nhat").isNotNull()
    )
    err = F.col("n") - F.col("nhat")
    return scored.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_eval"),
        F.round(F.avg(F.abs(err)), 6).alias("mae"),
        F.round(F.avg(err), 6).alias("bias"),
        F.max(F.abs(err)).cast("bigint").alias("worst_abs_err"),
    )


Q_SEASONAL_NAIVE_ORACLE = f"""
WITH b AS (
  SELECT make_timestamp(CAST(FLOOR(EPOCH(ts) / {BUCKET_S}) AS BIGINT)
                        * {BUCKET_S} * 1000000) AS bucket,
         event_type
  FROM events
),
bounds AS (SELECT MIN(bucket) AS b0, MAX(bucket) AS b1 FROM b),
spine AS (
  SELECT unnest(generate_series(b0, b1, INTERVAL {BUCKET_S} SECONDS)) AS bucket
  FROM bounds
),
types AS (SELECT DISTINCT event_type FROM b),
agg AS (
  SELECT bucket, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM b GROUP BY 1, 2
),
dense AS (
  SELECT s.bucket, t.event_type, COALESCE(a.n, 0) AS n
  FROM spine s CROSS JOIN types t
  LEFT JOIN agg a ON a.bucket = s.bucket AND a.event_type = t.event_type
),
scored AS (
  SELECT event_type, n,
         LAG(n, {SEASON_BUCKETS}) OVER (PARTITION BY event_type ORDER BY bucket)
           AS nhat
  FROM dense
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       ROUND(AVG(ABS(n - nhat)), 6) AS mae,
       ROUND(AVG(n - nhat), 6) AS bias,
       CAST(MAX(ABS(n - nhat)) AS BIGINT) AS worst_abs_err
FROM scored WHERE nhat IS NOT NULL
GROUP BY event_type
"""


QUERIES["ts_seasonal_naive_backtest"] = QuerySpec(
    q_seasonal_naive_backtest, Q_SEASONAL_NAIVE_ORACLE
)


# -- A/B experiment analysis: deterministic hash assignment + Welch t-test.
#    Arms come from the sampling family's md5 idiom (so assignment is
#    reproducible on any engine/cluster); the metric is an INTEGER per-user
#    purchase count, which makes Σx and Σx² exact and therefore the means,
#    variances, and t-statistic bit-identical cross-engine (every double is
#    derived from exact integers through one fixed operation order). One scan:
#    per-user conditional count, then a single conditional aggregate. ------------
AB_SALT = "ab"


def q_ab_experiment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("x")
    )
    return ab_report_from_user_counts(per_user)


def ab_report_from_user_counts(per_user: DataFrame) -> DataFrame:
    """Arm assignment + the Welch-t scorecard over a (user_id, x) metric
    table. The input is the ADDITIVE reduction of the event stream (per-user
    integer counts), so the same scorer serves batch (one aggregate) and the
    streaming ledger twin (per-batch count deltas folded by re-sum in
    suite/streaming_queries.py) — arms are assigned AFTER folding, so the
    md5 assignment is identical however the events were batched."""
    from movie_genre_data_pipeline_spark.functions.sampling import (
        hex_threshold,
        sample_tag,
    )

    t50 = hex_threshold(0.5)
    armed = per_user.withColumn(
        "arm",
        F.when(sample_tag("user_id", AB_SALT) < t50, "treatment").otherwise(
            "control"
        ),
    )
    is_t = F.col("arm") == "treatment"
    agg = armed.agg(
        F.sum(F.when(~is_t, 1).otherwise(0)).cast("bigint").alias("n_c"),
        F.sum(F.when(~is_t, F.col("x")).otherwise(0)).cast("bigint").alias("s_c"),
        F.sum(F.when(~is_t, F.col("x") * F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("ss_c"),
        F.sum(F.when(is_t, 1).otherwise(0)).cast("bigint").alias("n_t"),
        F.sum(F.when(is_t, F.col("x")).otherwise(0)).cast("bigint").alias("s_t"),
        F.sum(F.when(is_t, F.col("x") * F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("ss_t"),
    )
    n_c, s_c, ss_c = F.col("n_c"), F.col("s_c"), F.col("ss_c")
    n_t, s_t, ss_t = F.col("n_t"), F.col("s_t"), F.col("ss_t")
    mean_c = s_c.cast("double") / n_c.cast("double")
    mean_t = s_t.cast("double") / n_t.cast("double")
    var_c = (ss_c.cast("double") - s_c.cast("double") * s_c / n_c) / (n_c - 1)
    var_t = (ss_t.cast("double") - s_t.cast("double") * s_t / n_t) / (n_t - 1)
    t_stat = (mean_t - mean_c) / F.sqrt(var_t / n_t + var_c / n_c)
    return agg.select(
        "n_c",
        "n_t",
        F.round(mean_c, 6).alias("mean_control"),
        F.round(mean_t, 6).alias("mean_treatment"),
        F.round(mean_t - mean_c, 6).alias("diff"),
        F.round(t_stat, 6).alias("t_welch"),
    )


def _ab_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.sampling import hex_threshold

    t50 = hex_threshold(0.5)
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS x
  FROM events GROUP BY user_id
),
armed AS (
  SELECT x,
         CASE WHEN md5(CAST(user_id AS VARCHAR) || ':{AB_SALT}') < '{t50}'
              THEN 'treatment' ELSE 'control' END AS arm
  FROM per_user
),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
    CAST(SUM(CASE WHEN arm = 'control' THEN x ELSE 0 END) AS BIGINT) AS s_c,
    CAST(SUM(CASE WHEN arm = 'control' THEN x * x ELSE 0 END) AS BIGINT) AS ss_c,
    CAST(SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
    CAST(SUM(CASE WHEN arm = 'treatment' THEN x ELSE 0 END) AS BIGINT) AS s_t,
    CAST(SUM(CASE WHEN arm = 'treatment' THEN x * x ELSE 0 END) AS BIGINT) AS ss_t
  FROM armed
)
SELECT n_c, n_t,
       ROUND(CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS mean_control,
       ROUND(CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE), 6) AS mean_treatment,
       ROUND(CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
             - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS diff,
       ROUND((CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
              - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE))
             / SQRT(((CAST(ss_t AS DOUBLE) - CAST(s_t AS DOUBLE) * s_t / n_t)
                     / (n_t - 1)) / n_t
                    + ((CAST(ss_c AS DOUBLE) - CAST(s_c AS DOUBLE) * s_c / n_c)
                       / (n_c - 1)) / n_c), 6) AS t_welch
FROM agg
"""


QUERIES["ab_experiment_report"] = QuerySpec(q_ab_experiment_report, _ab_oracle())


# -- exponential smoothing in exact dyadic fixed point (r7) -------------------------------
# EWMA with α=1/2 truncated at 16 lags: the weight α(1−α)^k = 2^-(k+1) is a
# POWER OF TWO, so the whole smoother runs in integer arithmetic —
# ewma_fp = Σ_{k=0..15} v_{t-k}·2^(15-k) over cent-quantized values (the
# implicit denominator is 2^16; truncation tail ≤ 2^-16 of mass). No pow(),
# no float recursion — a 16-term LAG window both engines evaluate bit-
# identically, published as exact BIGINT fixed point. Only rows with a FULL
# lag window publish (rn ≥ 16), so no edge-normalization arithmetic exists
# to drift. Scale shape: one window per event_type series, parallel across
# series — the window_running_sum single-series caveat applies within one.
EWMA_LAGS = 16

_EWMA_OVER = "OVER (PARTITION BY event_type ORDER BY ts ASC, event_id ASC)"
_EWMA_FP_SQL = "(" + " + ".join(
    f"v * {2 ** (EWMA_LAGS - 1)}" if k == 0
    else f"COALESCE(LAG(v, {k}) {_EWMA_OVER}, 0) * {2 ** (EWMA_LAGS - 1 - k)}"
    for k in range(EWMA_LAGS)
) + ")"


def q_ts_ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series truncated EWMA over the events table, digested to exact
    per-type trajectory stats (point count, min/max over the smoothed path,
    and the final smoothed level via MAX_BY on the row number)."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    smoothed = base.selectExpr(
        "event_type",
        f"{_EWMA_FP_SQL} AS ewma_fp",
        f"ROW_NUMBER() {_EWMA_OVER} AS rn",
    ).filter(F.col("rn") >= EWMA_LAGS)
    return smoothed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.min("ewma_fp").cast("bigint").alias("ewma_min_fp"),
        F.max("ewma_fp").cast("bigint").alias("ewma_max_fp"),
        F.expr("MAX_BY(ewma_fp, rn)").cast("bigint").alias("ewma_last_fp"),
    )


Q_TS_EWMA_ORACLE = f"""
WITH base AS (
  SELECT event_type, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
smoothed AS (
  SELECT event_type,
         {_EWMA_FP_SQL} AS ewma_fp,
         ROW_NUMBER() {_EWMA_OVER} AS rn
  FROM base
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(ewma_fp) AS BIGINT) AS ewma_min_fp,
       CAST(MAX(ewma_fp) AS BIGINT) AS ewma_max_fp,
       CAST(MAX_BY(ewma_fp, rn) AS BIGINT) AS ewma_last_fp
FROM smoothed WHERE rn >= {EWMA_LAGS}
GROUP BY event_type
"""


QUERIES["ts_ewma_events"] = QuerySpec(q_ts_ewma_events, Q_TS_EWMA_ORACLE)


# -- CUSUM changepoint detection, all-integer (r7) ----------------------------------------
# Page's cumulative-sum statistic locates a level shift in a series: the
# running sum of deviations from the series mean peaks at the changepoint.
# Exactness by denominator-clearing: instead of v_i − S/n (a division), use
# n·v_i − S — the same argmax, every partial sum an exact BIGINT. One ranked
# running-sum window per series + one aggregate; the peak position publishes
# deterministically (max |cusum|, ties to the earliest position).
def cusum_from_base(base: DataFrame) -> DataFrame:
    """The CUSUM readout over (event_type, ts, event_id, v) facts, however
    accumulated — the event log IS the ledger (event_ids unique across
    micro-batches, a union fold), and the whole trajectory + argmax are
    readout decisions; shared by the batch query and the streaming twin."""
    from pyspark.sql import Window

    wn = Window.partitionBy("event_type")
    wrun = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    scored = (
        base.withColumn("n", F.count(F.lit(1)).over(wn))
        .withColumn("s", F.sum("v").over(wn))
        .withColumn("dev", F.col("n") * F.col("v") - F.col("s"))
        .withColumn("cusum", F.sum("dev").over(wrun))
        .withColumn("rn", F.row_number().over(wrun))
    )
    wpk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("rn").asc()
    )
    return (
        scored.withColumn("prk", F.row_number().over(wpk))
        .filter(F.col("prk") == 1)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_points"),
            F.abs(F.col("cusum")).cast("bigint").alias("cusum_peak"),
            F.col("rn").cast("bigint").alias("peak_rn"),
        )
    )


def q_ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    return cusum_from_base(base)


Q_TS_CUSUM_ORACLE = """
WITH base AS (
  SELECT event_type, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
devs AS (
  SELECT event_type, ts, event_id,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         COUNT(*) OVER (PARTITION BY event_type) * v
           - SUM(v) OVER (PARTITION BY event_type) AS dev
  FROM base
),
scored AS (
  SELECT event_type, n,
         SUM(dev) OVER (PARTITION BY event_type
                        ORDER BY ts ASC, event_id ASC) AS cusum,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts ASC, event_id ASC) AS rn
  FROM devs
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_points,
       CAST(ABS(cusum) AS BIGINT) AS cusum_peak,
       CAST(rn AS BIGINT) AS peak_rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        ORDER BY ABS(cusum) DESC, rn ASC) AS prk FROM scored)
WHERE prk = 1
"""


QUERIES["ts_cusum_changepoint"] = QuerySpec(
    q_ts_cusum_changepoint, Q_TS_CUSUM_ORACLE
)


# -- retention-policy (TTL) audit (r10) ------------------------------------------------------
# The GDPR/data-retention maintenance decision as a pure transform — the
# governance sibling of ops_purge_cascade (key-level deletion) and
# ops_compaction_plan (layout maintenance): which DAY PARTITIONS of the
# events table fall wholly past the retention horizon and are due for drop.
# Partition-level TTL is how lakehouse retention actually runs (drop whole
# time partitions, never row-deletes), so the unit here is the UTC day
# bucket. The horizon derives from the corpus itself (max event time minus
# RETENTION_DAYS) so the report is deterministic at any SF; all comparisons
# run in exact integer microseconds. One fact-sized day-keyed aggregate;
# the max lands as a broadcast 1-row frame.
RETENTION_DAYS = 14


def retention_day_user_facts(events: DataFrame) -> DataFrame:
    """(d_bucket, user_id, n_rows) — the ADDITIVE fact grain of the retention
    audit. Per-day row counts fold by SUM, but n_users is a COUNT DISTINCT,
    so the ledger fact must keep the user key: (day, user) partials merge by
    SUM and the distinct count becomes a row count over the folded grain.
    Shared by the batch query and its streaming ledger twin
    (streaming_queries.q_stream_retention_policy)."""
    from movie_genre_data_pipeline_spark.operators.timeseries import time_bucket

    return events.groupBy(
        time_bucket("ts", DAY_S).alias("d_bucket"), "user_id"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))


def retention_from_counts(per_user: DataFrame, mx: DataFrame) -> DataFrame:
    """The retention-policy readout tail over folded facts: `per_user` is the
    (d_bucket, user_id, n_rows) grain (retention_day_user_facts, possibly
    SUM-folded from ledger appends), `mx` a 1-row (mx_us) frame holding the
    corpus max event time in micros. All horizon comparisons in exact integer
    microseconds; the max lands as a broadcast 1-row frame."""
    # n_users counts NON-NULL user keys (F.count(col) skips NULLs): the
    # folded grain gives one row per (day, user) INCLUDING a NULL-user row,
    # but the oracle's COUNT(DISTINCT user_id) ignores NULLs — counting rows
    # with COUNT(*) would read +1 on any day holding anonymous events (the
    # r11 review; n_rows keeps counting every event, NULL user or not)
    per = per_user.groupBy("d_bucket").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.count("user_id").cast("bigint").alias("n_users"),
    )
    day_end_us = f"unix_micros(d_bucket) + CAST({DAY_S} AS BIGINT) * 1000000"
    cutoff_us = f"mx_us - CAST({RETENTION_DAYS * DAY_S} AS BIGINT) * 1000000"
    return per.crossJoin(F.broadcast(mx)).selectExpr(
        "date_format(d_bucket, 'yyyy-MM-dd') AS day",
        "n_rows",
        "n_users",
        f"CAST(CASE WHEN {day_end_us} <= {cutoff_us} THEN 1 ELSE 0 END"
        " AS BIGINT) AS expired",
    )


def q_retention_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.operators.timeseries import epoch_micros

    e = load(spark, sf_dir, "events")
    mx = e.agg(F.max(epoch_micros("ts")).cast("bigint").alias("mx_us"))
    return retention_from_counts(retention_day_user_facts(e), mx)


Q_RETENTION_POLICY_ORACLE = f"""
WITH mx AS (SELECT MAX(epoch_us(ts)) AS mx_us FROM events),
per AS (
  SELECT make_timestamp(CAST(FLOOR(EPOCH(ts) / {DAY_S}) AS BIGINT)
                        * {DAY_S} * 1000000) AS d_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events GROUP BY 1
)
SELECT strftime(d_bucket, '%Y-%m-%d') AS day,
       n_rows,
       n_users,
       CAST(CASE WHEN epoch_us(d_bucket) + CAST({DAY_S} AS BIGINT) * 1000000
                      <= mx_us - CAST({RETENTION_DAYS * DAY_S} AS BIGINT) * 1000000
                 THEN 1 ELSE 0 END AS BIGINT) AS expired
FROM per CROSS JOIN mx
"""

QUERIES["ops_retention_policy"] = QuerySpec(
    q_retention_policy, Q_RETENTION_POLICY_ORACLE
)


# -- autocorrelation ladder over the hourly event series (r12) ----------------------------
# The seasonality detector a forecaster runs BEFORE choosing a model: Pearson
# autocorrelation of the dense hourly event-count series at a ladder of lags
# (adjacent hours, quarter/half-day, the diurnal 24 h and 48 h harmonics, the
# weekly 168 h). A diurnal workload prints r(24) ≫ r(1); white noise prints
# ~0 everywhere — this is what justified ts_seasonal_naive_backtest's season
# choice. Exactness: counts are integers on a dense spine (zeros filled), so
# every moment (Σx, Σy, Σxy, Σx², Σy²) is an exact integer accumulated in
# DECIMAL(38,0) (Σxy ~ n·c² passes 2^63 at ~1e9 events/hour); r is resolved
# by IEEE-exact double arithmetic + the FLOOR(x+0.5) half-up spell, identical
# text both engines. Scale shape: ONE fact scan collapsed map-side to the
# calendar-sized hourly grain; the spine, the lag self-joins (8 lags), and
# the moment folds all run on ≤ |hours| rows — broadcast-sized forever.
ACF_LAGS = [1, 2, 3, 6, 12, 24, 48, 168]

_ACF_R_MICRO = (
    "CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > CAST(0 AS DOUBLE)"
    " AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > CAST(0 AS DOUBLE) THEN"
    " CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " * CAST(1000000 AS DOUBLE)"
    " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)


def hourly_event_counts(events: DataFrame) -> DataFrame:
    """(hour_id, cnt) — additive hourly facts over ONE events scan
    (hour_id = FLOOR-division of epoch micros by an hour of micros: exact
    BIGINT arithmetic via operators.timeseries.epoch_floor_div, which matches
    the oracle's `//` for NEGATIVE epochs too — a bare Spark `div` truncates
    toward zero and shifts every pre-1970 hour by one; NTZ/LTZ-agnostic via
    epoch_micros — the fixture's ts physical encoding has drifted between
    rounds, so never tz-dependent unix_timestamp here). SUM-foldable, so the
    streaming twin appends these partials."""
    from movie_genre_data_pipeline_spark.operators.timeseries import epoch_floor_div

    return (
        events.select(epoch_floor_div("ts", 3_600_000_000).alias("hour_id"))
        .groupBy("hour_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def acf_report_from_counts(counts: DataFrame) -> DataFrame:
    """The ACF tail over additive (hour_id, cnt) facts, however accumulated:
    densify onto the min..max hour spine (zeros filled — a silent-outage
    hour is a real 0, not a dropped point), pair each point with its
    lag-shifted sibling per ladder rung, fold the five moments, resolve r.
    `counts` feeds three consumers (the spine scalars and both join sides),
    so the hourly fan-out is barrier-pinned."""
    counts = materialize(counts)
    spine = (
        counts.agg(
            F.min("hour_id").alias("min_h"), F.max("hour_id").alias("max_h")
        )
        .selectExpr("explode(sequence(min_h, max_h)) AS hour_id")
    )
    dense = materialize(
        spine.join(F.broadcast(counts), "hour_id", "left").select(
            "hour_id", F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt")
        )
    )
    lags = counts.sparkSession.createDataFrame(
        [(lag,) for lag in ACF_LAGS], "lag_hours bigint"
    )
    d1 = dense.select(
        F.col("hour_id").alias("h1"), F.col("cnt").alias("x")
    )
    d2 = dense.select(
        F.col("hour_id").alias("h2"), F.col("cnt").alias("y")
    )
    pairs = (
        d1.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(d2),
            F.col("h2") == F.col("h1") + F.col("lag_hours"),
        )
    )
    sums = pairs.groupBy("lag_hours").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    return sums.selectExpr(
        "lag_hours",
        "n AS n_pairs",
        f"{_ACF_R_MICRO} AS r_micro",
    )


def q_ts_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return acf_report_from_counts(hourly_event_counts(ev))


_ACF_LAG_VALUES = ", ".join(f"({lag})" for lag in ACF_LAGS)

Q_TS_ACF_ORACLE = f"""
WITH counts AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 3600000000
           - CASE WHEN CAST(epoch_us(ts) AS BIGINT) % 3600000000 < 0
                  THEN 1 ELSE 0 END AS hour_id,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
),
bounds AS (SELECT MIN(hour_id) AS min_h, MAX(hour_id) AS max_h FROM counts),
spine AS (
  SELECT UNNEST(generate_series(min_h, max_h)) AS hour_id FROM bounds
),
dense AS (
  SELECT s.hour_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
  FROM spine s LEFT JOIN counts c ON c.hour_id = s.hour_id
),
lags(lag_hours) AS (VALUES {_ACF_LAG_VALUES}),
pairs AS (
  SELECT l.lag_hours, d1.cnt AS x, d2.cnt AS y
  FROM dense d1
  CROSS JOIN lags l
  JOIN dense d2 ON d2.hour_id = d1.hour_id + l.lag_hours
),
sums AS (
  SELECT lag_hours,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
         SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
  FROM pairs GROUP BY 1
)
SELECT CAST(lag_hours AS BIGINT) AS lag_hours, n AS n_pairs,
       {_ACF_R_MICRO} AS r_micro
FROM sums
"""

QUERIES["ts_acf_lags"] = QuerySpec(q_ts_acf_lags, Q_TS_ACF_ORACLE)


# -- seasonal-index decomposition over the hourly series (r12) ----------------------------
# The readout that acts on what the ACF ladder detects: per hour-of-day
# seasonal indices over the dense hourly series — index > 1 means that wall
# hour runs hot relative to the overall mean (the diurnal shape a capacity
# planner or a seasonal-naive forecaster consumes directly). Exactness:
# mean_h / mean_global = (sum_h · N) / (n_h · S) is an exact integer ratio
# (every factor a BIGINT count), resolved by one double expression + the
# FLOOR(x+0.5) spell — no trend smoothing, no float recursion. Scale shape:
# the same calendar-grain fold as the ACF (ONE fact scan map-side to
# ≤ |hours| rows), then a 24-row aggregate with a broadcast 1-row global.
_SEASONAL_IDX_MICRO = (
    "CASE WHEN total_sum > 0 THEN"
    " CAST(FLOOR(CAST(sum_h AS DOUBLE) * CAST(n_total AS DOUBLE)"
    " * CAST(1000000 AS DOUBLE)"
    " / (CAST(n_h AS DOUBLE) * CAST(total_sum AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_HOUR_MEAN_MICRO = (
    "CAST(FLOOR(CAST(sum_h AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(n_h AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def seasonal_decompose_from_counts(counts: DataFrame) -> DataFrame:
    """The seasonal-index tail over additive (hour_id, cnt) facts, however
    accumulated: densify onto the min..max spine (a silent hour is a real
    0 — dropping it would bias every index up), bucket by hour-of-day
    (pmod(hour_id, 24) — hour_id is UTC epoch hours, so bucket 0 is midnight
    UTC; pmod, not %, so pre-1970 hours land in [0, 24) instead of printing
    negative wall hours), fold per-bucket sums, divide once against the
    broadcast global."""
    counts = materialize(counts)
    spine = (
        counts.agg(
            F.min("hour_id").alias("min_h"), F.max("hour_id").alias("max_h")
        )
        .selectExpr("explode(sequence(min_h, max_h)) AS hour_id")
    )
    dense = spine.join(F.broadcast(counts), "hour_id", "left").select(
        "hour_id", F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt")
    )
    per_hour = dense.groupBy(
        F.expr("pmod(hour_id, 24)").cast("bigint").alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("cnt").cast("bigint").alias("sum_h"),
    )
    glob = per_hour.agg(
        F.sum("n_h").cast("bigint").alias("n_total"),
        F.sum("sum_h").cast("bigint").alias("total_sum"),
    )
    return per_hour.crossJoin(F.broadcast(glob)).selectExpr(
        "hour_of_day",
        "n_h AS n_hours",
        "sum_h AS n_events",
        f"{_HOUR_MEAN_MICRO} AS mean_micro",
        f"{_SEASONAL_IDX_MICRO} AS seasonal_index_micro",
    )


def q_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return seasonal_decompose_from_counts(hourly_event_counts(ev))


Q_TS_SEASONAL_DECOMPOSE_ORACLE = f"""
WITH counts AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 3600000000
           - CASE WHEN CAST(epoch_us(ts) AS BIGINT) % 3600000000 < 0
                  THEN 1 ELSE 0 END AS hour_id,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
),
bounds AS (SELECT MIN(hour_id) AS min_h, MAX(hour_id) AS max_h FROM counts),
spine AS (
  SELECT UNNEST(generate_series(min_h, max_h)) AS hour_id FROM bounds
),
dense AS (
  SELECT s.hour_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
  FROM spine s LEFT JOIN counts c ON c.hour_id = s.hour_id
),
per_hour AS (
  SELECT CAST(((hour_id % 24) + 24) % 24 AS BIGINT) AS hour_of_day,
         CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(cnt) AS BIGINT) AS sum_h
  FROM dense GROUP BY 1
),
gtot AS (
  SELECT CAST(SUM(n_h) AS BIGINT) AS n_total,
         CAST(SUM(sum_h) AS BIGINT) AS total_sum
  FROM per_hour
)
SELECT hour_of_day, n_h AS n_hours, sum_h AS n_events,
       {_HOUR_MEAN_MICRO} AS mean_micro,
       {_SEASONAL_IDX_MICRO} AS seasonal_index_micro
FROM per_hour CROSS JOIN gtot
"""

QUERIES["ts_seasonal_decompose"] = QuerySpec(
    q_ts_seasonal_decompose, Q_TS_SEASONAL_DECOMPOSE_ORACLE
)


# -- Mann-Kendall trend test + Sen's slope over the daily series (r13) --------------------
# The nonparametric trend detector the monitoring world runs when it cannot
# assume normality or linear residuals (Mann 1945 / Kendall 1975, the
# hydrology standard): S = Σ_{i<j} sign(x_j − x_i) over the dense DAILY
# event-count series, its tie-corrected variance, the continuity-corrected z
# statistic, and the Theil-Sen slope (the median of all pairwise slopes —
# 29.3% breakdown point, the robust trend magnitude OLS can't give under
# outliers). Exactness: S, the tie term Σ t(t−1)(2t+5), and 18·Var are exact
# BIGINTs; z resolves in one shared double expression (sqrt of an exact
# integer ratio) + the FLOOR(x+0.5) spell; each pairwise slope quantizes
# ONCE to micro-units (signed — the half-up spell again) and the published
# slope is the LOWER median at rank (m+1)/2 under the (slope, d1, d2) total
# order (the dq_mad_outliers discipline), so both engines name the same
# pair. Scale shape: ONE fact scan collapses map-side to the calendar-sized
# daily grain; the pairwise fan-out is GRAIN-bounded (days², not rows² —
# ~66k pairs even at a full year), never data-sized; the slope median ranks
# through the range-partitioned row number; readout is one row.
_MK_Z_MICRO = (
    "CASE WHEN var18 > 0 AND s_stat > 0 THEN"
    " CAST(FLOOR((CAST(s_stat AS DOUBLE) - CAST(1 AS DOUBLE))"
    " * CAST(1000000 AS DOUBLE)"
    " / sqrt(CAST(var18 AS DOUBLE) / CAST(18 AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " WHEN var18 > 0 AND s_stat < 0 THEN"
    " CAST(FLOOR((CAST(s_stat AS DOUBLE) + CAST(1 AS DOUBLE))"
    " * CAST(1000000 AS DOUBLE)"
    " / sqrt(CAST(var18 AS DOUBLE) / CAST(18 AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_MK_SLOPE_MICRO = (
    "CAST(FLOOR(CAST(x2 - x1 AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(d2 - d1 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_MK_MEDIAN_RANK = (
    "CAST(FLOOR((CAST(m AS DOUBLE) + CAST(1 AS DOUBLE))"
    " / CAST(2 AS DOUBLE)) AS BIGINT)"
)


def daily_event_counts(events: DataFrame) -> DataFrame:
    """(day_id, cnt) — additive daily facts over ONE events scan (day_id =
    FLOOR-division of epoch micros by a day of micros, sign-exact via
    operators.timeseries.epoch_floor_div). SUM-foldable, so the streaming
    twin appends these partials."""
    from movie_genre_data_pipeline_spark.operators.timeseries import epoch_floor_div

    return (
        events.select(epoch_floor_div("ts", 86_400_000_000).alias("day_id"))
        .groupBy("day_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def mann_kendall_from_counts(counts: DataFrame) -> DataFrame:
    """The Mann-Kendall + Theil-Sen tail over additive (day_id, cnt) facts,
    however accumulated: densify onto the min..max day spine (a silent-outage
    day is a real 0), fold S and the tie correction, rank the pairwise
    slopes, publish one row. `counts` feeds several consumers, so the daily
    fan-out is barrier-pinned."""
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_row_number,
    )

    counts = materialize(counts)
    spine = (
        counts.agg(
            F.min("day_id").alias("min_d"), F.max("day_id").alias("max_d")
        )
        .selectExpr("explode(sequence(min_d, max_d)) AS day_id")
    )
    dense = materialize(
        spine.join(F.broadcast(counts), "day_id", "left")
        .select(
            "day_id", F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt")
        )
    )
    d1 = dense.select(F.col("day_id").alias("d1"), F.col("cnt").alias("x1"))
    d2 = dense.select(F.col("day_id").alias("d2"), F.col("cnt").alias("x2"))
    pairs = materialize(d1.join(F.broadcast(d2), F.col("d2") > F.col("d1")))
    s_fold = pairs.agg(
        F.sum(F.expr("CAST(sign(x2 - x1) AS BIGINT)")).cast("bigint").alias(
            "s_stat"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    base = dense.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr(
            "CAST(COUNT(*) AS BIGINT) * (COUNT(*) - 1) * (2 * COUNT(*) + 5)"
        ).alias("d_term"),
    )
    ties = (
        dense.groupBy("cnt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .agg(
            F.sum(F.expr("t * (t - 1) * (2 * t + 5)"))
            .cast("bigint")
            .alias("tie_term")
        )
    )
    slopes = pairs.selectExpr(f"{_MK_SLOPE_MICRO} AS slope_micro", "d1", "d2")
    ranked = ranged_row_number(
        slopes, [F.col("slope_micro"), F.col("d1"), F.col("d2")], "rn"
    )
    median = (
        ranked.crossJoin(
            F.broadcast(s_fold.selectExpr("n_pairs AS m"))
        )
        .filter(F.expr(f"rn = {_MK_MEDIAN_RANK}"))
        .select(F.col("slope_micro").alias("sen_slope_micro"))
    )
    return (
        s_fold.crossJoin(F.broadcast(base))
        .crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(median))
        .selectExpr(
            "n_days",
            "n_pairs",
            "s_stat",
            "d_term - tie_term AS var18",
            "sen_slope_micro",
        )
        .selectExpr(
            "n_days",
            "n_pairs",
            "s_stat",
            "var18",
            f"{_MK_Z_MICRO} AS z_micro",
            "sen_slope_micro",
        )
    )


def q_ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return mann_kendall_from_counts(daily_event_counts(ev))


Q_TS_MANN_KENDALL_ORACLE = f"""
WITH counts AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000
           - CASE WHEN CAST(epoch_us(ts) AS BIGINT) % 86400000000 < 0
                  THEN 1 ELSE 0 END AS day_id,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
),
bounds AS (SELECT MIN(day_id) AS min_d, MAX(day_id) AS max_d FROM counts),
spine AS (
  SELECT UNNEST(generate_series(min_d, max_d)) AS day_id FROM bounds
),
dense AS MATERIALIZED (
  SELECT s.day_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
  FROM spine s LEFT JOIN counts c ON c.day_id = s.day_id
),
pairs AS MATERIALIZED (
  SELECT a.day_id AS d1, b.day_id AS d2, a.cnt AS x1, b.cnt AS x2
  FROM dense a JOIN dense b ON b.day_id > a.day_id
),
s_fold AS (
  SELECT CAST(SUM(CAST(sign(x2 - x1) AS BIGINT)) AS BIGINT) AS s_stat,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs
),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(COUNT(*) AS BIGINT) * (COUNT(*) - 1) * (2 * COUNT(*) + 5)
           AS d_term
  FROM dense
),
ties AS (
  SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM dense GROUP BY cnt)
),
slopes AS (
  SELECT {_MK_SLOPE_MICRO} AS slope_micro, d1, d2 FROM pairs
),
ranked AS (
  SELECT slope_micro,
         CAST(ROW_NUMBER() OVER (ORDER BY slope_micro, d1, d2) AS BIGINT)
           AS rn
  FROM slopes
),
median AS (
  SELECT r.slope_micro AS sen_slope_micro
  FROM ranked r CROSS JOIN (SELECT n_pairs AS m FROM s_fold)
  WHERE rn = {_MK_MEDIAN_RANK}
),
folded AS (
  SELECT n_days, n_pairs, s_stat, d_term - tie_term AS var18,
         sen_slope_micro
  FROM s_fold CROSS JOIN base CROSS JOIN ties CROSS JOIN median
)
SELECT n_days, n_pairs, s_stat, var18,
       {_MK_Z_MICRO} AS z_micro,
       sen_slope_micro
FROM folded
"""

QUERIES["ts_mann_kendall"] = QuerySpec(
    q_ts_mann_kendall, Q_TS_MANN_KENDALL_ORACLE
)


# -- A/B guardrail: sample-ratio-mismatch check (r13) --------------------------------------
# The FIRST check every experimentation platform runs before reading any
# metric: did the 50/50 assignment actually deliver 50/50? A sample-ratio
# mismatch (SRM) means the randomization itself is broken (bot filtering,
# redirect loss, logging bias) and every downstream t-test is invalid —
# Microsoft/LinkedIn/Airbnb all gate on it (Fabijan et al. 2019). For a
# two-arm 50/50 split the goodness-of-fit χ² collapses to the EXACT integer
# ratio (n_t − n_c)²/N (one quantization via the FLOOR(x+0.5) spell), |z| is
# its square root, and the p<0.05 verdict compares against the χ²₁ critical
# value embedded as a shared Python-computed literal (the Benford-constant
# discipline — nothing transcendental evaluates at query time). Arms are the
# SAME md5 assignment ab_experiment_report reads, so this is the guardrail
# FOR that scorecard. Scale shape: one user-keyed fold + a 1-row reduction.
SRM_CHI2_CRIT_MICRO = 3_841_459  # chi2(1 dof) 0.95 quantile, in micro units

_SRM_CHI2_MICRO = (
    "CASE WHEN n_users > 0 THEN"
    " CAST(FLOOR(CAST(CAST(n_t - n_c AS DECIMAL(38,0))"
    " * (n_t - n_c) * 1000000 AS DOUBLE)"
    " / CAST(n_users AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_SRM_Z_MICRO = (
    "CAST(FLOOR(sqrt(CAST(chi2_micro AS DOUBLE) / CAST(1000000 AS DOUBLE))"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def srm_check_from_users(per_user: DataFrame) -> DataFrame:
    """The SRM tail over a (user_id, ...) per-user table, however
    accumulated — arms are assigned AFTER folding (a pure user_id hash), so
    the batch query and the streaming ledger twin share it."""
    from movie_genre_data_pipeline_spark.functions.sampling import (
        hex_threshold,
        sample_tag,
    )

    t50 = hex_threshold(0.5)
    armed = per_user.withColumn(
        "is_t", sample_tag("user_id", AB_SALT) < t50
    )
    agg = armed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).cast("bigint").alias("n_c"),
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("bigint").alias("n_t"),
    )
    return agg.selectExpr(
        "n_users",
        "n_c",
        "n_t",
        f"{_SRM_CHI2_MICRO} AS chi2_micro",
    ).selectExpr(
        "n_users",
        "n_c",
        "n_t",
        "chi2_micro",
        f"{_SRM_Z_MICRO} AS z_micro",
        f"chi2_micro > {SRM_CHI2_CRIT_MICRO} AS srm_flag",
    )


def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    return srm_check_from_users(per_user)


def _srm_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.sampling import hex_threshold

    t50 = hex_threshold(0.5)
    return f"""
WITH per_user AS (
  SELECT user_id FROM events GROUP BY user_id
),
armed AS (
  SELECT CASE WHEN md5(CAST(user_id AS VARCHAR) || ':{AB_SALT}') < '{t50}'
              THEN 1 ELSE 0 END AS is_t
  FROM per_user
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(1 - is_t) AS BIGINT) AS n_c,
         CAST(SUM(is_t) AS BIGINT) AS n_t
  FROM armed
),
c AS (
  SELECT n_users, n_c, n_t, {_SRM_CHI2_MICRO} AS chi2_micro FROM agg
)
SELECT n_users, n_c, n_t, chi2_micro,
       {_SRM_Z_MICRO} AS z_micro,
       chi2_micro > {SRM_CHI2_CRIT_MICRO} AS srm_flag
FROM c
"""


QUERIES["ab_srm_check"] = QuerySpec(q_ab_srm_check, _srm_oracle())


# -- Kaplan-Meier retention survival curve (r14) -------------------------------------------
# The censoring-aware retention readout cohort tables can't give: empirical
# survival S(t) = Π_{death times t_i <= t} (1 - d_i/n_i) over per-user
# observation spans, where a user whose last event sits a churn-gap before
# the corpus end is a DEATH at their active span and everyone else is
# CENSORED at the corpus end (still alive when observation stopped — the
# population a naive "days active" histogram silently miscounts).
# Exactness discipline: spans fold from MIN/MAX epoch-micros facts (the
# ledger twin's monoids), durations floor-divide positive micro diffs (both
# engines agree on positive //), each death time's ln(1 - d/n) quantizes
# once through the shared signed FLOOR(x+0.5) micro spell, and the KM
# cumulative product is an EXACT BIGINT prefix sum of those micro-nats
# (exp'd once at publish). Scale shape: one events scan collapses map-side
# to |users| span rows, then to |distinct durations| <= observation-hours
# rows — the readout windows below run on that TIME-grain table (bounded by
# calendar span, never by event or user cardinality; the hourly-rollup
# precedent).
KM_H_US = 3_600_000_000  # duration grain: hours
KM_GAP_US = 86_400_000_000  # churn gap: a user silent for >24h at corpus end died

_KM_TERM_MICRO = (
    "CAST(FLOOR((LN(CAST(n_risk - n_deaths AS DOUBLE))"
    " - LN(CAST(n_risk AS DOUBLE))) * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_KM_SURV_MICRO = (
    "CAST(FLOOR(EXP(CAST(km_lnmicro AS DOUBLE) / CAST(1000000 AS DOUBLE))"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def km_user_spans(events: DataFrame) -> DataFrame:
    """(user_id, f_us, l_us) — each user's first/last epoch-micros. The
    additive KM facts: f_us folds by MIN, l_us by MAX, so per-batch partials
    from the streaming twin fold to the batch table exactly."""
    from movie_genre_data_pipeline_spark.operators.timeseries import epoch_micros

    e = epoch_micros("ts")
    return events.groupBy("user_id").agg(
        F.min(e).cast("bigint").alias("f_us"),
        F.max(e).cast("bigint").alias("l_us"),
    )


def km_report_from_spans(spans: DataFrame) -> DataFrame:
    """The Kaplan-Meier readout over (user_id, f_us, l_us) spans, however
    accumulated (one batch scan or a MIN/MAX-folded ledger). Emits one row
    per death time with n_risk > n_deaths (the ln-domain KM steps). Both
    prefix sums (the at-risk suffix and the KM cumulative product's BIGINT
    ln fold) run through operators/ranking's range-partitioned form — the
    no-single-task-window house rule, even though the duration grain is
    calendar-bounded."""
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_running_sum,
    )

    end = spans.agg(F.max("l_us").alias("end_us"))
    per_user = spans.crossJoin(F.broadcast(end)).selectExpr(
        "CASE WHEN end_us - l_us > {gap} THEN 1 ELSE 0 END AS death".format(
            gap=KM_GAP_US
        ),
        # positive micro diffs, so integral div == floor-div on both engines
        "CAST((CASE WHEN end_us - l_us > {gap} THEN l_us - f_us"
        "      ELSE end_us - f_us END) DIV {h} AS BIGINT) AS dur_h".format(
            gap=KM_GAP_US, h=KM_H_US
        ),
    )
    counts = per_user.groupBy("dur_h").agg(
        F.sum("death").cast("bigint").alias("n_deaths"),
        F.sum(1 - F.col("death")).cast("bigint").alias("n_censored"),
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
    )
    total = counts.agg(F.sum("n_obs").cast("bigint").alias("n_total"))
    at_risk = (
        ranged_running_sum(counts, ["dur_h"], F.col("n_obs"), "cum_before")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk", (F.col("n_total") - F.col("cum_before")).cast("bigint")
        )
        .filter((F.col("n_deaths") >= 1) & (F.col("n_risk") > F.col("n_deaths")))
    )
    terms = at_risk.selectExpr(
        "dur_h",
        "n_risk",
        "n_deaths",
        "n_censored",
        f"{_KM_TERM_MICRO} AS term_micro",
    )
    return (
        ranged_running_sum(terms, ["dur_h"], F.col("term_micro"), "ln_before")
        .withColumn(
            "km_lnmicro",
            (F.col("ln_before") + F.col("term_micro")).cast("bigint"),
        )
        .selectExpr(
            "dur_h",
            "n_risk",
            "n_deaths",
            "n_censored",
            "km_lnmicro",
            f"{_KM_SURV_MICRO} AS surv_micro",
        )
        .orderBy("dur_h")
    )


def q_ts_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return km_report_from_spans(km_user_spans(ev))


Q_KM_ORACLE = f"""
WITH spans AS (
  SELECT user_id,
         CAST(MIN(epoch_us(ts)) AS BIGINT) AS f_us,
         CAST(MAX(epoch_us(ts)) AS BIGINT) AS l_us
  FROM events GROUP BY 1
),
endt AS (SELECT CAST(MAX(l_us) AS BIGINT) AS end_us FROM spans),
per_user AS (
  SELECT CASE WHEN end_us - l_us > {KM_GAP_US} THEN 1 ELSE 0 END AS death,
         CAST((CASE WHEN end_us - l_us > {KM_GAP_US} THEN l_us - f_us
               ELSE end_us - f_us END) // {KM_H_US} AS BIGINT) AS dur_h
  FROM spans CROSS JOIN endt
),
counts AS (
  SELECT dur_h,
         CAST(SUM(death) AS BIGINT) AS n_deaths,
         CAST(SUM(1 - death) AS BIGINT) AS n_censored,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM per_user GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM counts),
at_risk AS (
  SELECT dur_h, n_deaths, n_censored,
         CAST(n_total - CAST(COALESCE(SUM(n_obs) OVER (ORDER BY dur_h
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS BIGINT) AS n_risk
  FROM counts CROSS JOIN tot
),
terms AS (
  SELECT dur_h, n_risk, n_deaths, n_censored,
         {_KM_TERM_MICRO} AS term_micro
  FROM at_risk
  WHERE n_deaths >= 1 AND n_risk > n_deaths
),
cum AS (
  SELECT dur_h, n_risk, n_deaths, n_censored,
         CAST(SUM(term_micro) OVER (ORDER BY dur_h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS km_lnmicro
  FROM terms
)
SELECT dur_h, n_risk, n_deaths, n_censored, km_lnmicro,
       {_KM_SURV_MICRO} AS surv_micro
FROM cum ORDER BY dur_h
"""

QUERIES["ts_kaplan_meier"] = QuerySpec(q_ts_kaplan_meier, Q_KM_ORACLE)


# -- Ljung-Box portmanteau whiteness test (r15) --------------------------------------------
# The decision the ACF ladder feeds: is the hourly series white noise, or
# is there autocorrelation worth modeling AT ALL? Q = n(n+2) Σ_k r_k²/(n−k)
# over the first m consecutive lags (Ljung & Box 1978) — compare to
# χ²(m) offline; this query publishes the exact statistic. r_k reuses the
# ACF machinery VERBATIM (dense zero-filled spine, exact DECIMAL(38,0)
# moments, the _ACF_R_MICRO fragment), and Q resolves from the QUANTIZED
# r_micro values — 1e-6-granular inputs both engines share bit-for-bit, so
# the per-lag terms are exact BIGINTs and the only double step is the final
# n(n+2)·S scaling through one shared fragment. Scale shape: identical to
# the ACF — ONE fact scan to the calendar-sized hourly grain; the 12 lag
# joins and the term fold run on ≤ |hours| rows, broadcast-sized forever.
LJUNG_LAGS = list(range(1, 13))

_LJUNG_TERM_Q = (
    "CASE WHEN n_hours > lag_hours THEN"
    " CAST(FLOOR(CAST(r_micro AS DOUBLE) * CAST(r_micro AS DOUBLE)"
    " * CAST(1000000 AS DOUBLE)"
    " / (CAST(n_hours AS DOUBLE) - CAST(lag_hours AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_LJUNG_Q_MICRO = (
    "CAST(FLOOR(CAST(n_hours AS DOUBLE)"
    " * (CAST(n_hours AS DOUBLE) + CAST(2 AS DOUBLE))"
    " * CAST(s_terms AS DOUBLE) / CAST(1000000000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def ljung_box_from_counts(counts: DataFrame) -> DataFrame:
    """The Ljung-Box readout over additive (hour_id, cnt) facts, however
    accumulated: densify, pair per consecutive lag, fold the five exact
    moments per lag, resolve each r_micro (the ACF fragment), square into
    exact per-lag BIGINT terms, and scale by n(n+2) once."""
    counts = materialize(counts)
    spine = (
        counts.agg(
            F.min("hour_id").alias("min_h"), F.max("hour_id").alias("max_h")
        )
        .selectExpr("explode(sequence(min_h, max_h)) AS hour_id")
    )
    dense = materialize(
        spine.join(F.broadcast(counts), "hour_id", "left").select(
            "hour_id", F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt")
        )
    )
    nrow = dense.agg(F.count(F.lit(1)).cast("bigint").alias("n_hours"))
    lags = counts.sparkSession.createDataFrame(
        [(lag,) for lag in LJUNG_LAGS], "lag_hours bigint"
    )
    d1 = dense.select(F.col("hour_id").alias("h1"), F.col("cnt").alias("x"))
    d2 = dense.select(F.col("hour_id").alias("h2"), F.col("cnt").alias("y"))
    pairs = (
        d1.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(d2),
            F.col("h2") == F.col("h1") + F.col("lag_hours"),
        )
    )
    sums = pairs.groupBy("lag_hours").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    terms = (
        sums.selectExpr("lag_hours", f"{_ACF_R_MICRO} AS r_micro")
        .crossJoin(F.broadcast(nrow))
        .selectExpr("n_hours", f"{_LJUNG_TERM_Q} AS term_q")
    )
    return (
        terms.groupBy("n_hours")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m_lags"),
            F.sum("term_q").cast("bigint").alias("s_terms"),
        )
        .selectExpr("n_hours", "m_lags", f"{_LJUNG_Q_MICRO} AS q_micro")
    )


def q_ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ljung_box_from_counts(hourly_event_counts(ev))


_LJUNG_LAG_VALUES = ", ".join(f"({lag})" for lag in LJUNG_LAGS)

Q_TS_LJUNG_ORACLE = f"""
WITH counts AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 3600000000
           - CASE WHEN CAST(epoch_us(ts) AS BIGINT) % 3600000000 < 0
                  THEN 1 ELSE 0 END AS hour_id,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
),
bounds AS (SELECT MIN(hour_id) AS min_h, MAX(hour_id) AS max_h FROM counts),
spine AS (
  SELECT UNNEST(generate_series(min_h, max_h)) AS hour_id FROM bounds
),
dense AS (
  SELECT s.hour_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
  FROM spine s LEFT JOIN counts c ON c.hour_id = s.hour_id
),
nrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hours FROM dense),
lags(lag_hours) AS (VALUES {_LJUNG_LAG_VALUES}),
pairs AS (
  SELECT l.lag_hours, d1.cnt AS x, d2.cnt AS y
  FROM dense d1
  CROSS JOIN lags l
  JOIN dense d2 ON d2.hour_id = d1.hour_id + l.lag_hours
),
sums AS (
  SELECT lag_hours,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
         SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
  FROM pairs GROUP BY 1
),
rmic AS (
  SELECT CAST(lag_hours AS BIGINT) AS lag_hours, {_ACF_R_MICRO} AS r_micro
  FROM sums
),
terms AS (
  SELECT n_hours, {_LJUNG_TERM_Q} AS term_q FROM rmic CROSS JOIN nrow
),
folded AS (
  SELECT n_hours,
         CAST(COUNT(*) AS BIGINT) AS m_lags,
         CAST(SUM(term_q) AS BIGINT) AS s_terms
  FROM terms GROUP BY 1
)
SELECT n_hours, m_lags, {_LJUNG_Q_MICRO} AS q_micro FROM folded
"""

QUERIES["ts_ljung_box"] = QuerySpec(q_ts_ljung_box, Q_TS_LJUNG_ORACLE)
