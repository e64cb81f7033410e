"""Structured Streaming queries over `events` (north star: watermarks + event-time
windows; absent from the reference, which only uses Trigger.Once file streams —
SURVEY.md §2.8).

Each query runs a REAL streaming job (file-source stream over the events parquet,
availableNow trigger, memory sink) to completion, then returns the sink as a batch
DataFrame — so the driver's oracle check covers actual streaming execution, not a
batch re-phrasing. The batch twins (relational.q_tumbling_window / q_sessionize)
share the same oracles' semantics.

The stream's declared `ts` type is FOOTER-DRIVEN (VERDICT r03 #2 — the fixture
drifted nanos→micros and a hardcoded nanos-as-long schema silently compressed
time 1000×): INT64-nanos files are declared LONG (with
spark.sql.legacy.parquet.nanosAsLong set) and converted `div 1000` in-stream —
the same truncation DuckDB applies; micros/millis/INT96 files are declared
TIMESTAMP directly (the declared schema overrides NTZ inference, and with the
session pinned UTC the values match the tz-naive oracle). This is the
reference's own infer-once/freeze pattern (Autoloader_notebook/
Raw_to_Bronze.py:21-23) applied per physical encoding.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movie_genre_data_pipeline_spark.streaming.ledger import fold_ledger
from movie_genre_data_pipeline_spark.suite import QuerySpec
from movie_genre_data_pipeline_spark.suite._twin import run_twin, workspace
from movie_genre_data_pipeline_spark.suite.cdc_queries import Q_CDC_JOIN_IVM_ORACLE
from movie_genre_data_pipeline_spark.suite.mining_queries import (
    Q_MINE_BRAND_PAIRS_ORACLE,
)
from movie_genre_data_pipeline_spark.suite.pipeline_queries import (
    Q_DQ_DRIFT_REPORT_ORACLE,
    Q_GOLD_GENRE_REVENUE_IVM_ORACLE,
    Q_MERGE_SCD2_ORACLE,
    Q_OPS_DATASET_FINGERPRINT_ORACLE,
)
from movie_genre_data_pipeline_spark.suite.sketch_queries import (
    Q_CMS_HEAVY_HITTERS_ORACLE,
    Q_HISTOGRAM_QUANTILES_ORACLE,
    _hll_oracle,
)
from movie_genre_data_pipeline_spark.suite.text_queries import Q_SOURCE_KEYNESS_ORACLE
from movie_genre_data_pipeline_spark.suite.timeseries_queries import _ab_oracle


def _events_ts_is_nanos(sf_dir: str) -> bool:
    from movie_genre_data_pipeline_spark.sources.batch import _nanos_timestamp_columns

    return "ts" in _nanos_timestamp_columns(f"{sf_dir}/events.parquet")


def _events_stream_schema(nanos: bool) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType() if nanos else T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _open_event_stream(spark: SparkSession, sf_dir: str, link_dir: str) -> DataFrame:
    """File-source stream over `link_dir` with the footer-appropriate ts schema."""
    nanos = _events_ts_is_nanos(sf_dir)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # match tz-naive oracle
    # stateful streaming ops can't use AQE, and every shuffle partition carries
    # a state store whose per-batch open/commit cost dominates at suite scale
    # (measured: 32 partitions 1.5s vs 8 partitions 0.8s on the sf0.1 tumbling
    # window — state is only thousands of keys). Pin low here; a production
    # deployment sizes this to state volume / cluster cores instead (state
    # repartitioning requires a checkpoint reset, so pick it per workload).
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    stream = (
        spark.readStream.format("parquet")
        .schema(_events_stream_schema(nanos))
        .load(link_dir)
    )
    if nanos:
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events.parquet is a single FILE; the streaming file source requires a
    # directory (its per-batch relation rejects file-valued basePaths). Expose it
    # through a temp directory containing a symlink — zero-copy, read-only-safe.
    link_dir = workspace("events_stream_")
    os.symlink(f"{sf_dir}/events.parquet", f"{link_dir}/events.parquet")
    return _open_event_stream(spark, sf_dir, link_dir)


def _run_to_memory(df: DataFrame, output_mode: str) -> DataFrame:
    name = f"mem_{uuid.uuid4().hex[:10]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


# -- tumbling window (streaming, complete mode) -----------------------------------
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _event_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        "event_type",
        "n",
        "total_value",
    )


Q_STREAM_TUMBLING_ORACLE = """
SELECT strftime(make_timestamp(CAST(FLOOR(EPOCH(ts) / 21600) * 21600 AS BIGINT) * 1000000),
                '%Y-%m-%d %H:%M:%S') AS w_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


# -- sliding windows (streaming) ------------------------------------------------------
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of relational.q_sliding_window: 6h windows every 3h, each
    event feeding two overlapping buckets. Streaming state is per-(window,type)
    partial aggregates — row duplication happens map-side before the shuffle,
    identical to the batch plan."""
    ev = _event_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        "event_type",
        "n",
        "total_value",
    )


Q_STREAM_SLIDING_ORACLE = """
SELECT strftime(make_timestamp((CAST(FLOOR(EPOCH(ts) / 10800) AS BIGINT) - k) * 10800 * 1000000),
                '%Y-%m-%d %H:%M:%S') AS w_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM events, UNNEST([0, 1]) AS t(k)
GROUP BY 1, 2
"""


# -- session windows (streaming) ------------------------------------------------------
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(ts, 30 min) per user — the streaming-native form of
    relational.q_sessionize (lag+cumsum). Same session definition; the oracle is
    the lag-based SQL."""
    ev = _event_stream(spark, sf_dir)
    sessions = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_ev"))
    out = _run_to_memory(sessions, "complete")
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_ev").alias("n_events"),
    )


Q_STREAM_SESSIONIZE_ORACLE = """
WITH gaps AS (
  SELECT user_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) >= 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT user_id,
       CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM gaps GROUP BY user_id
"""


# -- watermarked append-mode window (late-data semantics) -------------------------------
def q_stream_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + append mode: only windows the watermark has passed are
    emitted; the trailing window(s) stay open. Over a BOUNDED fixture under
    availableNow the emitted set IS deterministic (VERDICT r05 #5): whatever
    the micro-batch split, the union of emissions is exactly the windows whose
    end <= final watermark = max(ts) truncated to ms, minus the 10-minute
    delay (Spark tracks event-time stats in milliseconds and runs a no-data
    batch after the last file batch to flush finalized windows). The oracle
    replays that predicate in SQL. Boundary note: window_end == watermark is
    emitted (verified empirically; both fixtures also sit >1h from any
    window-edge coincidence, so the strictness of the comparison cannot flip
    the result set)."""
    ev = _event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        "event_type",
        "n",
    )


# Final watermark in micros, ms-truncated like Spark's event-time stats; a
# 6h window is emitted in append mode iff its end <= that watermark.
Q_STREAM_WATERMARKED_ORACLE = """
WITH mx AS (
  SELECT (epoch_us(MAX(ts)) // 1000 - 600000) * 1000 AS wm_us FROM events
),
b AS (
  SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS w_start_us, event_type
  FROM events
)
SELECT strftime(make_timestamp(w_start_us), '%Y-%m-%d %H:%M:%S') AS w_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b, mx
WHERE w_start_us + 21600000000 <= mx.wm_us
GROUP BY 1, 2
"""


# -- custom stateful operator (applyInPandasWithState) -------------------------------
def q_stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats via an arbitrary-stateful operator
    (`applyInPandasWithState`): state = (n_events, max_value) per user, updated
    per micro-batch with Arrow-batched pandas. The emitted running values depend
    on micro-batch boundaries, but the FINAL per-user row (max over emissions)
    is batch-deterministic — count and max are accumulation-order-free — so the
    result is oracle-checkable even though the operator itself has no SQL form."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _event_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n, mx = state.get
        else:
            n, mx = 0, None
        for pdf in pdfs:
            vals = pdf["value"].dropna()
            n += int(len(pdf))
            if len(vals):
                m = float(vals.max())
                mx = m if mx is None else max(mx, m)
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, max_value double",
        stateStructType="n_events long, max_value double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = _run_to_memory(out, "update")
    return mem.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_value").alias("max_value"),
    )


Q_STREAM_STATEFUL_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(value) AS max_value
FROM events GROUP BY user_id
"""


# -- streaming dedup (dropDuplicatesWithinWatermark) -----------------------------------
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the same events file is delivered TWICE
    (double symlink — simulating at-least-once redelivery), and
    `dropDuplicatesWithinWatermark` on event_id collapses the duplicates with
    state bounded by the watermark (the 100 TB requirement: dedup state must
    expire, not grow forever). Oracle: each event counted exactly once."""
    link_dir = workspace("events_dup_stream_")
    os.symlink(f"{sf_dir}/events.parquet", f"{link_dir}/events_copy1.parquet")
    os.symlink(f"{sf_dir}/events.parquet", f"{link_dir}/events_copy2.parquet")
    stream = _open_event_stream(spark, sf_dir, link_dir)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = _run_to_memory(deduped, "append")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_distinct"),
    )


Q_STREAM_DEDUP_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
FROM events GROUP BY event_type
"""


# -- stream-stream join (watermarked, time-range condition) ---------------------------
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: each purchase joined to clicks by
    the same user within the preceding 30 minutes. Both sides carry watermarks
    so Spark can bound the join state (the 100 TB requirement — unbounded
    stream-stream joins otherwise keep every row forever). With availableNow
    over a finite input the emitted matches are exactly the batch answer, so
    the time-range-join SQL is the oracle."""
    purchases = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    out = _run_to_memory(joined, "append")
    return out.select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id"
    )


Q_STREAM_STREAM_JOIN_ORACLE = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND epoch_ms(c.ts::TIMESTAMP) BETWEEN epoch_ms(p.ts::TIMESTAMP) - 1800000
                                   AND epoch_ms(p.ts::TIMESTAMP)
"""


# -- stream ⋈ static dimension (broadcast enrich) -------------------------------------
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — THE streaming-enrichment pattern: an unbounded event
    stream joined to a bounded dimension table. The static side is broadcast
    (no state store, no watermark needed on the dim; Spark re-plans the static
    side per micro-batch), then windowed-aggregated per market segment."""
    from movie_genre_data_pipeline_spark.suite import load

    ev = _event_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "inner")
    agg = joined.groupBy(F.window("ts", "12 hours").alias("w"), "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        "c_mktsegment",
        "n",
        "total_value",
    )


Q_STREAM_STATIC_JOIN_ORACLE = """
SELECT strftime(make_timestamp(CAST(FLOOR(EPOCH(ts) / 43200) * 43200 AS BIGINT) * 1000000),
                '%Y-%m-%d %H:%M:%S') AS w_start,
       c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


# -- foreachBatch + join-based upsert (W5: the OSS Delta-MERGE stream) ----------------
def q_stream_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `foreachBatch(upsertToDelta)` stream
    (Autoloader_notebook/Bronze_to_Silver.py:257-276) rebuilt over Parquet: a
    one-batch file-source stream of negative-balance customers feeds
    join-based upserts into a materialized target table (their status flips
    new→flagged). Ping-pong target dirs keep each batch's read/write disjoint;
    the final table is returned and oracle-checked — streaming execution, exact
    batch-SQL answer."""
    from movie_genre_data_pipeline_spark.operators.upsert import upsert_update
    from movie_genre_data_pipeline_spark.suite import load

    base = workspace("febatch_merge_")
    target0 = f"{base}/t0"
    cust = load(spark, sf_dir, "customer")
    cust.select("c_custkey").withColumn("status", F.lit("new")).write.parquet(target0)
    updates = (
        cust.filter(F.col("c_acctbal") < 0)
        .select("c_custkey")
        .withColumn("new_status", F.lit("flagged"))
    )

    state = {"cur": target0}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        tgt = spark.read.parquet(state["cur"])
        nxt = f"{base}/t{batch_id + 1}"
        upsert_update(tgt, batch_df, "c_custkey", {"status": "new_status"}).write.parquet(nxt)
        state["cur"] = nxt

    run_twin(updates, apply_batch, base, 1)
    return spark.read.parquet(state["cur"])


Q_STREAM_FOREACHBATCH_MERGE_ORACLE = """
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'flagged' ELSE 'new' END AS status
FROM customer
"""


def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingestion with cross-batch dedup: a file-source stream of
    documents feeds foreachBatch(incremental_dedup) against an accumulating
    fingerprint LEDGER — each micro-batch drops docs whose normalized fingerprint
    is already in the ledger (or duplicated within the batch) and appends only
    the fresh ones. The ledger is seeded with a historical corpus (doc_id % 4
    != 0), and the stream replays ALL documents — so every historical doc is
    dropped as already-seen and only genuinely new content lands. This is the
    streaming twin of `dedup_incremental`; the final ledger is returned and
    oracle-checked, so the correctness gate covers real streaming execution.

    Scale: the per-batch work is the `incremental_dedup` anti-join keyed on the
    128-bit fingerprint; the ledger grows append-only (the same status-ledger
    pattern as streaming/incremental.py, never rewritten)."""
    from movie_genre_data_pipeline_spark.functions.dedup import incremental_dedup
    from movie_genre_data_pipeline_spark.functions.text import fingerprint
    from movie_genre_data_pipeline_spark.suite import load

    base = workspace("stream_inc_dedup_")
    ledger = f"{base}/ledger"
    docs = load(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 4 != 0).select(
        "doc_id", "lang", fingerprint("text").alias("fp")
    ).write.parquet(ledger)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        history = spark.read.parquet(ledger)
        fresh = incremental_dedup(
            batch_df, history, "doc_id", "text", history_fp_col="fp"
        )
        fresh.select("doc_id", "lang", "fp").write.mode("append").parquet(ledger)

    run_twin(docs, apply_batch, base, 1)
    return spark.read.parquet(ledger)


# history rows ∪ the fresh keepers (same derivation as Q_DEDUP_INCREMENTAL_ORACLE:
# batch docs not fingerprint-matched in history, lowest doc_id per batch fp).
Q_STREAM_INCREMENTAL_DEDUP_ORACLE = """
WITH fps AS (
  SELECT doc_id, lang,
         md5(regexp_replace(lower(trim(text)), '[ \t\n\r\f\v]+', ' ', 'g')) AS fp
  FROM documents
),
fresh AS (
  SELECT b.* FROM (SELECT * FROM fps WHERE doc_id % 4 = 0) b
  WHERE NOT EXISTS (SELECT 1 FROM fps h
                    WHERE h.doc_id % 4 != 0 AND h.fp = b.fp)
)
SELECT doc_id, lang, fp FROM fps WHERE doc_id % 4 != 0
UNION ALL
SELECT doc_id, lang, fp FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fresh)
WHERE rn = 1
"""


def q_stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count at sketch size: four real micro-batches
    (one file per trigger over a 4-file copy of events) each append their HLL
    register table to a ledger; the final union + re-max + estimate EXACTLY
    equals the batch sketch — the mergeability contract from functions/hll.py
    under genuine incremental execution, so this shares the batch HLL oracle
    verbatim. The ledger is the production shape: per-batch register
    deltas land append-only (at most groups × 2^p rows per batch, independent
    of batch row count), and any reader folds them on demand — continuous
    cardinality monitoring without any stateful-streaming state store."""
    from movie_genre_data_pipeline_spark.functions.hll import (
        hll_estimate,
        hll_registers,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sketch_queries import HLL_P

    base = workspace("stream_hll_")
    ledger = f"{base}/ledger"
    ev = load(spark, sf_dir, "events")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        hll_registers(batch_df, "user_id", ["event_type"], p=HLL_P).write.mode(
            "append"
        ).parquet(ledger)

    run_twin(ev.select("event_type", "user_id"), apply_batch, base)

    folded = fold_ledger(
        spark.read.parquet(ledger), ["event_type", "bucket"], ["rho"], "max"
    )
    est = hll_estimate(folded, ["event_type"], p=HLL_P)
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


STREAM_KMV_K = 128


def q_stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second instance of the streaming sketch-ledger pattern (after
    `stream_hll_distinct`): four real micro-batches each append their KMV
    bottom-k sketch of (event_type, user_id) to a ledger; the fold on read
    (distinct ∪ re-bottom-k) EXACTLY equals the batch sketch — every one of
    the global k smallest hashes appears in some batch and is necessarily in
    that batch's bottom-k, so merge loses nothing. Proves mergeability under
    incremental execution is a family property of the sketches
    (functions/{hll,kmv}.py), not an HLL one-off. Ledger state is ≤ groups·k
    rows per batch, independent of batch row count — no state store."""
    from movie_genre_data_pipeline_spark.functions.kmv import HASH_SPACE, kmv_sketch
    from movie_genre_data_pipeline_spark.suite import load

    base = workspace("stream_kmv_")
    ledger = f"{base}/ledger"
    ev = load(spark, sf_dir, "events")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        kmv_sketch(batch_df, "user_id", ["event_type"], k=STREAM_KMV_K).write.mode(
            "append"
        ).parquet(ledger)

    run_twin(ev.select("event_type", "user_id"), apply_batch, base)

    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("h48").asc())
    folded = (
        spark.read.parquet(ledger)
        .distinct()
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= STREAM_KMV_K)
        .drop("__rn")
    )
    agg = folded.groupBy("event_type").agg(
        F.max("h48").alias("h_k"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
    )
    est = F.when(
        F.col("n_kept") < STREAM_KMV_K, F.col("n_kept").cast("double")
    ).otherwise(F.lit(float(STREAM_KMV_K - 1) * HASH_SPACE) / F.col("h_k"))
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact")
    )
    return (
        agg.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_kept",
            "h_k",
            F.round(est, 2).alias("kmv_est"),
            F.round((est - F.col("n_exact")) / F.col("n_exact"), 4).alias("rel_err"),
        )
    )


def _stream_kmv_oracle() -> str:
    k = STREAM_KMV_K
    union_num = float(k - 1) * float(1 << 48)
    return f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12))
           AS BIGINT) AS h48
  FROM events
),
sk AS (
  SELECT event_type, h48 FROM (
    SELECT event_type, h48,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h48 ASC) AS rn
    FROM hashed) t
  WHERE rn <= {k}
),
agg AS (
  SELECT event_type, MAX(h48) AS h_k, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM sk GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
),
est AS (
  SELECT event_type, h_k, n_kept,
         CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE)
              ELSE {union_num!r} / h_k END AS e
  FROM agg
)
SELECT x.event_type, x.n_exact, a.n_kept, a.h_k,
       ROUND(a.e, 2) AS kmv_est,
       ROUND((a.e - x.n_exact) / x.n_exact, 4) AS rel_err
FROM est a JOIN exact x USING (event_type)
"""


def q_stream_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third instance of the streaming sketch-ledger pattern (after
    `stream_hll_distinct` / `stream_kmv_distinct`), covering the last sketch
    family member with additive merge: four real micro-batches each append
    their 200-bin counting histogram of `value` to a ledger; the fold on read
    is cell-wise re-SUM (integer addition — exact, order-free), so the folded
    histogram EXACTLY equals the batch build and the quantile interpolation
    shares the batch oracle verbatim. Ledger state is ≤ groups × bins rows per
    batch, independent of batch row count — continuous latency/size
    percentile monitoring with no state store."""
    from movie_genre_data_pipeline_spark.functions.quantiles import (
        build_histogram,
        histogram_quantiles,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sketch_queries import (
        HISTO_BINS,
        HISTO_HI,
        HISTO_LO,
        HISTO_QS,
    )

    base = workspace("stream_histo_")
    ledger = f"{base}/ledger"
    ev = load(spark, sf_dir, "events")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        build_histogram(
            batch_df, "value", HISTO_LO, HISTO_HI, HISTO_BINS, ["event_type"]
        ).write.mode("append").parquet(ledger)

    run_twin(ev.select("event_type", "value"), apply_batch, base)

    folded = fold_ledger(spark.read.parquet(ledger), ["event_type", "bin"], ["cnt"])
    est = histogram_quantiles(
        folded, HISTO_QS, HISTO_LO, HISTO_HI, HISTO_BINS, ["event_type"]
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


def q_stream_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth streaming sketch ledger — Count-Min under incremental execution:
    four real micro-batches of documents each shingle their own text and
    append their d×w grid delta to a ledger; the fold on read is cell-wise
    re-SUM (like the histogram — CMS is a linear sketch), so the folded grid
    EXACTLY equals the batch build and the heavy-hitter probe shares the batch
    oracle verbatim. EVERY sketch family member now has an incremental path
    proven under its own merge algebra (max / bottom-k / sum / sum). Ledger
    state ≤ d·w rows per batch regardless of batch size."""
    from movie_genre_data_pipeline_spark.functions.cms import build_cms, cms_estimate
    from movie_genre_data_pipeline_spark.functions.dedup import shingle_rows
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sketch_queries import (
        CMS_D,
        CMS_W,
        GRAM_K,
        TOP_N,
    )

    base = workspace("stream_cms_")
    ledger = f"{base}/ledger"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        grams = shingle_rows(batch_df, "doc_id", "text", k=GRAM_K).select(
            F.col("s").alias("gram")
        )
        build_cms(grams, "gram", CMS_W, CMS_D).write.mode("append").parquet(ledger)

    run_twin(d.select("doc_id", "text"), apply_batch, base)

    folded = fold_ledger(
        spark.read.parquet(ledger), ["row_idx", "col_idx"], ["cnt"]
    ).localCheckpoint()
    grams = shingle_rows(d, "doc_id", "text", k=GRAM_K).select(
        F.col("s").alias("gram")
    )
    vocab = grams.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    est = cms_estimate(vocab, "gram", folded, CMS_W, CMS_D)
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


def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dimension maintenance: the customer-tier SCD2 history kept
    current by foreachBatch + scd2_apply_incremental_log — each micro-batch
    appends to the version-event LOG (the bitemporal source of truth), then
    rebuilds ONLY its touched keys from their full log against the persisted
    history (versioned parquet generations, read-previous/write-next, the
    no-Delta equivalent of MERGE's snapshot isolation). Micro-batches here
    arrive in ARBITRARY date order (round-robin file split), which is
    exactly the case where collapsed-history incrementality loses no-op
    restore points — the log-based rebuild is order-independent, so the
    final history EXACTLY equals the batch derivation and this query shares
    merge_scd2's oracle verbatim."""
    from movie_genre_data_pipeline_spark.operators.scd import (
        scd2_apply,
        scd2_apply_incremental_log,
    )
    from movie_genre_data_pipeline_spark.suite import load

    base_dir = workspace("stream_scd2_")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    ups = (
        orders.filter(F.col("o_totalprice") > 350000)
        .groupBy(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderdate").alias("eff_from"),
        )
        .agg(F.max("o_totalprice").alias("amt"))
        .select(
            "c_custkey",
            "eff_from",
            F.when(F.col("amt") > 450000, "PLATINUM")
            .when(F.col("amt") > 400000, "GOLD")
            .otherwise("SILVER")
            .alias("tier"),
        )
    )

    base = cust.select(
        "c_custkey",
        F.lit("1990-01-01").cast("timestamp").alias("eff_from"),
        F.lit("BASE").alias("tier"),
    )
    # generation 0: every customer's BASE version; the log seeds with the
    # same BASE rows (each key's first version event)
    gen = {"n": 0}
    log_dir = f"{base_dir}/log"
    base.write.parquet(log_dir)
    scd2_apply(base, base.limit(0), ["c_custkey"], ["tier"], "eff_from").write.parquet(
        f"{base_dir}/hist_0"
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # 1. the event log is the source of truth — append first
        batch_df.select("c_custkey", "eff_from", "tier").write.mode(
            "append"
        ).parquet(log_dir)
        # 2. rebuild touched keys from their full log; untouched pass through
        prev = spark.read.parquet(f"{base_dir}/hist_{gen['n']}")
        log = spark.read.parquet(log_dir)
        nxt = scd2_apply_incremental_log(
            prev, log, batch_df, ["c_custkey"], ["tier"], "eff_from"
        )
        gen["n"] += 1
        nxt.write.parquet(f"{base_dir}/hist_{gen['n']}")
        # reclaim superseded history generations (no-Delta VACUUM, keep=2)
        from movie_genre_data_pipeline_spark.fsutil import vacuum_generations

        vacuum_generations(base_dir, "hist", keep=2)

    run_twin(ups, apply_batch, base_dir)
    hist = spark.read.parquet(f"{base_dir}/hist_{gen['n']}")
    return hist.select("c_custkey", "tier", "eff_from", "eff_to", "is_current")


def q_stream_gold_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gold refresh: the CDC change feed arrives as micro-batches
    (round-robin file split, so change order is arbitrary) and foreachBatch
    folds each batch's signed contributions into the persisted additive mart
    state (versioned parquet generations — the no-Delta equivalent of MERGE
    snapshot isolation). Delta application is ADDITIVE over integral state,
    so the fold is batch-split- and order-independent and the final mart
    equals the batch rebuild bit-for-bit — this query shares
    gold_genre_revenue_ivm's oracle verbatim. The 100 TB shape: continuous
    gold maintenance priced per-batch at |changes| + |genres| rows."""
    from movie_genre_data_pipeline_spark.operators.cdc import snapshot_diff
    from movie_genre_data_pipeline_spark.plans.gold import (
        GENRE,
        apply_delta,
        build_state,
        finalize,
    )
    from movie_genre_data_pipeline_spark.suite.pipeline_queries import (
        gold_ivm_frames,
    )

    base_dir = workspace("stream_gold_ivm_")
    snap_a, snap_b, genre_dim = gold_ivm_frames(spark, sf_dir)
    changes = snapshot_diff(
        snap_a, snap_b, ["Id"], ["Revenue", "Budget", "RunTime", "Genres_Id"]
    ).filter(F.col("change_type") != "unchanged")

    gen = {"n": 0}
    build_state(GENRE, snap_a, genre_dim).write.parquet(
        f"{base_dir}/state_0"
    )
    dim = genre_dim.localCheckpoint(eager=True)  # reused every micro-batch

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from movie_genre_data_pipeline_spark.fsutil import vacuum_generations

        prev = spark.read.parquet(f"{base_dir}/state_{gen['n']}")
        nxt = apply_delta(GENRE, prev, batch_df, dim)
        gen["n"] += 1
        nxt.write.parquet(f"{base_dir}/state_{gen['n']}")
        # reclaim superseded generations; keep=2 preserves read-prev/write-next
        vacuum_generations(base_dir, "state", keep=2)

    run_twin(changes, apply_batch, base_dir, 3)
    state = spark.read.parquet(f"{base_dir}/state_{gen['n']}")
    return finalize(GENRE, state)


def q_stream_dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: the NEW snapshot arrives as micro-batches and
    each batch folds its per-bin counts into a persisted bin ledger (counts
    are additive — the same mergeability argument as the sketch ledgers).
    When the stream drains, the report compares the folded new-side histogram
    against the static reference snapshot — and equals the batch drift report
    bit-for-bit, sharing dq_drift_report's oracle verbatim. The production
    shape: continuous distribution monitoring priced per batch at one
    n_bins-key aggregate."""
    from movie_genre_data_pipeline_spark.operators.quality import (
        bin_counts,
        drift_from_counts,
    )
    from movie_genre_data_pipeline_spark.suite.pipeline_queries import (
        gold_ivm_frames,
    )

    base_dir = workspace("stream_dq_drift_")
    counts_dir = f"{base_dir}/bin_counts"
    snap_a, snap_b, _ = gold_ivm_frames(spark, sf_dir)

    LO, WIDTH, NBINS = 0.0, 50_000.0, 12

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        bin_counts(batch_df, "Revenue", LO, WIDTH, NBINS, "n").write.mode(
            "append"
        ).parquet(counts_dir)

    run_twin(snap_b.select("Revenue"), fold_batch, base_dir, 3)

    # fold = per-bin re-sum of the appended deltas; the report core consumes
    # the folded count ledger directly — counts are additive, so stream ==
    # batch by construction (no row reconstruction, ledger stays n_bins-sized)
    folded = (
        spark.read.parquet(counts_dir)
        .groupBy("bin_idx")
        .agg(F.sum("n").alias("n_new"))
    )
    return drift_from_counts(
        bin_counts(snap_a, "Revenue", LO, WIDTH, NBINS, "n_old"), folded
    )


def q_stream_ops_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming provenance: the dataset fingerprint maintained per
    micro-batch — each batch contributes (batch_rows, batch_hash mod p) to a
    ledger, and the fold is modular addition, so the final identity equals
    the one-shot batch fingerprint regardless of batch split (shares
    ops_dataset_fingerprint's oracle verbatim). The shape for continuously
    ingested corpora: the fingerprint is always current, never recomputed
    over history."""
    from movie_genre_data_pipeline_spark.operators.observe import (
        dataset_fingerprint,
    )

    P = 2_147_483_647
    base_dir = workspace("stream_fp_")
    ledger = f"{base_dir}/ledger"
    from movie_genre_data_pipeline_spark.suite import load

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("k1"),
        F.col("l_linenumber").cast("string").alias("k2"),
        F.col("l_suppkey").cast("string").alias("k3"),
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        dataset_fingerprint(batch_df, ["k1", "k2", "k3"]).write.mode(
            "append"
        ).parquet(ledger)

    run_twin(li, fold_batch, base_dir)
    return (
        spark.read.parquet(ledger)
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            (F.sum("content_hash") % P).cast("bigint").alias("content_hash"),
        )
    )


def q_stream_cdc_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous JOIN-view maintenance: the two-sided change feed
    (fact upserts / fact deletes / dim updates in ONE typed stream, split
    across micro-batches in arbitrary order) folds through
    operators/cdc.py:maintain_join_view per batch, with the dimension state
    folded first so later fact deltas re-derive against the dim as-of their
    batch. Each change key occurs once in the feed, so the fold is
    batch-split-independent: a fact row reinserted in batch i still receives
    batch j>i's dim update via the survivors path, and a dim update landing
    first is already in the dim state when its fact row reinserts. The final
    view equals the one-shot batch maintenance row-for-row — this query
    shares cdc_join_ivm's from-scratch rebuild oracle verbatim. 100 TB shape:
    per-batch cost is broadcast-delta-sized against the view, never a fact
    rescan."""
    from movie_genre_data_pipeline_spark.fsutil import vacuum_generations
    from movie_genre_data_pipeline_spark.operators.cdc import maintain_join_view
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.cdc_queries import (
        JV_DELETE_MOD,
        JV_MOVE_MOD,
        JV_REPRICE_MOD,
    )

    base_dir = workspace("stream_cdc_join_ivm_")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    facts = orders.select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    dim = customer.select("c_custkey", "c_mktsegment")
    view0 = facts.join(dim, "c_custkey").select(
        "o_orderkey", "c_custkey", "price_cents", "c_mktsegment"
    )
    ups = (
        facts.filter(
            (F.col("o_orderkey") % JV_REPRICE_MOD == 0)
            & (F.col("o_orderkey") % JV_DELETE_MOD != 0)
        )
        .withColumn("price_cents", F.col("price_cents") * 2)
        .select(
            F.lit("fact_upsert").alias("kind"),
            "o_orderkey",
            "c_custkey",
            "price_cents",
            F.lit(None).cast("string").alias("c_mktsegment"),
        )
    )
    dels = facts.filter(F.col("o_orderkey") % JV_DELETE_MOD == 0).select(
        F.lit("fact_delete").alias("kind"),
        "o_orderkey",
        F.lit(None).cast("bigint").alias("c_custkey"),
        F.lit(None).cast("bigint").alias("price_cents"),
        F.lit(None).cast("string").alias("c_mktsegment"),
    )
    dimu = dim.filter(F.col("c_custkey") % JV_MOVE_MOD == 0).select(
        F.lit("dim_update").alias("kind"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        "c_custkey",
        F.lit(None).cast("bigint").alias("price_cents"),
        F.lit("REASSIGNED").alias("c_mktsegment"),
    )

    gen = {"n": 0}
    view0.write.parquet(f"{base_dir}/view_0")
    dim.write.parquet(f"{base_dir}/dim_0")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev_view = spark.read.parquet(f"{base_dir}/view_{gen['n']}")
        prev_dim = spark.read.parquet(f"{base_dir}/dim_{gen['n']}")
        b_ups = batch_df.filter(F.col("kind") == "fact_upsert").select(
            "o_orderkey", "c_custkey", "price_cents"
        )
        b_dels = batch_df.filter(F.col("kind") == "fact_delete").select(
            "o_orderkey"
        )
        b_dimu = batch_df.filter(F.col("kind") == "dim_update").select(
            "c_custkey", "c_mktsegment"
        )
        nxt_view = maintain_join_view(
            prev_view, "o_orderkey", "c_custkey", b_ups, b_dels, prev_dim, b_dimu
        )
        renamed = b_dimu.select(
            "c_custkey", F.col("c_mktsegment").alias("__new_seg")
        )
        nxt_dim = prev_dim.join(F.broadcast(renamed), "c_custkey", "left").select(
            "c_custkey",
            F.coalesce(F.col("__new_seg"), F.col("c_mktsegment")).alias(
                "c_mktsegment"
            ),
        )
        gen["n"] += 1
        nxt_view.write.parquet(f"{base_dir}/view_{gen['n']}")
        nxt_dim.write.parquet(f"{base_dir}/dim_{gen['n']}")
        vacuum_generations(base_dir, "view", keep=2)
        vacuum_generations(base_dir, "dim", keep=2)

    run_twin(ups.unionByName(dels).unionByName(dimu), apply_batch, base_dir, 3)
    return spark.read.parquet(f"{base_dir}/view_{gen['n']}")


QUERIES: dict[str, QuerySpec] = {
    "stream_tumbling_window": QuerySpec(q_stream_tumbling, Q_STREAM_TUMBLING_ORACLE),
    "stream_scd2_incremental": QuerySpec(q_stream_scd2, Q_MERGE_SCD2_ORACLE),
    "stream_gold_ivm": QuerySpec(q_stream_gold_ivm, Q_GOLD_GENRE_REVENUE_IVM_ORACLE),
    "stream_cdc_join_ivm": QuerySpec(q_stream_cdc_join_ivm, Q_CDC_JOIN_IVM_ORACLE),
    "stream_dq_drift": QuerySpec(q_stream_dq_drift, Q_DQ_DRIFT_REPORT_ORACLE),
    "stream_ops_fingerprint": QuerySpec(
        q_stream_ops_fingerprint, Q_OPS_DATASET_FINGERPRINT_ORACLE
    ),
    "stream_cms_heavy": QuerySpec(q_stream_cms_heavy, Q_CMS_HEAVY_HITTERS_ORACLE),
    "stream_histogram_quantiles": QuerySpec(
        q_stream_histogram_quantiles, Q_HISTOGRAM_QUANTILES_ORACLE
    ),
    "stream_kmv_distinct": QuerySpec(q_stream_kmv_distinct, _stream_kmv_oracle()),
    "stream_hll_distinct": QuerySpec(q_stream_hll_distinct, _hll_oracle()),
    "stream_sliding_window": QuerySpec(q_stream_sliding, Q_STREAM_SLIDING_ORACLE),
    "stream_sessionize": QuerySpec(q_stream_sessionize, Q_STREAM_SESSIONIZE_ORACLE),
    "stream_watermarked_append": QuerySpec(
        q_stream_watermarked, Q_STREAM_WATERMARKED_ORACLE
    ),
    "stream_stateful_user_stats": QuerySpec(
        q_stream_stateful_user_stats, Q_STREAM_STATEFUL_ORACLE
    ),
    "stream_static_join": QuerySpec(q_stream_static_join, Q_STREAM_STATIC_JOIN_ORACLE),
    "stream_foreachbatch_merge": QuerySpec(
        q_stream_foreachbatch_merge, Q_STREAM_FOREACHBATCH_MERGE_ORACLE
    ),
    "stream_incremental_dedup": QuerySpec(
        q_stream_incremental_dedup, Q_STREAM_INCREMENTAL_DEDUP_ORACLE
    ),
    "stream_stream_join": QuerySpec(q_stream_stream_join, Q_STREAM_STREAM_JOIN_ORACLE),
    "stream_dedup": QuerySpec(q_stream_dedup, Q_STREAM_DEDUP_ORACLE),
}


def q_stream_text_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous corpus profiling: four real micro-batches of documents each
    append their (source, term) count DELTAS to a ledger; the reader folds the
    ledger by re-sum (plain-count mergeability — the simplest member of the
    sketch-ledger family) and scores keyness over the folded counts. Additive
    merge makes the fold batch-split- and order-independent, so this shares
    the batch keyness oracle verbatim. Ledger state is vocabulary × sources
    per batch — independent of batch row count."""
    from movie_genre_data_pipeline_spark.functions.text import keyness_top_terms
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        KEYNESS_MIN_COUNT,
        KEYNESS_TOP_K,
        source_term_counts,
    )

    base = workspace("stream_keyness_")
    ledger = f"{base}/ledger"
    docs = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        source_term_counts(batch_df).write.mode("append").parquet(ledger)

    run_twin(docs.select("source", "text"), apply_batch, base)

    folded = fold_ledger(spark.read.parquet(ledger), ["source", "term"], ["o"])
    return keyness_top_terms(
        folded, top_k=KEYNESS_TOP_K, min_count=KEYNESS_MIN_COUNT
    )


QUERIES["stream_text_keyness"] = QuerySpec(
    q_stream_text_keyness, Q_SOURCE_KEYNESS_ORACLE
)


def q_stream_mine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous market-basket mining. The subtlety: a basket's items can
    SPAN micro-batches, so per-batch pair generation would miss cross-batch
    pairs. The correct incremental state is the PRESENCE SET — each batch
    enriches brands via the static dim (stream-static broadcast join), reduces
    to distinct (basket, item), and appends only rows new to the ledger
    (anti-join, the stream_incremental_dedup discipline). Pair generation then
    runs over the folded presence ledger on read — so the result is exactly
    the batch answer regardless of how rows were split into batches, and this
    shares the batch oracle verbatim. Ledger state is |distinct(basket, item)|
    — the same append-only shape as the dedup fingerprint ledger."""
    from movie_genre_data_pipeline_spark.functions.mining import pair_supports
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.mining_queries import (
        PAIR_MIN_SUPPORT,
    )

    base = workspace("stream_mine_")
    ledger = f"{base}/ledger"
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        items = (
            batch_df.join(
                F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
            )
            .select(
                F.col("l_orderkey").alias("basket"),
                F.col("p_brand").alias("item"),
            )
            .distinct()
        )
        if os.path.exists(ledger):
            seen = spark.read.parquet(ledger)
            items = items.join(seen, ["basket", "item"], "left_anti")
        items.write.mode("append").parquet(ledger)

    run_twin(li.select("l_orderkey", "l_partkey"), apply_batch, base)

    folded = spark.read.parquet(ledger)
    pairs = pair_supports(folded)
    return pairs.filter(F.col("pair_support") >= PAIR_MIN_SUPPORT).select(
        F.col("item_a").alias("brand_a"),
        F.col("item_b").alias("brand_b"),
        "pair_support",
    )


QUERIES["stream_mine_pairs"] = QuerySpec(q_stream_mine_pairs, Q_MINE_BRAND_PAIRS_ORACLE)


def q_stream_ab_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous experiment monitoring: each micro-batch appends its per-user
    purchase-count DELTAS to a ledger; the reader folds by re-sum and runs the
    Welch-t scorecard on the fold. Arms are assigned AFTER folding (a pure
    function of user_id), so batching cannot perturb assignment, and additive
    counts make the fold batch-split- and order-independent — the always-
    current experiment readout shares the batch oracle verbatim. Ledger state
    is one row per (batch, active user)."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        ab_report_from_user_counts,
    )

    base = workspace("stream_ab_")
    ledger = f"{base}/ledger"
    ev = load(spark, sf_dir, "events")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.groupBy("user_id").agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("x")
        ).write.mode("append").parquet(ledger)

    run_twin(ev.select("user_id", "event_type"), apply_batch, base)

    folded = fold_ledger(spark.read.parquet(ledger), ["user_id"], ["x"])
    return ab_report_from_user_counts(folded)


QUERIES["stream_ab_report"] = QuerySpec(q_stream_ab_report, _ab_oracle())

