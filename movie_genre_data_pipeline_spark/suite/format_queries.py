"""Source/sink format round-trips (beyond Parquet): JSONL — the de-facto LLM
training-corpus interchange format — and ORC. Each query writes from the parquet
fixture, reads back through the declared-schema source, and aggregates; the
oracle computes the same aggregate straight from parquet, so a hash match proves
BOTH the sink and the source are faithful (same pattern as `csv_roundtrip`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.suite import QuerySpec, load
from movie_genre_data_pipeline_spark.suite._twin import workspace


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.sources.batch import read_jsonl

    d = load(spark, sf_dir, "documents")
    path = f"{workspace('mgdp_jsonl_')}/documents_jsonl"
    d.write.format("json").mode("overwrite").save(path)
    back = read_jsonl(
        spark,
        path,
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.md5(
            F.concat_ws("|", F.sort_array(F.collect_list(F.md5("text"))))
        ).alias("corpus_digest"),
    )


Q_JSONL_ROUNDTRIP_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       md5(array_to_string(list_sort(list(md5(text))), '|')) AS corpus_digest
FROM documents GROUP BY lang
"""


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.sources.batch import read_orc

    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    path = f"{workspace('mgdp_orc_')}/customer_orc"
    c.write.format("orc").mode("overwrite").save(path)
    back = read_orc(spark, path)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


Q_ORC_ROUNDTRIP_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(c_acctbal), 2) AS total_bal,
       CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations
FROM customer GROUP BY c_mktsegment
"""


PYSOURCE_N = 20000
PYSOURCE_USERS = 500


def q_pysource_synthetic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource read (Spark 4 API): register the
    `synthetic_events` connector, read 20k LCG-generated rows across 8
    parallel InputPartitions, aggregate per event type. The DuckDB oracle
    regenerates the identical dataset from generate_series + the same integer
    arithmetic — a custom-connector read under the full correctness gate."""
    from movie_genre_data_pipeline_spark.sources.pydatasource import register

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", PYSOURCE_N)
        .option("n_users", PYSOURCE_USERS)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.max("event_id").alias("last_event_id"),
    )


def _pysource_oracle() -> str:
    from movie_genre_data_pipeline_spark.sources.pydatasource import (
        EPOCH_START,
        EVENT_TYPES,
        LCG_A,
        LCG_C,
        LCG_M,
    )

    type_case = " ".join(
        f"WHEN {i} THEN '{t}'" for i, t in enumerate(EVENT_TYPES)
    )
    return f"""
WITH g AS (SELECT unnest(generate_series(0, {PYSOURCE_N - 1})) AS i),
h1 AS (SELECT i, ({LCG_A} * i + {LCG_C}) % {LCG_M} AS h1 FROM g),
h2 AS (SELECT i, h1, ({LCG_A} * h1 + {LCG_C}) % {LCG_M} AS h2 FROM h1),
rows_ AS (
  SELECT i AS event_id,
         make_timestamp(({EPOCH_START} + i) * 1000000) AS ts,
         h1 % {PYSOURCE_USERS} AS user_id,
         CASE h2 % {len(EVENT_TYPES)} {type_case} END AS event_type,
         ((({LCG_A} * h2 + {LCG_C}) % {LCG_M}) % 10000) / 100.0 AS value
  FROM h2
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(SUM(value), 2) AS total_value,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       CAST(MAX(event_id) AS BIGINT) AS last_event_id
FROM rows_ GROUP BY event_type
"""


# -- bulk connector throughput (r5) ---------------------------------------------------
# 1M rows through the Arrow-batch read path (read() yields pyarrow.RecordBatch,
# sources/pydatasource.py) — the volume tier where per-row tuple yielding was
# the bottleneck. Money math in exact cents (value*100 is integral by
# construction) so a million-term sum cannot pick up accumulation-order noise.
PYSOURCE_BULK_N = 1_000_000
PYSOURCE_BULK_USERS = 5000


def q_pysource_bulk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.sources.pydatasource import register

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", PYSOURCE_BULK_N)
        .option("n_users", PYSOURCE_BULK_USERS)
        .option("partitions", 32)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("total_cents"),
        F.max("event_id").alias("last_event_id"),
    )


def _pysource_bulk_oracle() -> str:
    from movie_genre_data_pipeline_spark.sources.pydatasource import (
        EVENT_TYPES,
        LCG_A,
        LCG_C,
        LCG_M,
    )

    type_case = " ".join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(EVENT_TYPES))
    return f"""
WITH g AS (SELECT unnest(generate_series(0, {PYSOURCE_BULK_N - 1})) AS i),
h1 AS (SELECT i, ({LCG_A} * i + {LCG_C}) % {LCG_M} AS h1 FROM g),
h2 AS (SELECT i, h1, ({LCG_A} * h1 + {LCG_C}) % {LCG_M} AS h2 FROM h1),
rows_ AS (
  SELECT i AS event_id,
         h1 % {PYSOURCE_BULK_USERS} AS user_id,
         CASE h2 % {len(EVENT_TYPES)} {type_case} END AS event_type,
         (({LCG_A} * h2 + {LCG_C}) % {LCG_M}) % 10000 AS cents
  FROM h2
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(MAX(event_id) AS BIGINT) AS last_event_id
FROM rows_ GROUP BY event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "jsonl_roundtrip": QuerySpec(q_jsonl_roundtrip, Q_JSONL_ROUNDTRIP_ORACLE),
    "orc_roundtrip": QuerySpec(q_orc_roundtrip, Q_ORC_ROUNDTRIP_ORACLE),
    "pysource_synthetic_events": QuerySpec(
        q_pysource_synthetic_events, _pysource_oracle()
    ),
    "pysource_bulk_scan": QuerySpec(q_pysource_bulk_scan, _pysource_bulk_oracle()),
}


# -- custom sink: jsonl_ledger writer with two-phase commit (r5) ------------------------
def q_pysource_jsonl_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITER half of the Python DataSource API (the reader half is
    pysource_synthetic_events/bulk_scan): events written through the
    jsonl_ledger sink — per-partition shards + WriterCommitMessages + a
    driver-published manifest (the Delta/Iceberg visibility rule over plain
    files) — then read back MANIFEST-RESOLVED and aggregated. A stray
    uncommitted shard is planted before the read to prove atomic visibility:
    it must not affect the committed aggregate, which the direct-over-events
    oracle pins exactly."""
    import os

    from movie_genre_data_pipeline_spark.sources.pydatasource import (
        read_ledger,
        register_ledger,
    )
    from movie_genre_data_pipeline_spark.suite import load

    register_ledger(spark)
    path = os.path.join(workspace("jsonl_ledger_"), "events")
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.format("jsonl_ledger").option("path", path).mode("append").save()
    # orphan shard from a "failed" concurrent writer: not in the manifest,
    # must stay invisible to the manifest-resolved read
    with open(os.path.join(path, "part-orphan.jsonl"), "w") as f:
        f.write('{"event_id": -1, "user_id": -1, "event_type": "error", "value": 1e9}\n')
    back = read_ledger(
        spark, path,
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


Q_PYSOURCE_JSONL_COMMIT_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY event_type
"""


QUERIES["pysource_jsonl_commit"] = QuerySpec(
    q_pysource_jsonl_commit, Q_PYSOURCE_JSONL_COMMIT_ORACLE
)


# -- streaming Python DataSource: offset-based micro-batches (r5) -----------------------
STREAM_SRC_ROWS = 1000
STREAM_SRC_BATCH = 250


def q_pysource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD connector surface (after batch read and two-phase write): a
    SimpleDataSourceStreamReader whose offsets are row indices — the
    queue/CDC connector shape, where progress is data positions, not files.
    Four real micro-batches (rows_per_batch=250 of max_rows=1000) land in a
    parquet ledger via foreachBatch; offsets make each range exactly-once and
    `readBetweenOffsets` replayable, so the final aggregate equals the pure
    LCG derivation the oracle computes from generate_series."""
    import time

    from movie_genre_data_pipeline_spark.sources.pydatasource import (
        STREAM_FORMAT_NAME,
        register_stream,
    )

    register_stream(spark)
    out = workspace("pysource_stream_") + "/rows"
    stream = (
        spark.readStream.format(STREAM_FORMAT_NAME)
        .option("max_rows", STREAM_SRC_ROWS)
        .option("rows_per_batch", STREAM_SRC_BATCH)
        .load()
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    try:
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= STREAM_SRC_ROWS:
                    break
            except Exception:
                pass  # first batch not landed yet
            time.sleep(0.5)
    finally:
        q.stop()
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


def _pysource_stream_oracle() -> str:
    from movie_genre_data_pipeline_spark.sources.pydatasource import (
        EVENT_TYPES,
        LCG_A,
        LCG_C,
        LCG_M,
    )

    types_list = ", ".join(f"'{t}'" for t in EVENT_TYPES)
    return f"""
WITH idx AS (SELECT unnest(generate_series(0, {STREAM_SRC_ROWS - 1})) AS i),
h1 AS (SELECT i, ({LCG_A} * i + {LCG_C}) % {LCG_M} AS h1 FROM idx),
rows_ AS (
  SELECT i AS event_id,
         h1 % 500 AS user_id,
         [{types_list}][h1 % {len(EVENT_TYPES)} + 1] AS event_type,
         CAST(({LCG_A} * h1 + {LCG_C}) % {LCG_M} % 10000 AS DOUBLE) AS cents
  FROM h1
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM rows_ GROUP BY event_type
"""


QUERIES["pysource_stream"] = QuerySpec(q_pysource_stream, _pysource_stream_oracle())


def q_pysource_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector-to-connector capstone: the offset-based Python stream SOURCE
    feeding the jsonl_ledger Python stream SINK — all four Python DataSource
    surfaces (batch read, batch write, stream read, stream write) now run
    under the correctness gate. The sink's per-epoch manifest commit gives
    exactly-once visibility (a re-committed batchId replaces its shard set);
    the manifest-resolved read-back must equal the pure LCG derivation."""
    import os
    import time

    from movie_genre_data_pipeline_spark.sources.pydatasource import (
        STREAM_FORMAT_NAME,
        read_ledger,
        register_ledger,
        register_stream,
    )

    register_stream(spark)
    register_ledger(spark)
    base = workspace("pysource_ss_")
    path, cp = f"{base}/ledger", f"{base}/cp"
    stream = (
        spark.readStream.format(STREAM_FORMAT_NAME)
        .option("max_rows", STREAM_SRC_ROWS)
        .option("rows_per_batch", STREAM_SRC_BATCH)
        .load()
    )
    q = (
        stream.writeStream.format("jsonl_ledger")
        .option("path", path)
        .option("checkpointLocation", cp)
        .trigger(processingTime="0 seconds")
        .start()
    )
    schema = "event_id bigint, user_id bigint, event_type string, cents double"
    deadline = time.time() + 120
    try:
        while time.time() < deadline:
            try:
                if read_ledger(spark, path, schema).count() >= STREAM_SRC_ROWS:
                    break
            except Exception:
                pass  # manifest not published yet
            time.sleep(0.5)
    finally:
        q.stop()
    back = read_ledger(spark, path, schema)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


QUERIES["pysource_stream_sink"] = QuerySpec(
    q_pysource_stream_sink, _pysource_stream_oracle()
)


# -- schema evolution: mergeSchema over generationally-widened parquet (r5) -------------
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse schema-widening reality: generation 1 lands orders with
    3 columns, generation 2 appends the same table WIDENED by a priority
    column. mergeSchema reconciles the footers (schema union — per-file
    footers only, no data rewrite) and v1 rows read back with NULL backfill
    in the new column. The aggregate proves both generations' rows survive
    with the right nullability split."""

    from movie_genre_data_pipeline_spark.suite import load

    out = workspace("schema_evo_") + "/orders"
    orders = load(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    v1.write.mode("append").parquet(out)
    v2.write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.groupBy(
        F.col("o_orderpriority").isNull().alias("is_gen1"),
        "o_orderstatus",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


Q_SCHEMA_EVOLUTION_ORACLE = """
SELECT (o_orderkey % 2 = 0) AS is_gen1, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders GROUP BY 1, 2
"""


QUERIES["schema_evolution"] = QuerySpec(q_schema_evolution, Q_SCHEMA_EVOLUTION_ORACLE)
