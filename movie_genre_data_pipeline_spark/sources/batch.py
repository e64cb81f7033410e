"""Batch sources (SURVEY.md §2.1 S1/S2/S5).

Scale notes:
- JSON schema inference is an extra full read of the input; at 100 TB you pass an
  explicit schema (or freeze one from a sample) — `freeze_schema` exists for that.
- Parquet scans get predicate pushdown + column pruning from Catalyst for free as
  long as callers express filters/projections on the DataFrame, not in Python.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from movie_genre_data_pipeline_spark.fsutil import table_files


def read_multiline_json(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Multiline-JSON directory scan (reference: Batch_notebook/operations/operations.py:20).

    With `schema=None` Spark infers (eager read — fine for small raw zones, not for
    100 TB; freeze a schema first).
    """
    reader = spark.read.option("multiline", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str, coerce_nanos: bool = True) -> DataFrame:
    """Partitioned-Parquet scan — our stand-in for the reference's Delta scans.

    Timestamp normalization (the one place foreign parquet bites, VERDICT r03 #1):
    every physical encoding a producer may emit lands as a plain session-tz
    TIMESTAMP column, so downstream epoch math / windowing works uniformly:

    - INT64 TIMESTAMP(NANOS): Spark cannot read natively (PARQUET_TYPE_ILLEGAL);
      read as int64 via `spark.sql.legacy.parquet.nanosAsLong` and truncate to
      microseconds (`ts div 1000` — integer division; double math would lose
      precision at 2^63 nanos). DuckDB and pyarrow truncate identically.
    - INT64 micros/millis with isAdjustedToUTC=false: Spark 4 infers TIMESTAMP_NTZ
      (`spark.sql.parquet.inferTimestampNTZ.enabled` defaults true), which forbids
      numeric casts and broke 6 queries in round 3. We disable the inference so
      these read as TIMESTAMP; with the session pinned UTC (session.py /
      suite.load) the wall-clock values are identical to the tz-naive reading.
    - INT96 (legacy Spark/Hive) and UTC-adjusted INT64: native TIMESTAMP already.

    Footer inspection reads one file's metadata only.

    Session-wide side effects (deliberate, ADVICE r01): both confs stay set for
    the session. They CANNOT be save/restored around the read — the returned
    DataFrame is lazy and the parquet reader re-checks conf at EXECUTION time, so
    restoring would make a later `.collect()` fail (nanos) or flip types (NTZ).
    Route reads through this helper and types are stable.
    """
    if not coerce_nanos:
        return spark.read.parquet(path)
    # NTZ axis: must be set BEFORE the read — inference happens at relation
    # creation. Harmless for files without tz-naive timestamp columns.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    nanos_cols = _nanos_timestamp_columns(path)
    if not nanos_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as timestamp[ns] in the parquet footer (first file wins —
    uniform schema assumed, as Spark itself assumes without mergeSchema)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return []
    p = Path(path)
    if p.is_dir():
        candidates = table_files(p)
        if not candidates:
            return []
        p = candidates[0]
    try:
        pf = pq.ParquetFile(p)
        arrow_schema = pf.schema_arrow
        phys = {
            pf.schema.column(i).name: pf.schema.column(i).physical_type
            for i in range(len(pf.schema))
        }
    except Exception:
        return []
    # INT96 (Spark's legacy timestamp encoding) also surfaces as timestamp[ns] in
    # arrow, but Spark reads INT96 natively — only true INT64-NANOS columns need
    # the long round-trip.
    return [
        f.name
        for f in arrow_schema
        if str(f.type) == "timestamp[ns]" and phys.get(f.name) == "INT64"
    ]


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """Catalog table scan (reference: operations/operations.py:49 `spark.read.table`)."""
    return spark.read.table(name)


def freeze_schema(df: DataFrame) -> StructType:
    """Infer-once/freeze schema round-trip for streaming sources
    (reference: Autoloader_notebook/Raw_to_Bronze.py:21-23
    `StructType.fromJson(json.loads(tmp.schema.json()))`): streaming file sources
    require a declared schema, so the reference infers from a batch read then
    round-trips through JSON. Identical mechanism here.
    """
    return StructType.fromJson(json.loads(df.schema.json()))


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    header: bool = True,
) -> DataFrame:
    """CSV batch scan with a DECLARED schema — never inference (inference reads
    the data twice and guesses types per-run; at 100 TB both are disqualifying).
    The reference is JSON-only (SURVEY.md §2.1 S1); CSV is the interchange
    format an engine-switcher will bring."""
    return (
        spark.read.format("csv")
        .option("header", str(header).lower())
        .schema(schema)
        .load(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSON-Lines source with a DECLARED schema (one JSON object per line — the
    de-facto interchange format for LLM training corpora). Schema declaration
    skips the eager inference scan (the one place Spark's laziness breaks, see
    read_multiline_json) and pins column types against drift across shards; at
    100 TB an inference pass over the corpus is a full extra read."""
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (built into Spark; columnar, predicate-pushdown-capable like
    Parquet). Included for format breadth — warehouse interchange commonly
    lands ORC from Hive/Trino ecosystems."""
    return spark.read.orc(path)
