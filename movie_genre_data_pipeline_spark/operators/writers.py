"""Batch writers (SURVEY.md §2.2 W1-W3).

Reference parity: `batch_writer` (operations/operations.py:36-44) drops excluded
columns then returns a configured partitioned Delta writer; here the format is
Parquet (no delta-spark in this environment) and the default mode stays "append".

Scale notes:
- Partition column choice is a first-class knob: the reference partitions genres/
  language by `Id` (Batch_notebook/main.py:34-42) — one directory per key value,
  an anti-pattern at scale (millions of tiny dirs/files). We therefore make
  partitioning OPT-IN per call and callers of high-cardinality dims just don't.
- `mode="overwrite"` + spark.sql.sources.partitionOverwriteMode=dynamic (set in
  session.py) rewrites only the partitions present in the frame — idempotent
  re-runs without the reference's rm -r (Batch_notebook/rawToBronze.py:7).
- File layout of a one-shot partitioned write: a plain `partitionBy` writes
  one file per (task, value), so `batch_writer` first applies Spark's
  REBALANCE hint on the partition columns. Under AQE (on in session.py) each
  value then lands in one file, or in advisory-sized files when it is large;
  without AQE the hint is a hash repartition, one file and one task per
  value. Batch bronze is written this way. Tables that grow by appends are
  sized by `fsutil` (its module doc).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.readwriter import DataFrameWriter
from pyspark.sql.types import StructType


def batch_writer(
    dataframe: DataFrame,
    partition_column: str | Sequence[str] | None = None,
    exclude_columns: Sequence[str] = (),
    mode: str = "append",
    fmt: str = "parquet",
) -> DataFrameWriter:
    """Configured writer (reference: operations/operations.py:36-44). A
    partitioned write is rebalanced on its partition columns first, so each
    value is written as one file, or as advisory-sized files when it is large
    (module "Scale notes")."""
    dataframe = dataframe.drop(*exclude_columns)
    if not partition_column:
        return dataframe.write.format(fmt).mode(mode)
    cols = [partition_column] if isinstance(partition_column, str) else list(partition_column)
    return (
        dataframe.hint("rebalance", *cols)
        .write.format(fmt)
        .mode(mode)
        .partitionBy(*cols)
    )


def write_partitioned(
    dataframe: DataFrame,
    path: str,
    partition_column: str | Sequence[str] | None = None,
    exclude_columns: Sequence[str] = (),
    mode: str = "append",
) -> None:
    """W1/W3: partitioned Parquet write to a layer path."""
    batch_writer(dataframe, partition_column, exclude_columns, mode).save(path)


def write_bucketed_table(
    dataframe: DataFrame,
    table: str,
    bucket_columns: Sequence[str],
    n_buckets: int,
    sort_columns: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Hive-bucketed catalog table: co-locates rows by hash(bucket_columns) at
    WRITE time, so later equi-joins/aggregations on those columns need NO
    exchange — the 100 TB play for fact⋈fact joins repeated across a pipeline
    (pay one shuffle at ingest, reuse the layout forever). `sort_columns` adds
    within-bucket ordering (sort-merge join without the sort).

    Bucketing requires the catalog (`saveAsTable`) — plain `.save(path)` writes
    no bucket metadata. Use a database with an explicit LOCATION to control the
    physical path.
    """
    writer = (
        dataframe.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, *bucket_columns)
    )
    if sort_columns:
        writer = writer.sortBy(*sort_columns)
    writer.saveAsTable(table)


def register_external_table(
    spark,
    table: str,
    path: str,
    schema: StructType,
    database: str | None = None,
    fmt: str = "parquet",
) -> str:
    """W6/W7: external-location table DDL — the reference registers every
    layer it writes as a catalog table over its storage path
    (Batch_notebook/bronzeToSilver.py:145-157 saveAsTable at an abfss
    location; config/configuration.py:23-24 CREATE DATABASE). Registration is
    METADATA-ONLY: the layer parquet already on disk becomes queryable as
    `spark.table("db.table")` / SQL with zero data movement. The caller
    passes the schema it just wrote, so the DDL declares it and Spark runs
    no footer-inference job. Re-registering after each refresh keeps the
    catalog pointing at the current generation. Returns the qualified table
    name."""
    qualified = table
    if database:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
        qualified = f"{database}.{table}"
    spark.sql(f"DROP TABLE IF EXISTS {qualified}")
    spark.sql(
        f"CREATE TABLE {qualified} ({schema.toDDL()}) USING {fmt} LOCATION '{path}'"
    )
    return qualified


def write_clustered(
    dataframe: DataFrame,
    path: str,
    cluster_column: str,
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-clustered Parquet write: `repartitionByRange` assigns each output
    file a DISJOINT value range of `cluster_column` (sampled range bounds →
    one range-partitioning shuffle), and `sortWithinPartitions` orders rows
    inside each file so row groups carry tight min/max stats.

    This is the single-key analogue of Delta's OPTIMIZE ZORDER: a later range
    or point predicate on the cluster column skips entire files (footer min/max
    never overlaps), and row-group pruning inside surviving files cuts further.
    At 100 TB, clustering the fact table by its hottest filter column turns
    full scans into touched-range scans — complementary to hive partitioning
    (coarse, low-cardinality dirs) and hash bucketing (join co-location):
    clustering serves RANGE selectivity on high-cardinality columns.
    """
    (
        dataframe.repartitionByRange(n_files, cluster_column)
        .sortWithinPartitions(cluster_column)
        .write.format("parquet")
        .mode(mode)
        .save(path)
    )
