"""Small-file compaction — the maintenance pass for Parquet tables that did not
grow through `fsutil.append_parquet`.

The reference's Autoloader variant appends one file set per Trigger.Once run
(reference: Autoloader_notebook/Raw_to_Bronze.py:62-70); Delta's OPTIMIZE and
auto-compaction keep those files large on Databricks, but on OSS Parquet the
small-file problem is ours to solve: a 100 TB table fed by thousands of
micro-batches or many writers degrades into millions of KB-scale files, and
scan cost becomes dominated by file-open overhead instead of bytes.

`compact_parquet_dir` is the append merge with no arrival
(`fsutil.compact_open_files`). In every partition value holding two or more
open files — data files below half of `spark.sql.files.maxPartitionBytes` —
those files are merged by the same staged write and swap an append uses, cut
by their on-disk bytes. Closed files never move, in compaction just as in
appends, so a value made only of closed files is not rewritten however many
it holds. Afterwards every value holds at most one open file, the invariant
appends keep. There is no target parameter: like every staged write in
`fsutil`, the files aim at Spark's read split.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from movie_genre_data_pipeline_spark import fsutil


def dir_parquet_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a Parquet directory, partition
    directories included (`fsutil.table_files`)."""
    files = fsutil.table_files(path)
    return len(files), sum(p.stat().st_size for p in files)


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    partition_column: str | None = None,
) -> dict[str, int]:
    """Merge the open files of each value of the Parquet table at `path`
    (module doc), per partition value when `partition_column` is given.

    Returns {"files_before", "files_after", "bytes"} so callers (and tests) can
    assert the compaction actually happened. No-op (no rewrite at all) for a
    table whose every value holds at most one open file. A partition value
    that needs merging and that Spark escapes in its directory name (e.g. a
    timestamp) raises ValueError, as in `fsutil.rewrite_parquet`.
    """
    files_before, total_bytes = dir_parquet_stats(path)
    fsutil.compact_open_files(spark, path, partition_column)
    files_after, _ = dir_parquet_stats(path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total_bytes,
    }


def plan_compaction_bins(
    df,
    size_col: str,
    order_col: str,
    target_bytes: int,
    partition_col: str | None = None,
):
    """Bin-packing PLAN for a file manifest: which files coalesce into which
    ~target-sized output file.

    `compact_parquet_dir` above does the physical rewrite; this is the
    DECISION half as a pure DataFrame transform over a (file, size) manifest —
    the shape Delta's OPTIMIZE planner and Iceberg's rewrite_data_files action
    compute before launching any I/O. Files are packed in `order_col` order
    (insertion order — preserving it keeps time-clustered data co-located, the
    property z-ordering relies on) by cumulative size: a file opens a new bin
    when the running total of everything BEFORE it has crossed a target-bytes
    boundary.

    Scale shape: the running sum is windowed PER PARTITION VALUE (pass
    `partition_col`), the unit real table maintenance plans over — bins never
    span partitions, and the window parallelizes across them. The global
    (unpartitioned) form — single-directory tables — runs through
    operators/ranking.ranged_running_sum (range shuffle + per-partition
    totals + broadcast offsets; r10, same class as the rank windows VERDICT
    r9 #4 flagged), so even a 100 TB manifest never serializes into one
    task. Exclusive-prefix arithmetic is integral, so a SQL window oracle
    reproduces every bin id.

    Returns one row per (partition, bin): file count, total bytes, and the
    order_col span the bin covers.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_running_sum,
    )

    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    keys = [partition_col] if partition_col else []
    if keys:
        w = Window.partitionBy(*keys).orderBy(order_col)
        prev_cum = F.coalesce(
            F.sum(F.col(size_col).cast("bigint")).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("bigint"),
        )
        binned = df.withColumn("__prev_cum", prev_cum)
    else:
        binned = ranged_running_sum(
            df, [order_col], F.col(size_col), "__prev_cum"
        )
    # integer DIV (ADVICE r10): `/` is double division and floor over a
    # double loses exactness past 2^53 — cumulative BYTES at 100 TB scale
    # sit exactly in that range.
    binned = binned.withColumn(
        "bin_id", F.expr(f"__prev_cum DIV {int(target_bytes)}").cast("bigint")
    ).drop("__prev_cum")
    return binned.groupBy(*keys, "bin_id").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum(F.col(size_col).cast("bigint")).alias("bin_bytes"),
        F.min(order_col).alias("first_file"),
        F.max(order_col).alias("last_file"),
    )
