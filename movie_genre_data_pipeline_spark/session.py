"""SparkSession factory tuned for both local testing and cluster scale.

The reference configures nothing (Databricks runtime defaults). We make the
scale-relevant knobs explicit so the same code runs on local[32] for tests and on a
1000-executor cluster unchanged:

- AQE on (runtime coalesce, skew-join splitting, dynamic broadcast) — at 100 TB the
  static plan is always wrong somewhere; AQE re-plans from real shuffle stats.
- shuffle partitions sized by caller (local: ~cores; cluster: ~2-3x total cores).
- dynamic partition overwrite: idempotent re-runs rewrite only touched partitions
  instead of the reference's rm+overwrite (SURVEY.md §4 "Idempotency").
- UTC session timezone: deterministic timestamp semantics (and DuckDB-oracle parity).
- Arrow enabled: Pandas-UDF extensions (functions/) move data in columnar batches.
- codegen class cache sized to the working set: one long-lived session reruns
  the same plans (incremental rounds, bench passes, tests), and Spark's default
  100-entry JVM-wide cache of compiled classes evicts them between passes. A
  headline-query pass compiles about 162 distinct classes and a medallion
  batch + incremental unit 170-200, so at 100 entries a warm pass recompiled
  155 of 165 and the JIT warmed every fresh class up again; at 1024 a warm
  pass compiles almost nothing (`codegen_compiles` counts it).
- zstd Parquet (Spark's default level) for every table the package writes:
  the lake keeps each movie payload twice (bronze `value` struct and silver
  movie row), and those bytes are both the storage bill and the scan volume.
  On the perfbench medallion workload (4 cores, seeds 101-110) the lake
  footprint (`space_amp`) fell from 0.498 to 0.400 against snappy, lower in
  10 of 10 pairs, with CPU, wall time and memory unchanged within noise. One
  batch run plus two incremental rounds (seed 63): batch lake 740 -> 583 KB,
  incremental lake 1004 -> 819 KB, batch bronze 296 -> 212 KB, batch silver
  movie 437 -> 365 KB, status ledger 68 -> 41 KB. gzip was only 2% smaller
  than zstd and slower; lz4_raw was 10% larger than snappy. Parquet records
  the codec per column chunk, so snappy lakes stay readable and appends may
  mix codecs.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _env_cpus() -> str:
    """SPARK_GRAFT_CPUS: ``*`` (every core, the default) or a positive integer."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if raw != "*" and not (re.fullmatch(r"[0-9]+", raw) and int(raw) > 0):
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be '*' or a positive integer, got {raw!r}"
        )
    return raw


def _env_bool(name: str, default: str) -> str:
    """A true/false env var (any case), normalized to Spark's lower case."""
    raw = os.environ.get(name, default)
    if raw.lower() not in ("true", "false"):
        raise ValueError(f"{name} must be true or false, got {raw!r}")
    return raw.lower()


def build_session(
    app_name: str = "movie_genre_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` so tests and bench share
    one entry point; on a real cluster pass ``master=None`` with ``--master`` given
    to spark-submit instead.
    """
    cpus = _env_cpus()
    prefer_smj = _env_bool("SPARK_GRAFT_PREFER_SMJ", "false")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Prefer shuffled-hash over sort-merge when a side fits per-partition
        # (guide §3.1): the remaining SMJs in the suite join modest per-key
        # state where building a hash table beats sorting both sides; AQE can
        # also rewrite SMJ→SHJ at runtime under the local-map threshold.
        # Caveat (r15 ADVICE): SHJ build sides cannot spill and the planner's
        # size gate works from ESTIMATES — a badly misestimated build side at
        # scale trades sort-merge's spill safety for an executor OOM. The
        # r16 k=16 replica-tier A/B (SCALE_BENCH.json) validates the current
        # default on the SHJ-carrying paths; if a deployment hits a
        # misestimate, flip SPARK_GRAFT_PREFER_SMJ=true (restores the Spark
        # default planner-wide) or shrink SPARK_GRAFT_SHJ_LOCALMAP — no code
        # change needed.
        .config("spark.sql.join.preferSortMergeJoin", prefer_smj)
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "64m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd, not snappy: a fifth fewer lake bytes at equal CPU (module doc)
        .config("spark.sql.parquet.compression.codec", "zstd")
        # micros, not legacy INT96: smaller, predicate-pushdown-friendly, and
        # readable by every modern engine without special-casing
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # local mode: shuffle data goes through driver disk; keep codegen on.
        .config("spark.ui.enabled", "false")
        # Compiled-class cache (Spark default 100 entries, JVM-wide) sized so a
        # rerun reuses its classes: a headline-query pass compiles about 162
        # and a medallion batch + incremental unit 170-200, and at 100 every
        # warm pass recompiled nearly all of them. Static conf (read once per
        # JVM), so it is set here; extra_conf may still override it.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Ship this package to Python workers (addPyFile zip): worker-side imports
    # in mapInPandas/pandas-UDF closures must not depend on the driver's cwd —
    # on a real cluster the executors never see it (shipping.py).
    from movie_genre_data_pipeline_spark.shipping import ensure_package_on_workers

    ensure_package_on_workers(spark)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled so far in this JVM (Spark's CodegenMetrics
    compilation-time histogram counts one sample per cache miss). Take the
    difference around a pass to see how much of it was compiled afresh."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
