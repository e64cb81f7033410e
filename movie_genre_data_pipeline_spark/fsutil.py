"""Filesystem helpers for the read-modify-write cycle Delta gave the reference
for free. The reference's `dbutils.fs` ls/rm reset (SURVEY.md §2.1 S6) needs no
helper: a full reset is deleting the layer directories.

`rewrite_parquet` solves the OSS-Parquet problem Delta MERGE hides: Spark cannot
overwrite a path it is still lazily reading from. We stage the new contents to a
sibling directory, then atomically swap (local FS rename). On HDFS the same pattern
uses FileSystem.rename; on object stores you'd prefer per-partition dynamic
overwrite from the staged copy — `rewrite_parquet(partition_column=...)` does that
second hop when the table is partitioned, so only touched partitions are rewritten
at scale instead of the whole table.
"""

from __future__ import annotations

import re
import shutil
import uuid
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.operators.writers import batch_writer


# Characters Hive/Spark URL-escape in partition directory names
# (ExternalCatalogUtils.escapePathName's char set, plus all control chars).
_HIVE_UNSAFE = re.compile(r'["#%\'*/:=?\\\x00-\x1f\x7f{\[\]^]')


def _needs_hive_escaping(value: str) -> bool:
    return bool(_HIVE_UNSAFE.search(value))


def rewrite_parquet(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_column: str | None = None,
    touched_values: Sequence[object] | None = None,
) -> None:
    """Replace the Parquet table at `path` with `df`'s contents, where `df` may
    read from `path` itself (the MERGE-rewrite shape, SURVEY.md §2.6 J1).

    Stage → swap: write df to a staging dir (forces full materialization from the
    OLD files), then swap directories. Never leaves a window where readers see a
    half-written table on a posix FS.

    When `partition_column` AND `touched_values` are given, ONLY those partition
    directories are staged and swapped — the filter on the partition column prunes
    the staged scan to the touched directories and untouched partitions keep their
    original files untouched. This is the 100 TB path: a status flip over one
    ingest-date's files rewrites that date's partition, not the table. The
    whole-table swap remains the fallback for unpartitioned tables or full
    rewrites.

    File layout: the partition-scoped staging write goes through
    `operators.writers.batch_writer`, so each touched partition comes back as
    one file (or advisory-sized files when it is large), however many tasks
    `df` spans. The whole-table path writes `df` with its own partitioning:
    `compact_parquet_dir` sizes its files with an explicit repartition, and a
    second shuffle would undo that sizing.

    Visibility contract: the WHOLE-TABLE swap is a single directory rename — a
    reader sees either the old table or the new one, never a gap. The
    partition-scoped path swaps each touched partition with two consecutive
    renames (staged→tmp-in-target happens up front, so the gap is rename+rename,
    no copy in between); a concurrent lister can still observe one partition
    absent for that instant. Delta/Iceberg close this with a metadata pointer —
    on plain Parquet directories per-partition atomicity is the best available,
    and callers that need stronger isolation should swap the whole table.

    Partition values are matched to directory names as `col=str(value)`. Spark
    URL-escapes special characters when writing partition dirs (e.g. ':' →
    '%3A'), which this matcher does not replicate — values needing escaping are
    rejected up front rather than silently backed up and never replaced. Date /
    int / plain-string partition values (the `p_ingestdate` convention) are the
    supported domain.
    """
    if partition_column and touched_values is not None:
        values = sorted({str(v) for v in touched_values})
        if not values:
            return
        unsafe = [v for v in values if _needs_hive_escaping(v)]
        if unsafe:
            raise ValueError(
                "partition values needing Hive path-escaping are unsupported by "
                f"the partition-scoped rewrite: {unsafe!r}; rewrite the whole "
                "table (touched_values=None) instead"
            )
        scoped = df.filter(
            F.col(partition_column).cast("string").isin(values)
        )
        staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
        batch_writer(scoped, partition_column, mode="overwrite").save(staging)
        target = Path(path)
        target.mkdir(parents=True, exist_ok=True)
        for v in values:
            subdir = f"{partition_column}={v}"
            staged_part = Path(staging) / subdir
            live_part = target / subdir
            token = uuid.uuid4().hex[:8]
            backup = target / f"__old_{token}_{subdir}"
            # Move the staged copy into the target dir FIRST (same filesystem —
            # staging is a sibling), so the live→backup→new window is two bare
            # renames with no write in between.
            incoming = None
            if staged_part.exists():
                incoming = target / f"__new_{token}_{subdir}"
                staged_part.rename(incoming)
            if live_part.exists():
                live_part.rename(backup)
            if incoming is not None:
                incoming.rename(live_part)
            # staged partition absent ⇒ every row of that value was dropped by
            # df — the rename above already removed the live copy.
            shutil.rmtree(backup, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)
        return

    staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    # Not batch_writer: keep df's own partitioning, which compact_parquet_dir
    # sizes with an explicit repartition that a rebalance would undo.
    writer = df.write.format("parquet").mode("overwrite")
    if partition_column:
        writer = writer.partitionBy(partition_column)
    writer.save(staging)
    backup = f"{path}__old_{uuid.uuid4().hex[:8]}"
    target = Path(path)
    if target.exists():
        target.rename(backup)
    Path(staging).rename(path)
    shutil.rmtree(backup, ignore_errors=True)


_GEN_RE = re.compile(r"^(?P<prefix>.+)_(?P<n>\d+)$")


def list_generations(base_dir: str, prefix: str) -> list[tuple[int, str]]:
    """[(n, path)] ascending for directories named `<prefix>_<n>` under
    `base_dir` — the versioned-generation convention the read-previous/
    write-next maintainers use (streaming SCD2 / gold IVM states)."""
    out = []
    base = Path(base_dir)
    if not base.exists():
        return []
    for child in base.iterdir():
        m = _GEN_RE.match(child.name)
        if m and m.group("prefix") == prefix and child.is_dir():
            out.append((int(m.group("n")), str(child)))
    return sorted(out)


def vacuum_generations(base_dir: str, prefix: str, keep: int = 2) -> list[str]:
    """Delete all but the newest `keep` generations of `<prefix>_<n>` dirs;
    returns the deleted paths. The no-Delta VACUUM: generation maintainers
    write `hist_{n+1}` next to `hist_n`, so disk grows one full state per
    batch until something reclaims it. Keeping >=2 preserves the
    read-previous/write-next invariant (the newest generation is never a
    dangling read source for an in-flight writer of the next one)."""
    if keep < 1:
        raise ValueError(f"keep must be >= 1, got {keep}")
    gens = list_generations(base_dir, prefix)
    doomed = gens[:-keep] if keep < len(gens) else []
    for _, path in doomed:
        shutil.rmtree(path, ignore_errors=True)
    return [p for _, p in doomed]
