"""Where the engine's Parquet files go, and which ones move.

Delta gave the reference its read-modify-write cycle and its file sizing for
free: MERGE rewrites files in place, OPTIMIZE and auto-compaction keep them
large. On open-source Parquet both are this module's job, and it is the one
place that decides them. (The reference's `dbutils.fs` ls/rm reset, SURVEY.md
§2.1 S6, needs no helper: a full reset is deleting the layer directories.)

Spark cannot overwrite a path it is still lazily reading from, so every write
here is staged to a sibling directory and swapped in by renames (`_swap_in`).
One layout rule sizes the staged files:

- A first write (no table yet) is rebalanced on the partition column (Spark's
  REBALANCE hint, as `operators/writers.batch_writer` does): under AQE each
  value lands in one file, or in advisory-sized files when it is large. An
  unpartitioned first write keeps the frame's own partitioning.
- Appends (`append_parquet`), partition-scoped rewrites (`rewrite_parquet`)
  and compaction (`compact_open_files`) cut each value they write by its
  on-disk bytes (`files_for`), never by shuffle bytes: zstd Parquet comes out
  several times smaller than its shuffle blocks, so an advisory-sized split
  would leave several small files per value.
- A data file below half of `spark.sql.files.maxPartitionBytes`, Spark's read
  split, is *open*; any other file is *closed* and never moves under an
  append or a compaction. An append writes each touched value's new rows
  together with that value's open files; compaction merges the open files of
  every value holding two or more, with no new rows. Both cost O(what moves)
  however large the table grows, and leave each value they write with at most
  one open file. An unpartitioned table counts as a single value.

Only `rewrite_parquet`'s whole-table path writes the caller's frame with its
own partitioning, since `streaming/ledger.compact_ledger` sizes it.
"""

from __future__ import annotations

import re
import shutil
import uuid
from collections.abc import Iterable
from functools import reduce
from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


# Characters Hive/Spark URL-escape in partition directory names
# (ExternalCatalogUtils.escapePathName's char set, plus all control chars).
_HIVE_UNSAFE = re.compile(r'["#%\'*/:=?\\\x00-\x1f\x7f{\[\]^]')
# The directory Spark writes a null partition value to.
DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _needs_hive_escaping(value: str) -> bool:
    return bool(_HIVE_UNSAFE.search(value))


def split_bytes(spark: SparkSession) -> int:
    """`spark.sql.files.maxPartitionBytes` in bytes: Spark's read-split size,
    and the file size every staged write here aims at."""
    return int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())


def files_for(n_bytes: float, target: int) -> int:
    """How many files `n_bytes` of Parquet is cut into: one per whole
    `target`, at least one. Every file of a value cut in two or more holds at
    least `target` bytes, so only an uncut value can leave a file below half
    of it, even when `n_bytes` is estimated up to twice too high."""
    return max(1, int(n_bytes // target))


def data_files(directory: Path) -> list[Path]:
    """The Parquet data files directly in `directory`, skipping the `_` and
    `.` names Spark skips; none when the directory is absent."""
    if not directory.is_dir():
        return []
    return sorted(
        f for f in directory.glob("*.parquet")
        if f.is_file() and not f.name.startswith(("_", "."))
    )


def table_files(path: str | Path) -> list[Path]:
    """Every data file of the table at `path`: `data_files` of its directory
    and of every subdirectory Spark's reader enters (names not starting with
    `_` or `.`), so files a swap has set aside are never counted."""
    root = Path(path)
    files = data_files(root)
    for d in sorted(root.iterdir()) if root.is_dir() else []:
        if d.is_dir() and not d.name.startswith(("_", ".")):
            files += table_files(d)
    return files


def value_dirs(path: str, partition_column: str) -> dict[str | None, Path]:
    """{value: directory} of the table at `path` partitioned by
    `partition_column`. A value is its directory name's text; Spark's null
    partition is None."""
    prefix = f"{partition_column}="
    out: dict[str | None, Path] = {}
    for d in Path(path).iterdir():
        if d.is_dir() and d.name.startswith(prefix):
            name = d.name[len(prefix):]
            out[None if name == DEFAULT_PARTITION else name] = d
    return out


def _value_dir(path: str | Path, partition_column: str | None, name: str | None) -> Path:
    """The directory holding value `name`; the table itself when unpartitioned."""
    if partition_column is None:
        return Path(path)
    return Path(path) / f"{partition_column}={DEFAULT_PARTITION if name is None else name}"


def _names(values: Iterable[object]) -> list[str | None]:
    """Partition values as directory-name text, deduplicated; None stays None
    (Spark's null partition). Values Spark would URL-escape in a directory
    name are rejected, since the directory matcher does not replicate it."""
    names = {None if v is None else str(v) for v in values}
    unsafe = sorted(n for n in names if n is not None and _needs_hive_escaping(n))
    if unsafe:
        raise ValueError(
            "partition values needing Hive path-escaping are unsupported by "
            f"the partition-scoped rewrite: {unsafe!r}; rewrite the whole "
            "table (touched_values=None) instead"
        )
    return sorted(names, key=lambda n: (n is None, n or ""))


def _select(df: DataFrame, partition_column: str, names: list[str | None]) -> DataFrame:
    """`df`'s rows whose partition value is one of `names`."""
    col = F.col(partition_column)
    match = col.cast("string").isin([n for n in names if n is not None])
    if None in names:
        match = match | col.isNull()
    return df.filter(match)


def _size(files: Iterable[Path]) -> int:
    return sum(f.stat().st_size for f in files)


def _open(files: list[Path], target: int) -> list[Path]:
    """The open files among `files`: below half of the split size `target`."""
    return [f for f in files if f.stat().st_size < target // 2]


def _row_bytes(files: list[Path]) -> float:
    """On-disk bytes per row of `files`, read from their footers: column-chunk
    bytes over rows, leaving out the footer's fixed cost. 0 without rows."""
    import pyarrow.parquet as pq

    rows = chunks = 0
    for f in files:
        meta = pq.read_metadata(f)
        rows += meta.num_rows
        chunks += sum(
            meta.row_group(g).column(c).total_compressed_size
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        )
    return chunks / rows if rows else 0.0


def _cut_keys(df: DataFrame, partition_column: str, cuts: dict[str | None, int]) -> list[Column]:
    """Shuffle keys that cut each value into `cuts[value]` row sets: the
    partition column and a content hash modulo the value's cut. Never rand():
    an expression-repartition on a random column is retry-unsafe, since a
    recomputed task can re-draw and route rows to a different shuffle
    partition, duplicating or dropping them."""
    col = F.col(partition_column)
    n = F.lit(1)
    for name, k in cuts.items():
        if k > 1:
            match = col.isNull() if name is None else col.cast("string") == name
            n = F.when(match, F.lit(k)).otherwise(n)
    return [col, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), n)]


def _stage(
    df: DataFrame,
    path: str,
    partition_column: str | None,
    value_bytes: dict[str | None, float],
    target: int,
) -> Path:
    """Write `df` to a fresh staging sibling of `path`, sized by on-disk
    bytes: value `v` is cut into `files_for(value_bytes[v], target)` files.
    A write whose bytes fit one file runs as one task with no shuffle."""
    if files_for(sum(value_bytes.values()), target) == 1:
        df = df.coalesce(1)
    else:
        cuts = {name: files_for(b, target) for name, b in value_bytes.items()}
        keys = _cut_keys(df, partition_column, cuts) if partition_column else []
        df = df.repartition(sum(cuts.values()), *keys)
    return _write_staging(df, path, partition_column)


def _write_staging(df: DataFrame, path: str, partition_column: str | None) -> Path:
    """Write `df` with its own partitioning to a fresh staging sibling of
    `path`, on the same filesystem so the swap is a rename."""
    staging = Path(f"{path}__staging_{uuid.uuid4().hex[:8]}")
    writer = df.write.format("parquet").mode("overwrite")
    if partition_column:
        writer = writer.partitionBy(partition_column)
    writer.save(str(staging))
    return staging


def _crc(f: Path) -> Path:
    """The Hadoop local-filesystem checksum file beside data file `f`."""
    return f.with_name(f".{f.name}.crc")


def _swap_in(staged: Path, live: Path, replaced: list[Path]) -> None:
    """Put the data files of directory `staged` into `live` in place of
    `replaced`, which are data files of `live`: the package's one swap.

    When `replaced` is every data file of `live` (always so for a whole table
    or a missing one), the directory itself is swapped: the staged copy is
    first moved next to it (same filesystem, as staging is a sibling), so the
    live→backup→new window is two bare renames with no write in between.
    Otherwise the kept files stay where they are: the replaced files are
    renamed aside to hidden names, the staged files are renamed in, and the
    ones aside are deleted. A staged directory that is absent (every row of
    that value was dropped) empties the value."""
    token = uuid.uuid4().hex[:8]
    if set(replaced) == set(data_files(live)):
        incoming = None
        if staged.exists():
            incoming = live.with_name(f"__new_{token}")
            staged.rename(incoming)
        backup = live.with_name(f"__old_{token}")
        if live.exists():
            live.rename(backup)
        if incoming is not None:
            incoming.rename(live)
        shutil.rmtree(backup, ignore_errors=True)
        return
    aside = []
    for f in replaced:
        _crc(f).unlink(missing_ok=True)
        aside.append(f.rename(f.with_name(f"__old_{token}_{f.name}")))
    for f in data_files(staged):
        if _crc(f).exists():
            _crc(f).rename(_crc(live / f.name))
        f.rename(live / f.name)
    for f in aside:
        f.unlink()


def _swap_values(
    staging: Path, path: str, partition_column: str | None,
    replaced: dict[str | None, list[Path]],
) -> None:
    """`_swap_in` each value of `replaced` from `staging` into the table at
    `path`, then drop what is left of `staging`."""
    Path(path).mkdir(parents=True, exist_ok=True)
    for name, files in replaced.items():
        _swap_in(
            _value_dir(staging, partition_column, name),
            _value_dir(path, partition_column, name),
            files,
        )
    shutil.rmtree(staging, ignore_errors=True)


def rewrite_parquet(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_column: str | None = None,
    touched_values: Iterable[object] | None = None,
) -> None:
    """Replace the Parquet table at `path` with `df`'s contents, where `df` may
    read from `path` itself (the MERGE-rewrite shape, SURVEY.md §2.6 J1).

    Stage → swap: write df to a staging dir (forces full materialization from the
    OLD files), then swap it in (`_swap_in`). Never leaves a window where
    readers see a half-written table on a posix FS.

    When `partition_column` AND `touched_values` are given, ONLY those partition
    directories are staged and swapped, and untouched partitions keep their
    original files. This is the 100 TB path: a status flip over one
    ingest-date's files rewrites that date's partition, not the table. A None
    touched value is the null partition. Each touched value is cut by its live
    on-disk bytes (module doc), so a value below twice the split size comes
    back as one file, however many tasks `df` spans. Otherwise the whole table
    is swapped, and `df` is written with its own partitioning:
    `streaming/ledger.compact_ledger` clamps its width, and a shuffle here
    would undo it.

    Visibility contract: each swap is two consecutive renames with no copy in
    between, so a concurrent lister can observe the table, or one touched
    partition, absent for that instant. Delta/Iceberg close this with a
    metadata pointer — on plain Parquet directories it is the best available.

    Partition values are matched to directory names as `col=str(value)`. Spark
    URL-escapes special characters when writing partition dirs (e.g. ':' →
    '%3A'), which this matcher does not replicate — values needing escaping are
    rejected up front rather than silently backed up and never replaced. Date /
    int / plain-string partition values (the `p_ingestdate` convention) are the
    supported domain.
    """
    if not partition_column or touched_values is None:
        table = Path(path)
        _swap_in(_write_staging(df, path, partition_column), table, data_files(table))
        return
    names = _names(touched_values)
    if not names:
        return
    live = {n: data_files(_value_dir(path, partition_column, n)) for n in names}
    staging = _stage(
        _select(df, partition_column, names), path, partition_column,
        {n: _size(files) for n, files in live.items()}, split_bytes(spark),
    )
    _swap_values(staging, path, partition_column, live)


def _merge(
    spark: SparkSession,
    path: str,
    partition_column: str | None,
    tails: dict[str | None, list[Path]],
    arrival: DataFrame | None = None,
    arrival_bytes: dict[str | None, float] | None = None,
) -> None:
    """The append merge: stage each value of `tails` from its open files
    `tails[value]` and its rows of `arrival` (`arrival_bytes[value]` on
    disk, estimated), cut by on-disk bytes, and swap the staged files in for
    those open files. The value's closed files never move."""
    _names(tails)  # reject names the directory matcher cannot reach
    parts = [] if arrival is None else [arrival]
    open_files = [str(f) for files in tails.values() for f in files]
    if open_files:
        if arrival is not None:
            schema = arrival.schema
        else:  # the partition column as its directory text, which round-trips
            schema = spark.read.parquet(*open_files).schema
            if partition_column:
                schema = schema.add(partition_column, "string")
        parts.append(
            spark.read.schema(schema).option("basePath", path).parquet(*open_files)
        )
    arrival_bytes = arrival_bytes or {}
    staging = _stage(
        reduce(DataFrame.unionByName, parts), path, partition_column,
        {n: _size(files) + arrival_bytes.get(n, 0) for n, files in tails.items()},
        split_bytes(spark),
    )
    _swap_values(staging, path, partition_column, tails)


def append_parquet(
    spark: SparkSession,
    rows: DataFrame,
    path: str,
    partition_column: str | None = None,
) -> None:
    """Append `rows` to the Parquet table at `path`, merging them into each
    touched value's open files (module doc); a missing table is created by a
    rebalanced first write.

    `rows` is cached (unless the caller cached it), and one aggregate over it
    finds the touched values and their row counts, so the staged write reads
    the arrival from the cache. The arrival's on-disk bytes are estimated from
    those counts and the bytes per row in the footers of the open files (or,
    with none open, of one data file of a touched value or else of the
    table), and each value is cut by `files_for` its open files' bytes plus
    that estimate. An empty arrival writes nothing."""
    table = Path(path)
    if not table.exists():
        if partition_column:
            rows = rows.hint("rebalance", partition_column)
        _swap_in(_write_staging(rows, path, partition_column), table, [])
        return
    cache_here = rows.storageLevel == StorageLevel.NONE
    if cache_here:
        rows = rows.cache()
    try:
        by = [partition_column] if partition_column else []
        counts = {
            (None if r[0] is None else str(r[0])) if by else None: r["count"]
            for r in rows.groupBy(*by).count().collect()
            if r["count"]
        }
        if not counts:
            return
        target = split_bytes(spark)
        live = {n: data_files(_value_dir(path, partition_column, n)) for n in counts}
        tails = {n: _open(files, target) for n, files in live.items()}
        row_bytes = _row_bytes(
            [f for files in tails.values() for f in files]
            or [f for files in live.values() for f in files][:1]
            or table_files(path)[:1]
        )
        _merge(
            spark, path, partition_column, tails, rows,
            {n: c * row_bytes for n, c in counts.items()},
        )
    finally:
        if cache_here:
            rows.unpersist()


def compact_open_files(
    spark: SparkSession, path: str, partition_column: str | None = None
) -> None:
    """The append merge with no arrival: in every value of the table at
    `path` holding two or more open files, those files are merged (module
    doc). Closed files never move, and a value with one open file or none is
    left as it is."""
    target = split_bytes(spark)
    if partition_column:
        live = {v: data_files(d) for v, d in value_dirs(path, partition_column).items()}
    else:
        live = {None: data_files(Path(path))}
    tails = {v: _open(files, target) for v, files in live.items()}
    tails = {v: files for v, files in tails.items() if len(files) > 1}
    if tails:
        _merge(spark, path, partition_column, tails)


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
