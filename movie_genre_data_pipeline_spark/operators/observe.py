"""Observed writes: audit metrics as side-outputs of the write pass.

The reference gathers its pipeline counters with SEPARATE count queries after
each write — `SELECT COUNT(*) ...` pulled via collect()
(reference: Autoloader_notebook/Bronze_to_Silver.py:313-316,
Silver_update.py:162-163; SURVEY.md §2.5 A2). That is one extra full scan per
counter; at 100 TB the audit pass costs as much as the write.

`write_with_metrics` attaches a `pyspark.sql.Observation` to the frame being
written: the metrics (counts, conditional counts, sums — any aggregate
expression) are accumulated BY the write job itself, executor-side, and
collected from the observation after the action finishes. Zero additional
scans, exact values (unlike accumulators, observed metrics are
task-retry-safe: Spark de-duplicates per-task updates).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation

from movie_genre_data_pipeline_spark.operators.writers import batch_writer


def write_with_metrics(
    df: DataFrame,
    path: str,
    metrics: Sequence[Column],
    partition_column: str | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> dict[str, object]:
    """Write `df` to `path` and return the observed metric values computed
    during that same job. Each metric must be an aggregate Column with an
    explicit alias (the alias becomes the result key). The file layout is
    `batch_writer`'s."""
    obs = Observation()
    batch_writer(df.observe(obs, *metrics), partition_column, mode=mode, fmt=fmt).save(path)
    return dict(obs.get)


def dataset_fingerprint(df, cols):
    """Order-invariant content identity of a dataset — one row:
    (n_rows, content_hash) where content_hash is the sum mod p of a 60-bit
    md5-derived term per row. The provenance primitive: two materializations
    carry the same fingerprint iff they hold the same multiset of rows over
    `cols`, regardless of partitioning, file layout, or row order — "which
    exact data trained this model" answered by one scan + one aggregate.

    Determinism contract (cross-engine, so the fingerprint is portable):
    - each column is rendered to a canonical STRING by the caller (pass
      pre-formatted columns for floats — engine-native float→string differs);
    - NULL renders as a NUL-prefixed sentinel ("\\x00NULL") — collision-free
      against any value that doesn't itself embed a NUL byte (quote or escape
      upstream if your domain allows NULs);
    - the row term is the first 15 hex digits of md5 over the unit-separator
      join (60 bits, sign-safe in an int64);
    - the aggregate is SUM(term) % p with p = 2^31 - 1. Terms are < 2^60, so
      the plain sum stays below 2^63 for ~8 rows — instead each term is
      reduced mod p FIRST, making the sum safe to ~4e9 rows per call; beyond
      that, fingerprint partitions and combine with modular addition (the sum
      is associative/commutative by construction).
    """
    from pyspark.sql import functions as F

    P = 2_147_483_647  # 2^31 - 1
    canon = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in cols]
    )
    term = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("bigint") % P
    return df.select(term.alias("__t")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum("__t") % P).cast("bigint").alias("content_hash"),
    )
