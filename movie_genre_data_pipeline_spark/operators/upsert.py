"""Join-based upserts — Delta MERGE re-expressed over plain DataFrames / Parquet
(SURVEY.md §2.6 J1/J2).

The reference's only join-like computation is Delta `MERGE`:
- J1 `whenMatchedUpdate` (status flip): operations/operations.py:112-129 — equi-join
  on the struct-typed `value` column, update `status` on match.
- J2 `whenNotMatchedInsertAll` (repair insert): Autoloader_notebook/Silver_update.py:50-60
  — insert source rows whose key is absent from the target.

Without Delta, MERGE is a join + rewrite. Semantics pinned from Delta's contract:
a MERGE with multiple source matches per target row ERRORS — a naive left join would
silently duplicate target rows instead (SURVEY.md §7.4), so `upsert_update` dedups /
verifies the source key first.

Scale notes:
- The update set is almost always tiny relative to the target (a status flip over
  new files vs. the whole bronze table) → broadcast the source side.
- Path-based variants rewrite only the partitions the source touches (dynamic
  partition overwrite), never the whole table: at 100 TB a full rewrite per status
  flip is the difference between minutes and days.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class MergeSourceNotUniqueError(ValueError):
    """Source has multiple rows per merge key — Delta MERGE would abort; so do we."""


def _key_cols(on: str | list[str]) -> list[str]:
    return [on] if isinstance(on, str) else list(on)


def _check_unique(source: DataFrame, keys: list[str]) -> None:
    dup = (
        source.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise MergeSourceNotUniqueError(
            f"merge source has duplicate keys on {keys}; dedup it first "
            "(Delta MERGE raises 'multiple source rows matched' here too)"
        )


def upsert_update(
    target: DataFrame,
    source: DataFrame,
    on: str | list[str],
    set_columns: Mapping[str, str],
    verify_unique: bool = True,
    broadcast_source: bool = True,
) -> DataFrame:
    """MERGE ... WHEN MATCHED UPDATE SET (J1) as a left join + coalesce.

    `set_columns` maps target column → source column. Unmatched target rows pass
    through unchanged; source rows without a target match are ignored (exactly
    Delta's whenMatchedUpdate-only behavior).

    NULL semantics match Delta MERGE: a matched row takes the source value even
    when that value is NULL (match is detected via a non-null marker column, not
    coalesce, so "update to NULL" works). NULL key values match via eqNullSafe —
    Delta's `ON t.k = s.k` would NOT match NULL keys; we document the stricter
    null-safe contract because the reference merges on a struct key whose fields
    may contain NULLs (operations/operations.py:119).
    """
    keys = _key_cols(on)
    if verify_unique:
        _check_unique(source, keys)
    src_cols = keys + [s for s in set_columns.values() if s not in keys]
    src = source.select(*src_cols)
    renamed = src.select(
        *[F.col(k).alias(f"__src_{k}") for k in keys],
        *[
            F.col(s).alias(f"__src_set_{t}")
            for t, s in set_columns.items()
        ],
        F.lit(True).alias("__src_matched"),
    )
    if broadcast_source:
        renamed = F.broadcast(renamed)
    cond: Column | None = None
    for k in keys:
        c = target[k].eqNullSafe(F.col(f"__src_{k}"))
        cond = c if cond is None else (cond & c)
    joined = target.join(renamed, cond, "left")
    out_cols = []
    for c in target.columns:
        if c in set_columns:
            out_cols.append(
                F.when(F.col("__src_matched"), F.col(f"__src_set_{c}"))
                .otherwise(target[c])
                .alias(c)
            )
        else:
            out_cols.append(target[c])
    return joined.select(*out_cols)


def upsert_insert_missing(
    target: DataFrame,
    source: DataFrame,
    on: str | list[str],
    verify_unique: bool = False,
) -> DataFrame:
    """MERGE ... WHEN NOT MATCHED INSERT ALL (J2) as anti-join + union.

    Returns only the NEW rows (the delta to append) — callers append them, which is
    the cheap path at scale (no target rewrite at all). The target keys are
    not deduplicated first: a left-anti join's result ignores duplicate keys
    on its right side, and a distinct would add a shuffle stage.
    """
    keys = _key_cols(on)
    if verify_unique:
        _check_unique(source, keys)
    return source.join(
        target.select(*keys), on=keys, how="left_anti"
    ).select(*[F.col(c) for c in source.columns])
