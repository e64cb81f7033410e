"""Partition-scoped rewrite + MERGE NULL-semantics pins (VERDICT r01 wrong#1,
ADVICE r01: upsert_update NULL updates)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.fsutil import rewrite_parquet
from movie_genre_data_pipeline_spark.operators.upsert import upsert_update


def _part_files(path: str, subdir: str) -> dict[str, int]:
    return {
        f.name: f.stat().st_mtime_ns
        for f in (Path(path) / subdir).glob("*.parquet")
    }


def test_partition_scoped_rewrite_leaves_untouched_partitions_alone(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p3")],
        "id int, v string, p string",
    )
    df.write.partitionBy("p").parquet(path)
    before_p2 = _part_files(path, "p=p2")
    before_p3 = _part_files(path, "p=p3")
    assert before_p2 and before_p3

    live = spark.read.parquet(path)
    updated = live.withColumn(
        "v", F.when(F.col("id") == 1, F.lit("A")).otherwise(F.col("v"))
    )
    rewrite_parquet(spark, updated, path, "p", touched_values=["p1"])

    # untouched partitions keep their exact original files (names + mtimes)
    assert _part_files(path, "p=p2") == before_p2
    assert _part_files(path, "p=p3") == before_p3
    # touched partition carries the update; everything else intact
    rows = {(r.id, r.v, r.p) for r in spark.read.parquet(path).collect()}
    assert rows == {(1, "A", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p3")}


def test_partition_scoped_rewrite_writes_one_file_per_touched_partition(
    spark, tmp_path
):
    """The staged write goes through batch_writer: a touched partition whose
    rows come from several tasks is rewritten as one file."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}", "p1" if i % 4 else "p2") for i in range(40)],
        "id int, v string, p string",
    )
    df.repartition(4).write.partitionBy("p").parquet(path)
    assert len(_part_files(path, "p=p1")) > 1
    before_p2 = _part_files(path, "p=p2")

    live = spark.read.parquet(path)
    updated = live.withColumn("v", F.upper("v"))
    rewrite_parquet(spark, updated, path, "p", touched_values=["p1"])

    assert len(_part_files(path, "p=p1")) == 1
    assert _part_files(path, "p=p2") == before_p2
    rows = spark.read.parquet(path)
    assert rows.count() == 40
    assert rows.filter((F.col("p") == "p1") & (F.col("v") != F.upper("v"))).count() == 0


def test_partition_scoped_rewrite_empty_touched_is_noop(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a", "p1")], "id int, v string, p string")
    df.write.partitionBy("p").parquet(path)
    before = _part_files(path, "p=p1")
    rewrite_parquet(
        spark, spark.read.parquet(path), path, "p", touched_values=[]
    )
    assert _part_files(path, "p=p1") == before


def test_upsert_update_writes_null_like_delta_merge(spark):
    """Delta MERGE whenMatchedUpdate writes the source value even when NULL —
    a coalesce-based emulation would silently keep the target value instead."""
    target = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    source = spark.createDataFrame([(1, None)], "k int, v string")
    out = upsert_update(target, source, on="k", set_columns={"v": "v"})
    assert {(r.k, r.v) for r in out.collect()} == {(1, None), (2, "y")}


def test_upsert_update_null_key_matches_null_safe(spark):
    """Pinned contract: keys join via eqNullSafe (NULL == NULL matches), which is
    STRICTER than Delta's `ON t.k = s.k` (never matches NULL). Documented in the
    upsert_update docstring."""
    target = spark.createDataFrame([(None, "x"), (2, "y")], "k int, v string")
    source = spark.createDataFrame([(None, "updated")], "k int, v string")
    out = upsert_update(target, source, on="k", set_columns={"v": "v"})
    assert {(r.k, r.v) for r in out.collect()} == {(None, "updated"), (2, "y")}


def test_partition_scoped_rewrite_rejects_escapable_values(spark, tmp_path):
    """Spark URL-escapes special chars in partition dir names; the dir matcher
    doesn't replicate that, so such values must raise instead of silently
    backing up a partition and never replacing it (ADVICE r2)."""
    import pytest

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a", "p1")], "id int, v string, p string")
    df.write.partitionBy("p").parquet(path)
    with pytest.raises(ValueError, match="escap"):
        rewrite_parquet(
            spark,
            spark.read.parquet(path),
            path,
            "p",
            touched_values=["a:b"],
        )


def test_vacuum_generations(tmp_path):
    import pytest

    from movie_genre_data_pipeline_spark.fsutil import (
        list_generations,
        vacuum_generations,
    )

    base = tmp_path / "states"
    for n in (0, 1, 2, 10):  # 10 after 2: numeric, not lexicographic, order
        (base / f"hist_{n}").mkdir(parents=True)
        (base / f"hist_{n}" / "part-0.parquet").write_bytes(b"x")
    (base / "hist_bad").mkdir()        # no numeric suffix: ignored
    (base / "other_3").mkdir()         # different prefix: ignored

    gens = list_generations(str(base), "hist")
    assert [n for n, _ in gens] == [0, 1, 2, 10]

    deleted = vacuum_generations(str(base), "hist", keep=2)
    assert [p.rsplit("/", 1)[-1] for p in deleted] == ["hist_0", "hist_1"]
    assert [n for n, _ in list_generations(str(base), "hist")] == [2, 10]
    # keeping more than exist deletes nothing
    assert vacuum_generations(str(base), "hist", keep=5) == []
    assert (base / "other_3").exists() and (base / "hist_bad").exists()
    with pytest.raises(ValueError):
        vacuum_generations(str(base), "hist", keep=0)
