"""Partition-scoped rewrite + MERGE NULL-semantics pins (VERDICT r01 wrong#1,
ADVICE r01: upsert_update NULL updates)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.fsutil import (
    DEFAULT_PARTITION,
    append_parquet,
    rewrite_parquet,
)
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


def test_partition_scoped_rewrite_reaches_null_partition(spark, tmp_path):
    """A None touched value is Spark's null partition: its directory is
    swapped and its rows carry the update, like any other touched value."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", "a"), (2, "b", None), (3, "c", "c")], "id int, v string, p string"
    )
    df.write.partitionBy("p").parquet(path)
    before_c = _part_files(path, "p=c")

    live = spark.read.parquet(path)
    rewrite_parquet(
        spark, live.withColumn("v", F.upper("v")), path, "p", touched_values=["a", None]
    )

    rows = {(r.id, r.v, r.p) for r in spark.read.parquet(path).collect()}
    assert rows == {(1, "A", "a"), (2, "B", None), (3, "c", "c")}
    assert _part_files(path, "p=c") == before_c


def _rows(spark, ids, p):
    """Rows whose payload does not compress away, so file sizes track rows."""
    return spark.range(*ids).select(
        F.col("id").cast("int").alias("id"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
        F.lit(p).cast("string").alias("p"),
    )


def _data_file_counts(path: str) -> dict[str, int]:
    return {
        d.name: sum(1 for f in d.glob("*.parquet") if not f.name.startswith(("_", ".")))
        for d in Path(path).iterdir()
        if d.is_dir() and "=" in d.name
    }


def test_append_merges_each_value_into_its_tail_file(spark, tmp_path):
    """Appends to a table of small files merge into each touched value's one
    open file, the null partition included; untouched values keep their
    files, and no row is lost or doubled."""
    path = str(tmp_path / "t")
    append_parquet(spark, _rows(spark, (0, 20), "a").unionByName(
        _rows(spark, (20, 30), None)).unionByName(_rows(spark, (30, 40), "c")), path, "p")
    before_c = _part_files(path, "p=c")
    append_parquet(spark, _rows(spark, (40, 45), "a").unionByName(
        _rows(spark, (45, 50), None)), path, "p")
    append_parquet(spark, _rows(spark, (50, 52), None).unionByName(
        _rows(spark, (52, 60), "d")), path, "p")

    assert _data_file_counts(path) == {
        "p=a": 1, f"p={DEFAULT_PARTITION}": 1, "p=c": 1, "p=d": 1
    }
    assert _part_files(path, "p=c") == before_c
    got = spark.read.parquet(path)
    assert sorted(r.id for r in got.collect()) == list(range(60))
    assert got.filter(F.col("p").isNull()).count() == 10 + 5 + 2


def test_append_to_unpartitioned_table_keeps_one_file(spark, tmp_path):
    path = str(tmp_path / "t")
    for lo in (0, 10, 20):
        append_parquet(spark, _rows(spark, (lo, lo + 10), "x"), path)
    append_parquet(spark, _rows(spark, (0, 0), "x"), path)  # empty: no write
    files = [f for f in Path(path).glob("*.parquet")]
    assert len(files) == 1, files
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(30))


def test_append_leaves_a_caller_cache_in_place(spark, tmp_path):
    """The arrival is cached for the append only when the caller has not
    cached it: a caller's cache outlives the append."""
    from pyspark import StorageLevel

    path = str(tmp_path / "t")
    append_parquet(spark, _rows(spark, (0, 5), "a"), path, "p")
    arrival = _rows(spark, (5, 10), "a").cache()
    try:
        append_parquet(spark, arrival, path, "p")
        assert arrival.storageLevel != StorageLevel.NONE
    finally:
        arrival.unpersist()
    assert spark.read.parquet(path).count() == 10


def test_append_never_rewrites_a_file_at_half_the_split_size(spark, tmp_path):
    """A file at or above half of spark.sql.files.maxPartitionBytes is closed:
    an append to its value adds one file beside it and leaves it as it was,
    name and mtime, while an open value's tail is merged away."""
    path = str(tmp_path / "t")
    append_parquet(
        spark, _rows(spark, (0, 400), "big").unionByName(_rows(spark, (400, 405), "small")),
        path, "p",
    )
    (big,) = (Path(path) / "p=big").glob("*.parquet")
    before_big = _part_files(path, "p=big")
    conf = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, str(2 * big.stat().st_size))
    try:
        append_parquet(
            spark,
            _rows(spark, (405, 410), "big").unionByName(_rows(spark, (410, 415), "small")),
            path, "p",
        )
        # a second append merges into the new small file, not the closed one
        append_parquet(spark, _rows(spark, (415, 420), "big"), path, "p")
    finally:
        spark.conf.set(conf, saved)

    after_big = _part_files(path, "p=big")
    assert {k: v for k, v in after_big.items() if k in before_big} == before_big
    assert len(after_big) == 2
    assert _data_file_counts(path) == {"p=big": 2, "p=small": 1}
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(420))


def test_append_cuts_a_large_merge_into_closed_files(spark, tmp_path):
    """A merge bigger than the split size is cut by on-disk bytes: every file
    it writes is at or above half the split size but at most one per value,
    so no value is left with more than one open file."""
    path = str(tmp_path / "t")
    append_parquet(spark, _rows(spark, (0, 50), "a"), path, "p")
    (tail,) = (Path(path) / "p=a").glob("*.parquet")
    conf = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(conf)
    split = 4 * tail.stat().st_size
    spark.conf.set(conf, str(split))
    try:
        append_parquet(spark, _rows(spark, (50, 2000), "a"), path, "p")
    finally:
        spark.conf.set(conf, saved)

    sizes = [f.stat().st_size for f in (Path(path) / "p=a").glob("*.parquet")]
    assert len(sizes) > 1, sizes
    assert sum(s < split // 2 for s in sizes) <= 1, (split, sizes)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(2000))


def test_append_sizes_new_values_by_the_tables_bytes_per_row(spark, tmp_path):
    """Touched values that hold no file yet are sized by the bytes per row of
    any data file of the table, so a large arrival into new values is cut
    into several files, not written by one task as one file."""
    path = str(tmp_path / "t")
    append_parquet(spark, _rows(spark, (0, 20_000), "a"), path, "p")
    conf = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, str(64 * 1024))
    try:
        append_parquet(spark, _rows(spark, (20_000, 40_000), "b").unionByName(
            _rows(spark, (40_000, 60_000), "c")), path, "p")
    finally:
        spark.conf.set(conf, saved)

    counts = _data_file_counts(path)
    assert counts["p=b"] > 1 and counts["p=c"] > 1, counts
    assert spark.read.parquet(path).count() == 60_000


def test_first_append_is_rebalanced_not_one_task(spark, tmp_path):
    """A missing table is created by a rebalanced write: under AQE a value
    larger than the advisory partition size is split over several files
    instead of going through one task."""
    path = str(tmp_path / "t")
    conf = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, str(256 * 1024))
    try:
        append_parquet(spark, _rows(spark, (0, 40_000), "a"), path, "p")
    finally:
        spark.conf.set(conf, saved)

    assert _data_file_counts(path)["p=a"] > 1
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(40_000))


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
