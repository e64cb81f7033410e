"""Small-file compaction (operators/compact.py): the maintenance pass that keeps
incrementally-fed Parquet tables scannable at scale. Content must survive the
rewrite exactly; file counts must actually shrink; an already-compact table must
not be rewritten, and a closed file never moves. Compaction aims at
`spark.sql.files.maxPartitionBytes`, so the tests set it (`_split`)."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.operators.compact import (
    compact_parquet_dir,
    dir_parquet_stats,
)

SF_DIR = "/root/testdata/sf0.001"


@contextmanager
def _split(spark, n_bytes: int):
    """`spark.sql.files.maxPartitionBytes` set to `n_bytes`, restored after."""
    conf = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, str(n_bytes))
    try:
        yield
    finally:
        spark.conf.set(conf, saved)


def _fragmented_copy(spark, tmp_path, n_files: int, partition_column=None) -> str:
    src = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "orders_fragmented")
    writer = src.repartition(n_files).write.format("parquet")
    if partition_column:
        src = src.withColumn(partition_column, F.col("o_orderstatus"))
        writer = src.repartition(n_files).write.format("parquet").partitionBy(
            partition_column
        )
    writer.save(path)
    return path


def test_compact_shrinks_files_preserves_rows(spark, tmp_path):
    path = _fragmented_copy(spark, tmp_path, n_files=40)
    before = spark.read.parquet(path)
    before_rows = sorted(before.collect())
    n_before, total_bytes = dir_parquet_stats(path)
    assert n_before == 40

    # target = whole table in one file
    with _split(spark, total_bytes + 1):
        stats = compact_parquet_dir(spark, path)
    assert stats["files_before"] == 40
    assert stats["files_after"] == 1
    after_rows = sorted(spark.read.parquet(path).collect())
    assert after_rows == before_rows


def test_compact_noop_when_already_compact(spark, tmp_path):
    path = _fragmented_copy(spark, tmp_path, n_files=2)
    _, total_bytes = dir_parquet_stats(path)
    first_listing = sorted(p for p in __import__("pathlib").Path(path).rglob("*"))
    with _split(spark, total_bytes // 2):
        stats = compact_parquet_dir(spark, path)
    # 2 files <= ceil(bytes/target)=2 or 3 -> no rewrite at all (same file objects)
    assert stats["files_before"] == stats["files_after"] == 2
    assert sorted(p for p in __import__("pathlib").Path(path).rglob("*")) == (
        first_listing
    )


def test_compact_partitioned_noop_keeps_file_names(spark, tmp_path):
    """An already-compact partitioned table is judged per value: with one file
    per value and every value under the target, nothing is rewritten."""
    import pathlib

    path = _fragmented_copy(spark, tmp_path, n_files=1, partition_column="p_status")
    before = sorted(pathlib.Path(path).rglob("*.parquet"))
    assert len(before) > 1  # one file in each of several values
    stats = compact_parquet_dir(spark, path, partition_column="p_status")
    assert stats["files_before"] == stats["files_after"] == len(before)
    assert sorted(pathlib.Path(path).rglob("*.parquet")) == before


def test_compact_merges_open_files_and_never_moves_a_closed_one(spark, tmp_path):
    """A value holding one closed file and two open ones: compaction merges
    the open files into one, and the closed file keeps its name and mtime."""
    import pathlib

    path = str(tmp_path / "t")
    for lo, hi in ((0, 2000), (2000, 2010), (2010, 2020)):  # one file each
        spark.range(lo, hi, 1, 1).selectExpr(
            "cast(id AS int) AS id", "sha2(cast(id AS string), 256) AS v", "'a' AS p"
        ).write.mode("append").partitionBy("p").parquet(path)
    value = pathlib.Path(path) / "p=a"
    files = sorted(value.glob("*.parquet"), key=lambda f: f.stat().st_size)
    assert len(files) == 3
    big = files[-1]
    big_mtime = big.stat().st_mtime_ns

    with _split(spark, 2 * big.stat().st_size):  # big sits at half: closed
        stats = compact_parquet_dir(spark, path, partition_column="p")

    assert stats["files_before"] == 3 and stats["files_after"] == 2
    assert big.exists() and big.stat().st_mtime_ns == big_mtime
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(2020))


def test_compact_partitioned_keeps_layout(spark, tmp_path):
    path = _fragmented_copy(spark, tmp_path, n_files=16, partition_column="p_status")
    before_rows = sorted(
        spark.read.parquet(path).drop("p_status").collect()
    )
    n_before, total_bytes = dir_parquet_stats(path)
    assert n_before > 3  # fragmented across partition dirs

    with _split(spark, total_bytes + 1):
        compact_parquet_dir(spark, path, partition_column="p_status")
    after = spark.read.parquet(path)
    # hive layout survives: partition column still derivable from dirs
    assert "p_status" in after.columns
    assert sorted(after.drop("p_status").collect()) == before_rows
    n_after, _ = dir_parquet_stats(path)
    assert n_after < n_before


def test_write_clustered_files_cover_disjoint_ranges(spark, tmp_path):
    """write_clustered's whole point: each parquet file owns a disjoint range of
    the cluster column, so footer min/max stats can skip whole files for range
    predicates. Verified by reading every file individually."""
    import pathlib

    from movie_genre_data_pipeline_spark.operators.writers import write_clustered

    src = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "orders_clustered")
    write_clustered(src, path, "o_totalprice", n_files=8)

    files = sorted(
        str(p)
        for p in pathlib.Path(path).glob("*.parquet")
        if not p.name.startswith((".", "_"))
    )
    assert len(files) >= 4  # range partitioner may merge sparse bounds
    spans = []
    for f in files:
        row = (
            spark.read.parquet(f)
            .agg(F.min("o_totalprice"), F.max("o_totalprice"), F.count("*"))
            .collect()[0]
        )
        if row[2]:
            spans.append((row[0], row[1]))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, spans  # disjoint (boundary equality allowed)

    # content intact
    assert spark.read.parquet(path).count() == src.count()


def test_compact_partitioned_splits_large_partition_values(spark, tmp_path):
    """ADVICE r01: hashing on the partition column alone gave exactly one output
    file per value regardless of size. With the splitter key, a dominant
    partition value must fan out across multiple files when the byte target
    demands more files than there are values."""
    import pathlib

    path = _fragmented_copy(spark, tmp_path, n_files=24, partition_column="p_status")
    before_rows = sorted(spark.read.parquet(path).drop("p_status").collect())
    _, total_bytes = dir_parquet_stats(path)
    part_dirs = [d for d in pathlib.Path(path).iterdir() if d.is_dir()]
    n_values = len(part_dirs)

    # demand ~3 files per partition value
    with _split(spark, max(1, total_bytes // (3 * n_values))):
        stats = compact_parquet_dir(spark, path, partition_column="p_status")
    assert stats["files_after"] < stats["files_before"]
    # the biggest partition value (O's dominate o_orderstatus) got >1 file
    sizes = {
        d.name: len(list(d.glob("*.parquet")))
        for d in pathlib.Path(path).iterdir() if d.is_dir()
    }
    assert max(sizes.values()) > 1, sizes
    assert sorted(spark.read.parquet(path).drop("p_status").collect()) == before_rows


# -- CDC snapshot diff (operators/cdc.py, r5) -------------------------------------------
def test_snapshot_diff_classification(spark):
    import pytest
    from pyspark.sql import functions as F

    from movie_genre_data_pipeline_spark.operators.cdc import purge_keys, snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    # NULL->value and value->NULL are real updates; NULL==NULL is not
    assert got == {1: "unchanged", 2: "updated", 3: "updated",
                   4: "deleted", 5: "inserted"}
    with pytest.raises(ValueError):
        snapshot_diff(old, new, [], ["v"])

    tomb = spark.createDataFrame([(1,), (3,)], "k long")
    kept, purged = purge_keys(old, tomb, ["k"])
    assert sorted(r["k"] for r in kept.collect()) == [2, 4]
    assert sorted(r["k"] for r in purged.collect()) == [1, 3]


def test_plan_bins_pack_to_target(spark):
    """Five 1000-byte files at target 2000: exclusive-prefix cumsum 0,1000,
    2000,3000,4000 → bins 0,0,1,1,2."""
    from movie_genre_data_pipeline_spark.operators.compact import (
        plan_compaction_bins,
    )

    manifest = spark.createDataFrame(
        [(i, 1000) for i in range(5)], ["file_id", "size"]
    )
    plan = {
        r.bin_id: (r.n_files, r.bin_bytes, r.first_file, r.last_file)
        for r in plan_compaction_bins(
            manifest, "size", "file_id", target_bytes=2000
        ).collect()
    }
    assert plan == {0: (2, 2000, 0, 1), 1: (2, 2000, 2, 3), 2: (1, 1000, 4, 4)}


def test_plan_bins_never_span_partitions(spark):
    from movie_genre_data_pipeline_spark.operators.compact import (
        plan_compaction_bins,
    )

    rows = [("p1", i, 600) for i in range(4)] + [("p2", i, 600) for i in range(3)]
    manifest = spark.createDataFrame(rows, ["part", "file_id", "size"])
    plan = plan_compaction_bins(
        manifest, "size", "file_id", target_bytes=1000, partition_col="part"
    ).collect()
    # every partition restarts at bin 0 and bins account for every file
    assert {r.part for r in plan} == {"p1", "p2"}
    assert min(r.bin_id for r in plan if r.part == "p2") == 0
    assert sum(r.n_files for r in plan) == 7
    assert sum(r.bin_bytes for r in plan) == 7 * 600


def test_plan_bins_reject_bad_target(spark):
    import pytest

    from movie_genre_data_pipeline_spark.operators.compact import (
        plan_compaction_bins,
    )

    with pytest.raises(ValueError):
        plan_compaction_bins(spark.range(1), "id", "id", target_bytes=0)


# r16 driver-budget: ~60 s alone; the fold-through-compaction identity
# stays default-covered by test_stream_split_invariance's
# stream_ledger_compact representative.
@pytest.mark.slow
def test_bm25_ledger_fold_survives_mid_stream_compaction(spark, tmp_path):
    """VERDICT r9 #7: the continuous BM25 index appends postings ledgers per
    micro-batch; a maintenance compaction of those ledgers while the stream
    is live (small-file GC) must not change the fold — the readout is a pure
    function of ledger ROWS, not file layout. Run the stream twin's exact
    append path (bm25_append_postings) over a real availableNow stream,
    compact BOTH ledgers inside foreachBatch after batch 1, and assert the
    folded top-k equals the batch ranker's answer on the same corpus."""
    from movie_genre_data_pipeline_spark.operators.compact import (
        compact_parquet_dir,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite._twin import run_twin
    from movie_genre_data_pipeline_spark.suite.streaming_ledger_queries import (
        bm25_append_postings,
        bm25_fold_ledgers,
    )
    from movie_genre_data_pipeline_spark.suite.text_queries import q_bm25_topk

    sf = "/root/testdata/sf0.001"
    led_tf, led_dl = str(tmp_path / "tf"), str(tmp_path / "dl")
    d = load(spark, sf, "documents").select("doc_id", "text")
    compactions: list[dict] = []

    def apply_batch(batch_df, batch_id):
        bm25_append_postings(batch_df, led_tf, led_dl)
        if batch_id == 1:
            # big target => everything into one file; the GC a live index runs
            for led in (led_tf, led_dl):
                compactions.append(compact_parquet_dir(spark, led))

    with _split(spark, 1 << 30):
        run_twin(d, apply_batch, str(tmp_path))

    assert len(compactions) == 2
    assert all(s["files_after"] < s["files_before"] for s in compactions), (
        f"compaction was a no-op, the test proved nothing: {compactions}"
    )
    got = sorted(map(tuple, bm25_fold_ledgers(spark, led_tf, led_dl).collect()))
    exp = sorted(map(tuple, q_bm25_topk(spark, sf).collect()))
    assert got == exp


def test_plan_bins_unpartitioned_matches_single_task_window(spark):
    """r10: the global (no partition_col) bin-packing runs through
    ranged_running_sum instead of an unpartitioned window — bin assignment
    must be bit-identical to the single-task-window formula it replaced."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from movie_genre_data_pipeline_spark.operators.compact import (
        plan_compaction_bins,
    )

    manifest = spark.range(0, 500).selectExpr(
        "concat('f', lpad(cast(id as string), 4, '0')) AS path",
        "cast((id * 37) % 991 + 10 AS bigint) AS bytes",
    )
    got = plan_compaction_bins(
        manifest, size_col="bytes", order_col="path", target_bytes=1500
    )
    prev = F.coalesce(
        F.sum(F.col("bytes")).over(
            Window.orderBy("path").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    exp = (
        manifest.withColumn(
            "bin_id", F.floor(prev / F.lit(1500)).cast("bigint")
        )
        .groupBy("bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum(F.col("bytes").cast("bigint")).alias("bin_bytes"),
            F.min("path").alias("first_file"),
            F.max("path").alias("last_file"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
