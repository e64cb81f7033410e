"""Incremental-pipeline tests (SURVEY.md §5): true incrementality across two
availableNow rounds, and batch ≡ incremental silver equivalence — the invariant
the reference never verifies (it ships both variants untested). Also the lake's
Parquet codec: every table both variants write is zstd, and a lake begun with
snappy takes zstd appends without changing what it holds."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.config import Clock, PipelineConfig
from movie_genre_data_pipeline_spark.plans.medallion import MedallionPipeline
from movie_genre_data_pipeline_spark.sources.batch import read_parquet
from movie_genre_data_pipeline_spark.streaming.incremental import (
    IncrementalMedallionPipeline,
)
from tests.conftest import _movie

FILE1 = {
    "movie": [
        _movie(1, "Alpha", budget=50000.0, genres=[(1, "Action"), (2, "")]),
        _movie(2, "Beta", runtime=-90, language="fr", genres=[(3, "Drama")]),
        _movie(3, "Gamma", genres=[(1, "Action")]),
        _movie(3, "Gamma", genres=[(1, "Action")]),
    ]
}
FILE2 = {
    "movie": [
        _movie(3, "Gamma", genres=[(1, "Action")]),
        _movie(4, "Delta", runtime=-45, budget=80000.0, language="de",
               genres=[(2, ""), (4, "Comedy")]),
        _movie(5, "Epsilon", language="fr", genres=[(3, "Drama"), (5, "Horror")]),
    ]
}


def _silver_movie_rows(spark, cfg) -> set:
    df = read_parquet(spark, cfg.silver_path("movie"))
    return {
        (r["Id"], r["Title"], r["RunTime"], r["Budget"], str(r["p_CreatedDate"]),
         tuple(r["Genres_Id"]), r["Language_Id"])
        for r in df.collect()
    }


@pytest.mark.slow  # r16 driver-budget: heavy member; runs in the -m slow pass
def test_incremental_two_rounds_and_batch_equivalence(spark, tmp_path: Path):
    clock = Clock(fixed_utc="2024-01-01 00:00:00")
    raw = tmp_path / "raw"
    raw.mkdir()

    # --- incremental lake: round 1 sees only file1
    inc_cfg = PipelineConfig(root=str(tmp_path / "inc_lake"), clock=clock)
    inc = IncrementalMedallionPipeline(spark, inc_cfg)
    (raw / "movies_part1.json").write_text(json.dumps(FILE1))
    inc.run(str(raw))

    bronze1 = read_parquet(spark, inc_cfg.bronze_path).count()
    assert bronze1 == 4  # only file1's rows ingested
    silver1 = _silver_movie_rows(spark, inc_cfg)
    assert {r[0] for r in silver1} == {1, 2, 3}  # 2 repaired in-round

    # --- round 2: file2 arrives; checkpoint must skip file1
    (raw / "movies_part2.json").write_text(json.dumps(FILE2))
    inc.run(str(raw))
    bronze2 = read_parquet(spark, inc_cfg.bronze_path).count()
    assert bronze2 == 7  # +3, file1 NOT re-ingested

    silver2 = _silver_movie_rows(spark, inc_cfg)
    assert {r[0] for r in silver2} == {1, 2, 3, 4, 5}
    runtimes = {r[0]: r[2] for r in silver2}
    assert runtimes[2] == 90 and runtimes[4] == 45  # abs-repaired

    # every record ends 'loaded'
    status = inc.current_status()
    assert status.filter(F.col("status") != "loaded").count() == 0

    # --- batch lake over the SAME raw files, then compare
    batch_cfg = PipelineConfig(root=str(tmp_path / "batch_lake"), clock=clock)
    batch = MedallionPipeline(spark, batch_cfg)
    batch.run(str(raw))
    batch_silver = _silver_movie_rows(spark, batch_cfg)
    assert batch_silver == silver2

    # dims equal too
    for dim, key in [("genres", "Id"), ("language", "OriginalLanguage")]:
        b = {tuple(r) for r in read_parquet(spark, batch_cfg.silver_path(dim)).collect()}
        i = {tuple(r) for r in read_parquet(spark, inc_cfg.silver_path(dim)).collect()}
        assert b == i, f"{dim} dim diverged"

    # batch ≡ incremental extends through GOLD (r6; both marts since r8):
    # same silver ⇒ same marts
    for mart in ("genre_revenue", "language_revenue"):
        bg = {
            tuple(r)
            for r in read_parquet(spark, batch_cfg.gold_path(mart)).collect()
        }
        ig = {
            tuple(r)
            for r in read_parquet(spark, inc_cfg.gold_path(mart)).collect()
        }
        assert bg == ig and bg, f"gold mart {mart} diverged between variants"


def test_incremental_rerun_is_idempotent(spark, tmp_path: Path):
    clock = Clock(fixed_utc="2024-01-01 00:00:00")
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "movies.json").write_text(json.dumps(FILE1))
    cfg = PipelineConfig(root=str(tmp_path / "lake"), clock=clock)
    inc = IncrementalMedallionPipeline(spark, cfg)
    inc.run(str(raw))
    first = _silver_movie_rows(spark, cfg)
    inc.run(str(raw))  # no new files: no-op round
    assert _silver_movie_rows(spark, cfg) == first
    assert read_parquet(spark, cfg.bronze_path).count() == 4


def test_renamed_genre_keeps_one_row_in_both_variants(spark, tmp_path: Path):
    """Both variants key the silver genres table on its natural key `Id`: a
    genre that comes back under a new name in a later run keeps its first
    row, so silver holds one row for it and gold reports it once."""
    clock = Clock(fixed_utc="2024-01-01 00:00:00")
    runs = [
        {"movie": [_movie(1, "Alpha", genres=[(1, "Action")])]},
        {"movie": [_movie(2, "Beta", genres=[(1, "Action Movies")])]},
    ]
    batch_cfg = PipelineConfig(root=str(tmp_path / "batch_lake"), clock=clock)
    inc_cfg = PipelineConfig(root=str(tmp_path / "inc_lake"), clock=clock)
    batch = MedallionPipeline(spark, batch_cfg)
    inc = IncrementalMedallionPipeline(spark, inc_cfg)
    inc_raw = tmp_path / "inc_raw"
    inc_raw.mkdir()
    for i, payload in enumerate(runs):
        batch_raw = tmp_path / f"batch_raw{i}"
        batch_raw.mkdir()
        (batch_raw / "movies.json").write_text(json.dumps(payload))
        batch.raw_to_bronze(str(batch_raw), mode="append")
        batch.bronze_to_silver()
        batch.silver_update()
        batch.silver_to_gold()
        (inc_raw / f"movies_{i}.json").write_text(json.dumps(payload))
        inc.run(str(inc_raw))

    for cfg in (batch_cfg, inc_cfg):
        genres = read_parquet(spark, cfg.silver_path("genres")).filter("Id = 1")
        assert [tuple(r) for r in genres.collect()] == [(1, "Action")], cfg.root
        gold = read_parquet(spark, cfg.gold_path("genre_revenue")).filter("genre_id = 1")
        assert [(r["genre_name"], r["n_movies"]) for r in gold.collect()] == [
            ("Action", 2)
        ], cfg.root


@pytest.mark.parametrize(
    "variant", [MedallionPipeline, IncrementalMedallionPipeline], ids=["batch", "incremental"]
)
def test_genre_named_twice_in_one_arrival_keeps_one_row(spark, tmp_path: Path, variant):
    """One arrival carries genre 1 under two names: silver keeps one row for
    it (the smaller name) and the genre mart counts both movies under it."""
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "movies.json").write_text(json.dumps({"movie": [
        _movie(1, "Alpha", genres=[(1, "Action")]),
        _movie(2, "Beta", genres=[(1, "Action Movies")]),
    ]}))
    cfg = PipelineConfig(
        root=str(tmp_path / "lake"), clock=Clock(fixed_utc="2024-01-01 00:00:00")
    )
    variant(spark, cfg).run(str(raw))
    genres = read_parquet(spark, cfg.silver_path("genres")).filter("Id = 1")
    assert [tuple(r) for r in genres.collect()] == [(1, "Action")]
    gold = read_parquet(spark, cfg.gold_path("genre_revenue")).filter("genre_id = 1")
    assert [(r["genre_name"], r["n_movies"]) for r in gold.collect()] == [("Action", 2)]


CODEC_CONF = "spark.sql.parquet.compression.codec"
# every table both variants write, as <zone>/<table> under the lake root
LAKE_TABLES = [
    "bronze/movie_bronze",
    "silver/movie_silver",
    "silver/genres_silver",
    "silver/language_silver",
    "gold/genre_revenue_gold",
    "gold/language_revenue_gold",
]
SILVER_GOLD = [t for t in LAKE_TABLES if not t.startswith("bronze/")]


def _codecs_by_table(root: str) -> dict[str, set[str]]:
    """<zone>/<table> -> the codecs of every column chunk of every Parquet
    file under it (partition directories included)."""
    out: dict[str, set[str]] = {}
    for f in Path(root).rglob("*.parquet"):
        table = "/".join(f.relative_to(root).parts[:2])
        meta = pq.ParquetFile(f).metadata
        out.setdefault(table, set()).update(
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        )
    return out


def _table_rows(spark, path: str) -> list[str]:
    df = read_parquet(spark, path)
    return sorted(repr(tuple(r)) for r in df.select(sorted(df.columns)).collect())


@pytest.fixture(scope="module")
def batch_lake(spark, tmp_path_factory) -> PipelineConfig:
    """One batch run over FILE1 and FILE2, written with the session's codec."""
    root = tmp_path_factory.mktemp("codec_batch")
    raw = root / "raw"
    raw.mkdir()
    (raw / "movies_part1.json").write_text(json.dumps(FILE1))
    (raw / "movies_part2.json").write_text(json.dumps(FILE2))
    cfg = PipelineConfig(
        root=str(root / "lake"), clock=Clock(fixed_utc="2024-01-01 00:00:00")
    )
    MedallionPipeline(spark, cfg).run(str(raw))
    return cfg


def _two_incremental_rounds(spark, tmp_path: Path, first_codec: str | None) -> PipelineConfig:
    """FILE1 in round 1 (under `first_codec` when given), FILE2 in round 2
    under the session's codec."""
    raw = tmp_path / "raw"
    raw.mkdir()
    cfg = PipelineConfig(
        root=str(tmp_path / "inc_lake"), clock=Clock(fixed_utc="2024-01-01 00:00:00")
    )
    inc = IncrementalMedallionPipeline(spark, cfg)
    session_codec = spark.conf.get(CODEC_CONF)
    (raw / "movies_part1.json").write_text(json.dumps(FILE1))
    try:
        if first_codec:
            spark.conf.set(CODEC_CONF, first_codec)
        inc.run(str(raw))
    finally:
        spark.conf.set(CODEC_CONF, session_codec)
    (raw / "movies_part2.json").write_text(json.dumps(FILE2))
    inc.run(str(raw))
    return cfg


def test_every_lake_table_is_written_zstd(spark, batch_lake, tmp_path: Path):
    """The session default reaches every writer: the rebalanced and plain
    batch writes, the staged bronze status rewrite, the incremental bronze
    append inside the stream, the status ledger appends and the gold marts."""
    inc_cfg = _two_incremental_rounds(spark, tmp_path, first_codec=None)
    assert _codecs_by_table(batch_lake.root) == {t: {"ZSTD"} for t in LAKE_TABLES}
    assert _codecs_by_table(inc_cfg.root) == {
        t: {"ZSTD"} for t in LAKE_TABLES + ["bronze/status_ledger"]
    }


def test_snappy_lake_takes_zstd_appends(spark, batch_lake, tmp_path: Path):
    """Parquet records the codec per column chunk: an incremental lake begun
    with snappy still equals the batch lake built from the same files after a
    zstd round. Bronze, the status ledger and silver movie are zstd only: the
    zstd round merged their small snappy files into its appends."""
    inc_cfg = _two_incremental_rounds(spark, tmp_path, first_codec="snappy")
    assert spark.conf.get(CODEC_CONF) == "zstd"
    codecs = _codecs_by_table(inc_cfg.root)
    for table in ("bronze/movie_bronze", "bronze/status_ledger", "silver/movie_silver"):
        assert codecs[table] == {"ZSTD"}, table
    for table in SILVER_GOLD:
        assert _table_rows(spark, str(Path(inc_cfg.root) / table)) == _table_rows(
            spark, str(Path(batch_lake.root) / table)
        ), table


def test_file_sink_bronze_is_rejected(spark, tmp_path: Path):
    """A bronze directory that a Parquet file sink wrote is listed by Spark
    through its `_spark_metadata` log, which would hide merged files: the
    stream refuses it before it starts."""
    cfg = PipelineConfig(root=str(tmp_path / "lake"))
    (Path(cfg.bronze_path) / "_spark_metadata").mkdir(parents=True)
    with pytest.raises(ValueError, match="_spark_metadata"):
        IncrementalMedallionPipeline(spark, cfg).raw_to_bronze(str(tmp_path / "raw"))


class _FailAfterSilver(IncrementalMedallionPipeline):
    """Every write of a micro-batch lands, then the batch fails, so Spark
    never commits it and the next round replays it."""

    def bronze_to_silver(self, bronze):
        super().bronze_to_silver(bronze)
        raise RuntimeError("fail after the batch's writes")


def test_replayed_batch_appends_bronze_once(spark, tmp_path: Path):
    """A micro-batch that failed after its writes is replayed by the next
    round: bronze keeps one copy of each raw row, and silver and gold equal
    those of a lake that never failed."""
    clock = Clock(fixed_utc="2024-01-01 00:00:00")
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "movies.json").write_text(json.dumps(FILE2))
    replayed = PipelineConfig(root=str(tmp_path / "replayed"), clock=clock)
    with pytest.raises(StreamingQueryException):
        _FailAfterSilver(spark, replayed).run(str(raw))
    assert not (Path(replayed.checkpoint_path("bronze")) / "commits" / "0").exists()
    IncrementalMedallionPipeline(spark, replayed).run(str(raw))
    assert read_parquet(spark, replayed.bronze_path).count() == len(FILE2["movie"])

    plain = PipelineConfig(root=str(tmp_path / "plain"), clock=clock)
    IncrementalMedallionPipeline(spark, plain).run(str(raw))
    for table in SILVER_GOLD:
        assert _table_rows(spark, str(Path(replayed.root) / table)) == _table_rows(
            spark, str(Path(plain.root) / table)
        ), table


# Two arrivals over two CreatedDates and the null date (CreatedDate missing):
# round 2 touches every value round 1 wrote, and each round repairs a
# quarantined movie into a value it already touched.
DATED_ROUNDS = [
    {"movie": [
        _movie(11, "Jan", created="2020-01-15"),
        _movie(12, "Feb", runtime=-70, created="2020-02-15"),
        _movie(13, "Undated", created=None),
    ]},
    {"movie": [
        _movie(14, "Jan2", language="fr", genres=[(6, "War")], created="2020-01-15"),
        _movie(15, "Feb2", created="2020-02-15"),
        _movie(16, "Undated2", runtime=-30, created=None),
    ]},
]


@pytest.fixture(scope="module")
def dated_lakes(spark, tmp_path_factory) -> tuple[PipelineConfig, PipelineConfig]:
    """(incremental lake after one round per DATED_ROUNDS file, batch lake
    over both files)."""
    root = tmp_path_factory.mktemp("dated")
    clock = Clock(fixed_utc="2024-01-01 00:00:00")
    raw = root / "raw"
    raw.mkdir()
    inc_cfg = PipelineConfig(root=str(root / "inc_lake"), clock=clock)
    inc = IncrementalMedallionPipeline(spark, inc_cfg)
    for i, payload in enumerate(DATED_ROUNDS):
        (raw / f"movies_{i}.json").write_text(json.dumps(payload))
        inc.run(str(raw))
    batch_cfg = PipelineConfig(root=str(root / "batch_lake"), clock=clock)
    MedallionPipeline(spark, batch_cfg).run(str(raw))
    return inc_cfg, batch_cfg


def _files_per_dir(table_path: str) -> dict[str, int]:
    """Data files in each directory of a table that holds any."""
    out: dict[str, int] = {}
    for f in Path(table_path).rglob("*.parquet"):
        if not f.name.startswith(("_", ".")):
            key = f.parent.name if f.parent != Path(table_path) else "."
            out[key] = out.get(key, 0) + 1
    return out


def test_two_rounds_keep_one_file_per_value(dated_lakes):
    """Every append merges into its value's small tail file: after two rounds
    bronze's ingest date and each silver movie date, the null date included,
    hold one data file, and genres, language and the status ledger hold one
    each. Both rounds ran one stream, under one checkpoint."""
    inc_cfg, _ = dated_lakes
    assert _files_per_dir(inc_cfg.bronze_path) == {"p_ingestdate=2024-01-01": 1}
    assert not (Path(inc_cfg.bronze_path) / "_spark_metadata").exists()
    checkpoints = Path(inc_cfg.checkpoint_path("bronze")).parent
    assert [d.name for d in checkpoints.iterdir()] == ["bronze"]
    movie = _files_per_dir(inc_cfg.silver_path("movie"))
    assert movie == {
        "p_CreatedDate=2020-01-15": 1,
        "p_CreatedDate=2020-02-15": 1,
        "p_CreatedDate=__HIVE_DEFAULT_PARTITION__": 1,
    }
    ledger = str(Path(inc_cfg.root) / "bronze" / "status_ledger")
    for table in (inc_cfg.silver_path("genres"), inc_cfg.silver_path("language"), ledger):
        assert _files_per_dir(table) == {".": 1}, table


def test_undated_movies_survive_two_rounds_like_batch(spark, dated_lakes):
    """Movies with a null CreatedDate live in the null partition: the round-2
    merge into it keeps round 1's movie, and both lakes hold the same
    silver and gold tables."""
    inc_cfg, batch_cfg = dated_lakes
    undated = read_parquet(spark, inc_cfg.silver_path("movie")).filter(
        F.col("p_CreatedDate").isNull()
    )
    assert sorted((r.Id, r.RunTime) for r in undated.collect()) == [(13, 120), (16, 30)]
    assert _silver_movie_rows(spark, inc_cfg) == _silver_movie_rows(spark, batch_cfg)
    for table in SILVER_GOLD:
        assert _table_rows(spark, str(Path(inc_cfg.root) / table)) == _table_rows(
            spark, str(Path(batch_cfg.root) / table)
        ), table
