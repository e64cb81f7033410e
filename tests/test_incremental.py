"""Incremental-pipeline tests (SURVEY.md §5): true incrementality across two
availableNow rounds, and batch ≡ incremental silver equivalence — the invariant
the reference never verifies (it ships both variants untested)."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest
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
