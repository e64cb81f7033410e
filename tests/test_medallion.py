"""Pipeline-invariant tests (SURVEY.md §5): the reference's observable behavior,
reconstructed as assertions since it ships no tests."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.config import Clock, PipelineConfig
from movie_genre_data_pipeline_spark.plans.medallion import MedallionPipeline
from movie_genre_data_pipeline_spark.session import codegen_compiles
from movie_genre_data_pipeline_spark.sources.batch import read_parquet
from movie_genre_data_pipeline_spark.streaming.incremental import (
    IncrementalMedallionPipeline,
)
from tests.conftest import _movie


def _run(spark, pipeline_config, raw_movie_dir) -> MedallionPipeline:
    pipe = MedallionPipeline(spark, pipeline_config)
    pipe.raw_to_bronze(raw_movie_dir)
    pipe.bronze_to_silver()
    return pipe


def test_bronze_envelope(spark, pipeline_config, raw_movie_dir):
    pipe = MedallionPipeline(spark, pipeline_config)
    pipe.raw_to_bronze(raw_movie_dir)
    bronze = read_parquet(spark, pipeline_config.bronze_path)
    assert set(bronze.columns) == {
        "value", "datasource", "ingesttime", "status", "p_ingestdate"
    }
    assert bronze.count() == 7  # 4 + 3 movies, duplicates preserved at bronze
    assert bronze.filter(F.col("status") != "new").count() == 0
    assert bronze.select("datasource").distinct().collect()[0][0] == "movie.json"


def test_quarantine_split_and_status_machine(spark, pipeline_config, raw_movie_dir):
    pipe = _run(spark, pipeline_config, raw_movie_dir)
    bronze = read_parquet(spark, pipeline_config.bronze_path)
    # negative-RunTime movies (2, 4) quarantined — all their bronze dup rows too
    by_status = {
        r["status"]: r["n"]
        for r in bronze.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert by_status == {"loaded": 5, "quarantined": 2}
    silver = read_parquet(spark, pipeline_config.silver_path("movie"))
    assert sorted(r["Id"] for r in silver.select("Id").collect()) == [1, 3, 5]

    # repair loop: quarantined → abs(RunTime) → appended to silver → loaded
    n = pipe.silver_update()
    assert n == 2
    silver = read_parquet(spark, pipeline_config.silver_path("movie"))
    rows = {r["Id"]: r["RunTime"] for r in silver.collect()}
    assert rows[2] == 90 and rows[4] == 45  # abs() repaired
    bronze = read_parquet(spark, pipeline_config.bronze_path)
    assert bronze.filter(F.col("status") != "loaded").count() == 0


def test_budget_floor_and_types(spark, pipeline_config, raw_movie_dir):
    _run(spark, pipeline_config, raw_movie_dir)
    silver = read_parquet(spark, pipeline_config.silver_path("movie"))
    budgets = {r["Id"]: r["Budget"] for r in silver.collect()}
    assert budgets[1] == 100000.0  # floored from 50000
    assert budgets[3] == 500000.0  # untouched
    dtypes = dict(silver.dtypes)
    assert dtypes["Id"] == "int" and dtypes["RunTime"] == "int"
    assert dtypes["ReleaseDate"] == "date" and dtypes["p_CreatedDate"] == "date"
    assert dtypes["Genres_Id"] == "array<bigint>"
    assert "value" not in silver.columns  # struct excluded from written silver


def test_genres_and_language_dims(spark, pipeline_config, raw_movie_dir):
    _run(spark, pipeline_config, raw_movie_dir)
    genres = read_parquet(spark, pipeline_config.silver_path("genres"))
    rows = {(r["Id"], r["name"]) for r in genres.collect()}
    # empty-name genre (id=2) dropped; distinct applied
    assert rows == {(1, "Action"), (3, "Drama"), (4, "Comedy"), (5, "Horror")}
    language = read_parquet(spark, pipeline_config.silver_path("language"))
    lrows = {(r["Id"], r["OriginalLanguage"]) for r in language.collect()}
    # degenerate reference semantics: every language Id == 1 (SURVEY.md §8.3)
    assert lrows == {(1, "en"), (1, "fr"), (1, "de")}


def test_idempotent_rerun(spark, pipeline_config, raw_movie_dir):
    pipe = _run(spark, pipeline_config, raw_movie_dir)
    pipe.silver_update()
    first = {
        (r["Id"], r["RunTime"], r["Budget"])
        for r in read_parquet(spark, pipeline_config.silver_path("movie")).collect()
    }
    # re-run the whole pipeline on the same raw input → identical silver
    pipe2 = MedallionPipeline(spark, pipeline_config)
    pipe2.raw_to_bronze(raw_movie_dir)
    pipe2.bronze_to_silver()
    pipe2.silver_update()
    second = {
        (r["Id"], r["RunTime"], r["Budget"])
        for r in read_parquet(spark, pipeline_config.silver_path("movie")).collect()
    }
    assert first == second


def test_bronze_accrual_keeps_prior_silver(
    spark, pipeline_config, raw_movie_dir, second_raw_movie_dir
):
    """ADVICE r01 (medium): when bronze accrues rows across runs, re-running
    bronze_to_silver must NOT drop previously loaded silver rows from touched
    partitions (both batches share p_CreatedDate=2020-01-15)."""
    pipe = _run(spark, pipeline_config, raw_movie_dir)  # Ids 1,3,5 loaded
    pipe.raw_to_bronze(second_raw_movie_dir, mode="append")
    pipe.bronze_to_silver()

    silver = read_parquet(spark, pipeline_config.silver_path("movie"))
    ids = sorted(r["Id"] for r in silver.select("Id").collect())
    # prior rows kept, new Id 6 appended, re-sent Id 3 NOT duplicated
    assert ids == [1, 3, 5, 6]

    genres = read_parquet(spark, pipeline_config.silver_path("genres"))
    rows = sorted((r["Id"], r["name"]) for r in genres.collect())
    # run-1 dims kept, SciFi appended once, Action not duplicated
    assert rows == [(1, "Action"), (3, "Drama"), (4, "Comedy"),
                    (5, "Horror"), (6, "SciFi")]

    # status machine: batch-2 rows fully resolved (new → loaded)
    bronze = read_parquet(spark, pipeline_config.bronze_path)
    assert bronze.filter(F.col("status") == "new").count() == 0


def test_null_runtime_in_neither_branch(spark, pipeline_config, null_runtime_raw_dir):
    """VERDICT r01 #3: NULL RunTime satisfies neither `RunTime >= 0` nor
    `NOT (RunTime >= 0)` — the row lands in neither clean nor quarantined and its
    bronze status stays 'new' (exactly the reference's two-filter behavior,
    operations/operations.py:105-106)."""
    pipe = MedallionPipeline(spark, pipeline_config)
    pipe.raw_to_bronze(null_runtime_raw_dir)
    pipe.bronze_to_silver()

    silver = read_parquet(spark, pipeline_config.silver_path("movie"))
    assert sorted(r["Id"] for r in silver.select("Id").collect()) == [7]

    bronze = read_parquet(spark, pipeline_config.bronze_path)
    status = {
        r["Id"]: r["status"]
        for r in bronze.select(F.col("value.Id").alias("Id"), "status").collect()
    }
    assert status == {7: "loaded", 8: "new"}


def test_null_runtime_split_expressions_agree_across_variants(
    spark, pipeline_config, null_runtime_raw_dir
):
    """Both variants split silver with the one shared silver_split: a NULL
    RunTime lands in neither half, so the incremental variant, like the batch
    one (test_null_runtime_in_neither_branch), leaves the row out of silver
    and at 'new'."""
    from movie_genre_data_pipeline_spark.plans.movie_transforms import (
        bronze_envelope,
        silver_split,
    )
    from movie_genre_data_pipeline_spark.sources.batch import read_multiline_json
    from movie_genre_data_pipeline_spark.streaming.incremental import value_key

    raw = read_multiline_json(spark, null_runtime_raw_dir)
    bronze = bronze_envelope(raw, "movie.json", pipeline_config.clock)
    clean, quarantined, _, _ = silver_split(bronze, pipeline_config.budget_floor)
    assert {r["Id"] for r in clean.collect()} == {7}
    assert quarantined.count() == 0

    inc = IncrementalMedallionPipeline(spark, pipeline_config)
    inc.run(null_runtime_raw_dir)
    silver = read_parquet(spark, pipeline_config.silver_path("movie"))
    assert sorted(r["Id"] for r in silver.select("Id").collect()) == [7]
    ids = read_parquet(spark, pipeline_config.bronze_path).select(
        value_key("value").alias("vkey"), F.col("value.Id").alias("Id")
    )
    status = {
        r["Id"]: r["status"] for r in ids.join(inc.current_status(), "vkey").collect()
    }
    assert status == {7: "loaded", 8: "new"}


def test_gold_genre_revenue_mart(spark, pipeline_config, raw_movie_dir):
    """Silver→Gold completes the medallion: one mart row per genre, the empty-
    name genre (dropped from the dim) takes its memberships with it, and the
    dim side is broadcast."""
    from movie_genre_data_pipeline_spark.plans.gold import GENRE, build_mart

    _run(spark, pipeline_config, raw_movie_dir)
    movie = read_parquet(spark, pipeline_config.silver_path("movie"))
    genres = read_parquet(spark, pipeline_config.silver_path("genres"))
    mart = build_mart(GENRE, movie, genres)
    rows = {r["genre_id"]: r for r in mart.collect()}
    # clean movies: Alpha(genres 1,2) floored to 100k budget, Gamma(1), Epsilon(3,5);
    # genre 2 has an empty name -> not in the dim -> membership dropped
    assert set(rows) == {1, 3, 5}
    action = rows[1]
    assert (action["genre_name"], action["n_movies"]) == ("Action", 2)
    assert action["total_budget"] == 600000.0  # 100000 (floored) + 500000
    assert action["total_revenue"] == 125000.0 + 1250000.0
    assert action["avg_runtime"] == 120.0
    assert rows[3]["genre_name"] == "Drama" and rows[3]["n_movies"] == 1
    assert rows[5]["genre_name"] == "Horror" and rows[5]["n_movies"] == 1
    # the genre dim must come in as a broadcast hash join (star-mart contract)
    plan = mart._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_gold_ivm_equals_rebuild(spark):
    """Folding the CDC feed into the integral state must equal a from-scratch
    rebuild bit-for-bit — across inserts, deletes, repricing updates, a
    genre-membership change, and a NULL runtime."""
    from movie_genre_data_pipeline_spark.operators.cdc import snapshot_diff
    from movie_genre_data_pipeline_spark.plans.gold import (
        GENRE,
        apply_delta,
        build_state,
        finalize,
    )

    schema = (
        "Id long, Revenue double, Budget double, RunTime int, "
        "Genres_Id array<int>"
    )
    snap_a = spark.createDataFrame(
        [
            (1, 100.10, 40.04, 100, [1, 2]),
            (2, 200.20, 80.08, 120, [2]),
            (3, 300.30, 120.12, None, [3]),   # NULL runtime in avg semantics
            (4, 400.40, 160.16, 90, [1, 3]),
        ],
        schema,
    )
    snap_b = spark.createDataFrame(
        [
            (1, 110.11, 40.04, 100, [1, 2]),  # updated: repriced
            (3, 300.30, 120.12, None, [1]),   # updated: genre set changed
            (4, 400.40, 160.16, 90, [1, 3]),  # unchanged
            (5, 500.50, 200.20, 80, [2, 3]),  # inserted
        ],                                     # 2 deleted
        schema,
    )
    dim = spark.createDataFrame(
        [(1, "Action"), (2, "Drama"), (3, "Comedy")], "Id int, name string"
    )
    changes = snapshot_diff(
        snap_a, snap_b, ["Id"], ["Revenue", "Budget", "RunTime", "Genres_Id"]
    )
    maintained = apply_delta(GENRE, build_state(GENRE, snap_a, dim), changes, dim)
    rebuilt = build_state(GENRE, snap_b, dim)
    key = lambda r: (r["genre_id"],)
    m_rows = sorted(map(tuple, maintained.filter("n_movies > 0").collect()))
    r_rows = sorted(map(tuple, rebuilt.collect()))
    assert m_rows == r_rows  # integral state: exact equality, not approx
    f_m = sorted(map(tuple, finalize(GENRE, maintained).collect()))
    f_r = sorted(map(tuple, finalize(GENRE, rebuilt).collect()))
    assert f_m == f_r
    # sanity on the published mart: genre 2 lost movie 2 (deleted) but gained 5
    mart = {r["genre_id"]: r for r in finalize(GENRE, maintained).collect()}
    assert mart[2]["n_movies"] == 2  # movies 1 and 5
    assert mart[1]["n_movies"] == 3  # movies 1, 3 (gained), 4
    assert mart[1]["avg_runtime"] == 95.0  # NULL runtime of movie 3 excluded


def test_gold_language_ivm_equals_rebuild(spark):
    """Language-mart IVM (r8): folding the CDC feed into the integral state
    equals a from-scratch rebuild bit-for-bit — inserts, deletes, repricing,
    a LANGUAGE MOVE (the scalar-FK retire/insert path), and a NULL runtime."""
    from movie_genre_data_pipeline_spark.operators.cdc import snapshot_diff
    from movie_genre_data_pipeline_spark.plans.gold import (
        LANGUAGE,
        apply_delta,
        build_state,
        finalize,
    )

    schema = (
        "Id long, Revenue double, Budget double, RunTime int, Language_Id int"
    )
    snap_a = spark.createDataFrame(
        [
            (1, 100.10, 40.04, 100, 1),
            (2, 200.20, 80.08, 120, 2),
            (3, 300.30, 120.12, None, 2),  # NULL runtime
            (4, 400.40, 160.16, 90, 3),
        ],
        schema,
    )
    snap_b = spark.createDataFrame(
        [
            (1, 110.11, 40.04, 100, 1),   # updated: repriced
            (3, 300.30, 120.12, None, 1), # updated: language MOVED 2 → 1
            (4, 400.40, 160.16, 90, 3),   # unchanged
            (5, 500.50, 200.20, 80, 2),   # inserted
        ],                                 # 2 deleted
        schema,
    )
    dim = spark.createDataFrame(
        [(1, "en"), (2, "fr"), (3, "ja")], "Id int, OriginalLanguage string"
    )
    changes = snapshot_diff(
        snap_a, snap_b, ["Id"], ["Revenue", "Budget", "RunTime", "Language_Id"]
    )
    maintained = apply_delta(
        LANGUAGE, build_state(LANGUAGE, snap_a, dim), changes, dim
    )
    rebuilt = build_state(LANGUAGE, snap_b, dim)
    m_rows = sorted(map(tuple, maintained.filter("n_movies > 0").collect()))
    r_rows = sorted(map(tuple, rebuilt.collect()))
    assert m_rows == r_rows  # integral state: exact equality
    f_m = sorted(map(tuple, finalize(LANGUAGE, maintained).collect()))
    f_r = sorted(map(tuple, finalize(LANGUAGE, rebuilt).collect()))
    assert f_m == f_r
    mart = {
        r["language_id"]: r for r in finalize(LANGUAGE, maintained).collect()
    }
    assert mart[1]["n_movies"] == 2      # movies 1 and 3 (moved in)
    assert mart[2]["n_movies"] == 1      # lost 2 (deleted) and 3, gained 5
    assert mart[1]["avg_runtime"] == 100.0  # NULL runtime of movie 3 excluded


def test_silver_to_gold_stage(spark, pipeline_config, raw_movie_dir):
    """run() now ends at gold: the mart parquet exists in the gold zone and
    includes the repaired (post-silver_update) movies."""
    pipe = MedallionPipeline(spark, pipeline_config)
    counts = pipe.run(raw_movie_dir)
    assert counts["gold_genres"] > 0
    gold = read_parquet(spark, pipeline_config.gold_path("genre_revenue"))
    rows = {r["genre_id"]: r for r in gold.collect()}
    # after repair, quarantined movies 2 (Drama) and 4 (Comedy) joined silver,
    # so Drama counts movies 2 and 5, and Comedy exists with movie 4
    assert rows[3]["n_movies"] == 2
    assert rows[4]["genre_name"] == "Comedy" and rows[4]["n_movies"] == 1
    # the gold layer is a registered catalog table (W6 parity: the reference
    # registers every layer) — same rows via spark.table as via the path
    table = f"{pipeline_config.database}.genre_revenue_gold"
    via_catalog = {r["genre_id"]: r for r in spark.table(table).collect()}
    assert via_catalog.keys() == rows.keys()
    assert via_catalog[3]["n_movies"] == 2
    # r8: the second mart (language) materializes in PARITY mode — the silver
    # language dim is degenerate (§8.3: every row Id=1, movies Language_Id=1),
    # so every language row aggregates EVERY silver movie identically
    lang = read_parquet(spark, pipeline_config.gold_path("language_revenue"))
    lrows = lang.collect()
    assert lrows, "language mart empty"
    n_silver = read_parquet(
        spark, pipeline_config.silver_path("movie")
    ).count()
    assert {r["language_id"] for r in lrows} == {1}
    assert all(r["n_movies"] == n_silver for r in lrows)
    assert len({(r["total_revenue"], r["total_budget"]) for r in lrows}) == 1
    lang_table = f"{pipeline_config.database}.language_revenue_gold"
    assert spark.table(lang_table).count() == len(lrows)


def test_rerun_reuses_generated_code(spark, raw_movie_dir, tmp_path):
    """A session that reruns the pipeline compiles its generated classes
    once: the third identical batch + incremental round, each into fresh
    lakes, compiles nothing. A round needs about 180 classes, more than
    Spark's default 100-entry codegen cache holds, so without the session's
    larger cache every round recompiles nearly all of them."""
    clock = Clock(fixed_utc="2024-01-01 00:00:00")
    compiled = []
    for i in range(3):
        before = codegen_compiles(spark)
        batch = PipelineConfig(root=str(tmp_path / f"batch{i}"), clock=clock)
        MedallionPipeline(spark, batch).run(raw_movie_dir)
        incremental = PipelineConfig(root=str(tmp_path / f"inc{i}"), clock=clock)
        IncrementalMedallionPipeline(spark, incremental).run(raw_movie_dir)
        compiled.append(codegen_compiles(spark) - before)
    assert compiled[2] == 0, f"classes compiled per round: {compiled}"


def _data_files(table_path: str, prefix: str) -> dict[str, int]:
    """Data files per partition directory `<prefix>...` of a Parquet table."""
    return {
        d.name: sum(1 for _ in d.glob("*.parquet"))
        for d in Path(table_path).iterdir()
        if d.is_dir() and d.name.startswith(prefix)
    }


@pytest.fixture()
def spread_raw_movie_dir(tmp_path: Path) -> str:
    """Four raw files (one read task each), every file holding clean and
    negative-RunTime movies across the same three CreatedDates, so each
    partition value of bronze and silver movie arrives from several tasks."""
    raw = tmp_path / "raw_spread"
    raw.mkdir()
    dates = ["2020-01-15", "2020-02-15", "2020-03-15"]
    for f in range(4):
        movies = [
            _movie(
                10 * f + i,
                f"M{f}_{i}",
                runtime=-60 if i % 3 == 0 else 100 + i,
                created=dates[i % 3],
            )
            for i in range(9)
        ]
        (raw / f"movies_{f}.json").write_text(json.dumps({"movie": movies}))
    return str(raw)


def test_batch_run_writes_one_file_per_partition_value(
    spark, pipeline_config, spread_raw_movie_dir
):
    """A bronze date holds one file however many raw files fed it (the
    rebalancing batch_writer), and a silver movie date holds one too: the
    repair append merges into the file bronze_to_silver wrote."""
    MedallionPipeline(spark, pipeline_config).run(spread_raw_movie_dir)
    bronze = _data_files(pipeline_config.bronze_path, "p_ingestdate=")
    assert bronze and set(bronze.values()) == {1}, bronze
    movie = _data_files(pipeline_config.silver_path("movie"), "p_CreatedDate=")
    assert len(movie) == 3 and set(movie.values()) == {1}, movie
    silver = read_parquet(spark, pipeline_config.silver_path("movie"))
    assert silver.count() == 36  # 4 files x 9 distinct movies, repaired included


def test_bronze_to_silver_rewrites_bronze_once(
    spark, pipeline_config, raw_movie_dir, monkeypatch
):
    """The loaded and quarantined flips are disjoint, so bronze_to_silver
    merges them in one (value, status) pass: one staged rewrite, not one per
    status."""
    from movie_genre_data_pipeline_spark import fsutil

    calls = []
    real = fsutil.rewrite_parquet

    def counting(*args, **kwargs):
        calls.append(kwargs.get("touched_values"))
        return real(*args, **kwargs)

    pipe = MedallionPipeline(spark, pipeline_config)
    pipe.raw_to_bronze(raw_movie_dir)
    monkeypatch.setattr(fsutil, "rewrite_parquet", counting)
    pipe.bronze_to_silver()
    assert len(calls) == 1, calls
    bronze = read_parquet(spark, pipeline_config.bronze_path)
    by_status = {
        r["status"]: r["n"]
        for r in bronze.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert by_status == {"loaded": 5, "quarantined": 2}
