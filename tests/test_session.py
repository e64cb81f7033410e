"""Strict env parsing in `session.build_session`: a malformed value fails with
a ValueError naming its variable instead of reaching Spark raw or silently
falling back to a default. No SparkSession is started: invalid values raise
before a session is built, valid ones are checked on the parsing helpers."""

from __future__ import annotations

import pytest

from movie_genre_data_pipeline_spark import session


@pytest.mark.parametrize("raw,want", [("*", "*"), ("4", "4"), ("32", "32")])
def test_cpus_accepts_star_or_positive_integer(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    assert session._env_cpus() == want


def test_cpus_defaults_to_every_core(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._env_cpus() == "*"


@pytest.mark.parametrize("raw,want", [("true", "true"), ("TRUE", "true"), ("False", "false")])
def test_prefer_smj_accepts_true_false_any_case(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_PREFER_SMJ", raw)
    assert session._env_bool("SPARK_GRAFT_PREFER_SMJ", "false") == want


@pytest.mark.parametrize("raw", ["64m", "64MB", "1048576", "2g", "512kb", "1Pb"])
def test_shj_localmap_accepts_spark_byte_strings(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_SHJ_LOCALMAP", raw)
    assert session._env_bytes("SPARK_GRAFT_SHJ_LOCALMAP", "64m") == raw


@pytest.mark.parametrize(
    "var,raw",
    [
        ("SPARK_GRAFT_CPUS", ""),
        ("SPARK_GRAFT_CPUS", " 4"),
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_CPUS", "-2"),
        ("SPARK_GRAFT_CPUS", "4.0"),
        ("SPARK_GRAFT_CPUS", "all"),
        ("SPARK_GRAFT_CPUS", "²"),
        ("SPARK_GRAFT_PREFER_SMJ", "yes"),
        ("SPARK_GRAFT_PREFER_SMJ", "1"),
        ("SPARK_GRAFT_PREFER_SMJ", ""),
        ("SPARK_GRAFT_PREFER_SMJ", " true"),
        ("SPARK_GRAFT_SHJ_LOCALMAP", "64x"),
        ("SPARK_GRAFT_SHJ_LOCALMAP", "64 MB"),
    ],
)
def test_malformed_env_raises_naming_the_variable(monkeypatch, var, raw):
    monkeypatch.setenv(var, raw)
    with pytest.raises(ValueError, match=var):
        session.build_session(master="local[1]", shuffle_partitions=1)
