"""Driver-contract query suite.

Each module exposes ``QUERIES: dict[str, QuerySpec]`` mapping a query name to a
(spark_fn, oracle_sql) pair. ``spark_fn(spark, sf_dir) -> DataFrame`` is the
engine-side implementation (idiomatic DataFrame API, exercising the operators in
movie_genre_data_pipeline_spark.operators / functions); ``oracle_sql`` is the ANSI
SQL DuckDB equivalent; every query has one (``all_queries`` enforces it).

Column-name discipline: every computed column is aliased IDENTICALLY in both sides
(the driver sorts columns by name and hashes values). Numeric discipline: aggregates
are explicitly cast/rounded on both sides (DuckDB sums integers into HUGEINT and we
pin DOUBLE/BIGINT instead; floating sums are rounded to a fixed scale so
accumulation-order noise can't flip the hash).
"""

from __future__ import annotations

import itertools
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class QuerySpec(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.shipping import ensure_package_on_workers
    from movie_genre_data_pipeline_spark.sources.batch import read_parquet

    # The driver runs these on ITS OWN session; timestamp rendering
    # (date_format/window starts) must match the tz-naive DuckDB oracle
    # regardless of that session's locale, so pin UTC at query time
    # (runtime-settable conf).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # ... and its workers resolve `import movie_genre_data_pipeline_spark` from
    # THEIR cwd, not ours: ship the package (addPyFile zip, idempotent) so
    # mapInPandas/pandas-UDF closures import cleanly from any launch directory.
    ensure_package_on_workers(spark)
    return read_parquet(spark, f"{sf_dir}/{table}.parquet")


def all_queries() -> dict[str, QuerySpec]:
    """Every registered query, in the order the driver samples them.

    The driver's correctness gate checks the FIRST 50 entries, so the order
    is derived by one rule rather than curated: queries round-robin across
    the suite modules in module order (each module's first query, then each
    module's second, ...), so every operator family lands in the first 50.
    Every query must carry an oracle; one without raises ValueError.
    """
    from movie_genre_data_pipeline_spark.suite import (
        cdc_queries,
        curation_queries,
        dedup_queries,
        entity_queries,
        experiment_queries,
        format_queries,
        mining_queries,
        graph_queries,
        layout_queries,
        multimodal_queries,
        pipeline_queries,
        relational,
        relational_extra,
        sampling_audit_queries,
        sampling_eval_queries,
        sampling_queries,
        similarity_queries,
        sketch_queries,
        streaming_eval_queries,
        streaming_experiment_queries,
        streaming_ledger_queries,
        streaming_queries,
        text_queries,
        timeseries_queries,
    )

    modules = (
        pipeline_queries,
        relational,
        relational_extra,
        text_queries,
        dedup_queries,
        entity_queries,
        mining_queries,
        sampling_queries,
        sampling_eval_queries,
        sampling_audit_queries,
        experiment_queries,
        curation_queries,
        format_queries,
        graph_queries,
        layout_queries,
        sketch_queries,
        timeseries_queries,
        similarity_queries,
        streaming_queries,
        streaming_ledger_queries,
        streaming_eval_queries,
        streaming_experiment_queries,
        multimodal_queries,
        cdc_queries,
    )

    out: dict[str, QuerySpec] = {}
    for mod in modules:
        overlap = out.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(mod.QUERIES)
    missing = sorted(name for name, spec in out.items() if not spec.oracle)
    if missing:
        raise ValueError(f"queries without an oracle: {missing}")

    return {
        name: out[name]
        for tier in itertools.zip_longest(*(mod.QUERIES for mod in modules))
        for name in tier
        if name is not None
    }
