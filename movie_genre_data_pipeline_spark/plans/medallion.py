"""Batch medallion pipeline — the reference's three stages as a reusable class
(SURVEY.md §2.9 raw_to_bronze / bronze_to_silver / silver_update,
Batch_notebook/main.py:10-65).

The transforms are plans/movie_transforms.py, shared with the incremental
variant. This module reads new bronze rows with a status filter and flips
status in place; its I/O goes through its own names so a tracer can wrap them.

Differences from the reference (all deliberate; SURVEY.md §4 "missed optimizations"
and §8):
- The thrice-consumed bronze frame is read once per stage from the materialized
  bronze table — bronze IS the cache; no re-derivation from raw JSON.
- The clean/quarantine split dedups ONCE (§8.7) and both halves are
  `.cache()`d across the silver write and the status merge (§4: the reference
  re-ran the scan for all 5 downstream actions).
- Status merges key on the `value` struct for reference parity (J1,
  operations/operations.py:119), via join-based upsert + staged rewrite instead of
  Delta MERGE. Each stage merges once: `bronze_to_silver` flips its loaded and
  quarantined rows in one (value, status) merge, because the two sets are
  disjoint (one deduped frame split on one predicate), so bronze is rewritten
  once per stage, not once per status.
- Partitioning: bronze by p_ingestdate, movie_silver by p_CreatedDate (same as the
  reference); genres/language are written UNpartitioned — the reference's
  partitionBy("Id") is one-directory-per-key, an anti-pattern at scale
  (SURVEY.md §4 row 1).
"""

from __future__ import annotations

from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark import fsutil
from movie_genre_data_pipeline_spark.config import PipelineConfig
from movie_genre_data_pipeline_spark.operators.enrich import (
    STATUS_LOADED,
    STATUS_NEW,
    STATUS_QUARANTINED,
)
from movie_genre_data_pipeline_spark.operators.upsert import (
    upsert_insert_missing,
    upsert_update,
)
from movie_genre_data_pipeline_spark.operators.writers import write_partitioned
from movie_genre_data_pipeline_spark.plans.gold import publish_marts
from movie_genre_data_pipeline_spark.plans.movie_transforms import (
    SILVER_TABLES,
    bronze_envelope,
    repair,
    silver_split,
)
from movie_genre_data_pipeline_spark.sources.batch import read_multiline_json, read_parquet


class MedallionPipeline:
    """raw JSON → bronze → {movie, genres, language} silver, with quarantine/repair.

    Status state machine on bronze rows: new → loaded | quarantined → loaded
    (SURVEY.md §1.1).
    """

    def __init__(self, spark: SparkSession, config: PipelineConfig):
        self.spark = spark
        self.config = config

    # -- stage 1 ------------------------------------------------------------
    def raw_to_bronze(self, raw_path: str | None = None, mode: str = "overwrite") -> None:
        """Batch_notebook/main.py:10-17: read multiline JSON, wrap it in the
        bronze envelope, write partitioned by p_ingestdate."""
        raw = read_multiline_json(self.spark, raw_path or self.config.raw_path)
        bronze = bronze_envelope(raw, self.config.datasource_name, self.config.clock)
        write_partitioned(bronze, self.config.bronze_path, "p_ingestdate", mode=mode)

    # -- stage 2 ------------------------------------------------------------
    def bronze_to_silver(self) -> dict[str, int]:
        """Batch_notebook/main.py:21-46: status=="new" → three silver branches +
        one status merge. Returns row counts per branch (the reference printed
        them interactively).

        Writes are APPEND + insert-missing, like the reference's append writers
        (main.py:29-43) but idempotent: the status machine guarantees each bronze
        row is processed once, and the anti-join delta guarantees a re-ingested
        payload can't duplicate silver keys. Safe when bronze accrues rows across
        runs (raw_to_bronze(mode="append")) — an overwrite here would drop
        previously loaded silver rows from any touched partition. A full reset
        is deleting the layer directories (reference: rawToBronze.py:7 rm -r).
        """
        bronze_new = read_parquet(self.spark, self.config.bronze_path).filter(
            F.col("status") == STATUS_NEW
        )
        clean, quarantined, genres, language = silver_split(
            bronze_new, self.config.budget_floor
        )
        clean, quarantined = clean.cache(), quarantined.cache()
        self._append_missing(movie=clean.drop("value"), genres=genres, language=language)

        counts = {
            "clean": clean.count(),
            "quarantined": quarantined.count(),
            "genres": genres.count(),
        }
        self._update_bronze_status({STATUS_LOADED: clean, STATUS_QUARANTINED: quarantined})
        clean.unpersist()
        quarantined.unpersist()
        return counts

    # -- stage 3 ------------------------------------------------------------
    def silver_update(self) -> int:
        """Batch_notebook/main.py:50-59: repair loop — quarantined rows get
        RunTime=abs(RunTime), are inserted into movie_silver if their Id is absent
        (J2), and their bronze status flips to loaded."""
        quarantined = read_parquet(self.spark, self.config.bronze_path).filter(
            F.col("status") == STATUS_QUARANTINED
        )
        silver_ready = repair(quarantined, self.config.budget_floor).cache()
        self._append_missing(movie=silver_ready.drop("value"))
        n = silver_ready.count()
        self._update_bronze_status({STATUS_LOADED: silver_ready})
        silver_ready.unpersist()
        return n

    # -- shared -------------------------------------------------------------
    def _append_missing(self, **tables: DataFrame) -> None:
        """J2-style incremental load: append to each silver table only the rows
        whose natural key (SILVER_TABLES) it lacks (anti-join delta), merged
        into each touched value's small tail file (fsutil.append_parquet), so
        a value stays one file across stages and runs. A first write (no
        table yet) appends everything."""
        for table, rows in tables.items():
            key, partition_column = SILVER_TABLES[table]
            path = self.config.silver_path(table)
            if Path(path).exists():
                rows = upsert_insert_missing(read_parquet(self.spark, path), rows, on=key)
            fsutil.append_parquet(self.spark, rows, path, partition_column)

    def _update_bronze_status(self, rows_by_status: dict[str, DataFrame]) -> None:
        """J1 status flip (operations/operations.py:112-129): MERGE bronze ON
        bronze.value = df.value WHEN MATCHED UPDATE SET status, for disjoint
        row sets, each flipped to its status in one merge. Emulated as
        a broadcast left join + matched-marker update + staged PARTITION-scoped
        rewrite: only p_ingestdate partitions containing matched rows are
        rewritten (at 100 TB a full-table rewrite per status flip is the
        difference between minutes and days)."""
        source = reduce(DataFrame.unionByName, [
            rows.select("value", F.lit(status).alias("status"))
            for status, rows in rows_by_status.items()
        ]).distinct()
        bronze = read_parquet(self.spark, self.config.bronze_path)
        touched = [
            r[0]
            for r in bronze.join(
                F.broadcast(source.select("value")), on="value", how="left_semi"
            )
            .select("p_ingestdate")
            .distinct()
            .collect()
        ]
        if not touched:
            return
        updated = upsert_update(
            bronze, source, on="value",
            set_columns={"status": "status"},
            verify_unique=False,  # one status per value, deduped above
        )
        fsutil.rewrite_parquet(
            self.spark, updated, self.config.bronze_path, "p_ingestdate",
            touched_values=touched,
        )

    # -- stage 4 (r6): the layer the reference describes but never builds ----
    def silver_to_gold(self) -> int:
        """Silver → Gold: both star marts (plans/gold.publish_marts). Returns
        the genre mart's row count."""
        return publish_marts(self.spark, self.config)

    # -- convenience --------------------------------------------------------
    def run(self, raw_path: str | None = None) -> dict[str, int]:
        """Full pipeline (Batch_notebook/main.py:63-65 + the gold stage)."""
        self.raw_to_bronze(raw_path)
        counts = self.bronze_to_silver()
        counts["repaired"] = self.silver_update()
        counts["gold_genres"] = self.silver_to_gold()
        return counts
