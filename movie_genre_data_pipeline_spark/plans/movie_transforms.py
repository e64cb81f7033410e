"""Movie-domain medallion transforms (SURVEY.md §2.9 transform_raw /
transform_bronze / fix_genres), the one copy both pipeline variants run: the
reference's raw→bronze and bronze→silver transforms
(Batch_notebook/operations/operations.py:21-107, 141) as pure
DataFrame→DataFrame functions. Behavior pinned to the reference
byte-for-byte where observable:

- Budget floor is 100,000 (the CODE value; notebook prose claims 1M —
  SURVEY.md §8.4) and is applied AFTER the select, so the floored literal takes
  the double type of the otherwise branch.
- `Genres_Id` is element-wise `id` extraction over the `genres` array
  (operations/operations.py:82 relies on case-insensitive resolution of
  "Genres.id"; we reference the field by its real name).
- `Language_Id = lit(1)` reproduces the reference's degenerate language dimension
  (every language row gets Id=1 — SURVEY.md §8.3). `language_projection` offers
  `degenerate=False` to mint stable ids instead (hash of the language string) —
  off by default to preserve parity.
- The struct `value` column is carried through for merge-back and excluded at
  write time (SURVEY.md §8.8).
- Genres are NOT sorted: the batch reference sorts by Id, the streaming one
  does not (SURVEY.md §8 #9). Both variants here append only missing genres,
  so a sort would order one append and nothing after it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.config import Clock
from movie_genre_data_pipeline_spark.operators.cleanse import (
    abs_repair,
    conditional_floor,
    drop_empty,
    quarantine_split,
)
from movie_genre_data_pipeline_spark.operators.enrich import with_audit_columns
from movie_genre_data_pipeline_spark.operators.nested import (
    expand_struct,
    explode_array,
    extract_array_field,
)

# Written silver schema (value excluded) — Batch_notebook/bronzeToSilver.py:116-141.
MOVIE_SILVER_COLUMNS = [
    "Id", "Budget", "Revenue", "RunTime", "Price", "Title", "Overview", "Tagline",
    "ImdbUrl", "TmdbUrl", "PosterUrl", "BackdropUrl", "ReleaseDate", "p_CreatedDate",
    "UpdatedDate", "UpdatedBy", "CreatedBy", "Genres_Id", "Language_Id",
]

# silver table -> (natural key, partition column). Both variants append only
# the rows whose key the table lacks, so a genre id that comes back under a
# new name keeps its first row, and the genre mart reports it once.
SILVER_TABLES = {
    "movie": ("Id", "p_CreatedDate"),
    "genres": ("Id", None),
    "language": ("OriginalLanguage", None),
}


def bronze_envelope(raw: DataFrame, datasource: str, clock: Clock) -> DataFrame:
    """Batch_notebook/main.py:10-17: explode the raw `movie` array and wrap each
    payload in the bronze envelope. Works on a batch or a streaming frame."""
    exploded = explode_array(raw.select("movie"), "movie", alias="value")
    return with_audit_columns(exploded, datasource, clock, "value")


def silver_split(
    bronze: DataFrame, budget_floor: float
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Batch_notebook/main.py:21-46: bronze rows → (clean movies, quarantined
    movies, genres, language). The movie split dedups once and splits on
    `RunTime >= 0`, so a NULL RunTime lands in neither half (the reference's
    two-filter behavior, operations/operations.py:105-106) and its bronze
    row stays 'new'. Movie rows keep `value` for the status record."""
    augmented = expand_struct(bronze, "value")
    clean, quarantined = quarantine_split(
        movie_projection(augmented, budget_floor), F.col("RunTime") >= 0
    )
    return clean, quarantined, genres_projection(augmented), language_projection(augmented)


def repair(quarantined: DataFrame, budget_floor: float) -> DataFrame:
    """Batch_notebook/main.py:50-59: quarantined bronze rows, deduped, with
    RunTime=abs(RunTime), projected to silver movie rows (value kept)."""
    augmented = expand_struct(quarantined, "value").distinct()
    return movie_projection(abs_repair(augmented, "RunTime"), budget_floor)


def movie_projection(bronze_augmented: DataFrame, budget_floor: float = 100_000.0) -> DataFrame:
    """`transform_bronze(..., "movie")` (operations/operations.py:63-84).

    Input: bronze rows already expanded via `select("value", "value.*")`.
    """
    projected = bronze_augmented.select(
        F.col("value"),
        F.col("Id").cast("INTEGER").alias("Id"),
        F.col("Budget"),
        F.col("Revenue"),
        F.col("RunTime").cast("INTEGER").alias("RunTime"),
        F.col("Price"),
        F.col("Title"),
        F.col("Overview"),
        F.col("Tagline"),
        F.col("ImdbUrl"),
        F.col("TmdbUrl"),
        F.col("PosterUrl"),
        F.col("BackdropUrl"),
        F.col("ReleaseDate").cast("DATE").alias("ReleaseDate"),
        F.col("CreatedDate").cast("DATE").alias("p_CreatedDate"),
        F.col("UpdatedDate"),
        F.col("UpdatedBy"),
        F.col("CreatedBy"),
        extract_array_field("genres", "id").alias("Genres_Id"),
        F.lit(1).alias("Language_Id"),
    )
    return projected.withColumn("Budget", conditional_floor("Budget", budget_floor))


def genres_projection(bronze_augmented: DataFrame) -> DataFrame:
    """`transform_bronze(..., "genres")` (operations/operations.py:86-89 + fix_genres
    :53-54): explode genres → flatten → drop empty names → one row per `Id`,
    unsorted (see the module doc). A genre id that arrives under two names in
    one arrival keeps the smaller name, so silver holds it once and the genre
    mart reports it once; across arrivals the stored row still wins."""
    exploded = bronze_augmented.select(F.explode(F.col("genres")))
    flat = exploded.select(
        F.col("col.id").alias("Id"), F.col("col.name").alias("name")
    )
    return drop_empty(flat, "name").groupBy("Id").agg(F.min("name").alias("name"))


def language_projection(bronze_augmented: DataFrame, degenerate: bool = True) -> DataFrame:
    """`transform_bronze(..., "language")` (operations/operations.py:91-97).

    Parity mode (default): every row gets Id=1 — the reference bug (SURVEY.md §8.3).
    degenerate=False mints a stable surrogate id per language (positive 32-bit hash)
    so `Language_Id` can actually join.
    """
    langs = bronze_augmented.select(F.col("OriginalLanguage")).distinct()
    if degenerate:
        id_col = F.lit(1)
    else:
        id_col = F.pmod(F.xxhash64("OriginalLanguage"), F.lit(2**31 - 1)).cast("INTEGER")
    return langs.select(id_col.alias("Id"), F.col("OriginalLanguage"))
