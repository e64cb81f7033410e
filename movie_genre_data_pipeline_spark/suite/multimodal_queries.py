"""Multimodal-column queries (north star): binary payload plumbing through
Arrow-batched mapInPandas. The testdata has no media table, so payloads are
synthesized in-query from document text (UTF-8 bytes as the opaque binary) — the
Spark-side machinery (binary columns, mapInPandas batch shapes, metadata structs,
frame-sample plans) is the thing under test; the codec itself is the documented
stub (functions/multimodal.decode_image_stub).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.functions.multimodal import (
    attach_media_meta,
    frame_sample_plan,
    image_features,
)
from movie_genre_data_pipeline_spark.session import materialize
from movie_genre_data_pipeline_spark.suite import QuerySpec, load


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        "n_chars",
    )


# -- byte features via mapInPandas (Arrow batches over binary column) ---------------
def q_media_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_df(spark, sf_dir)
    feats = image_features(media, fake_decode=True)
    return feats.select("media_id", "n_bytes", "payload_md5")


Q_MEDIA_BYTE_FEATURES_ORACLE = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
"""


# -- full feature row incl. stubbed decode -------------------------------------------
def q_media_features_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full mapInPandas feature row. Oracle-able after all (VERDICT r01 #4): the
    fake decode is deterministic integer math over the payload's first 4 bytes
    (multimodal.decode_image_stub), the payloads are ASCII document text (byte ==
    ascii(char), verified min length 47 ≥ 4), and mean_byte divides the same two
    exact integers in both engines — so every column is SQL-expressible."""
    media = _media_df(spark, sf_dir)
    return image_features(media, fake_decode=True)


Q_MEDIA_FEATURES_FULL_ORACLE = """
WITH b AS (
  SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(text) AS payload_md5,
         list_aggregate(
           list_transform(generate_series(1, length(text)),
                          i -> ascii(substring(text, i, 1))),
           'sum') AS byte_sum,
         CAST(ascii(substring(text, 1, 1)) AS BIGINT) * 16777216
           + CAST(ascii(substring(text, 2, 1)) AS BIGINT) * 65536
           + CAST(ascii(substring(text, 3, 1)) AS BIGINT) * 256
           + CAST(ascii(substring(text, 4, 1)) AS BIGINT) AS h,
         length(text) AS len
  FROM documents
)
SELECT media_id, n_bytes, payload_md5,
       byte_sum / CAST(len AS DOUBLE) AS mean_byte,
       CAST(64 + h % 192 AS INTEGER) AS width,
       CAST(64 + (h // 256) % 192 AS INTEGER) AS height
FROM b
"""


# -- frame-sample plan (video-style metadata → per-frame rows) -------------------------
def q_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_media_meta(_media_df(spark, sf_dir), "payload", "video")
    media = media.withColumn(
        "meta",
        F.struct(
            F.col("meta.modality").alias("modality"),
            F.col("meta.mime").alias("mime"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ),
    )
    return frame_sample_plan(media, every_ms=1000)


Q_FRAME_SAMPLE_PLAN_ORACLE = """
SELECT doc_id AS media_id,
       CAST(UNNEST(generate_series(0, CAST(n_chars * 10 AS BIGINT), 1000)) AS BIGINT)
         AS frame_ts_ms
FROM documents
"""


# -- resize (binary in AND out through Arrow batches) ---------------------------------
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas resize with the stubbed codec: payload→payload. The fake
    resized payload is deterministic (md5-seeded), so the oracle can check the
    output BYTES: the first 16 bytes of every resized payload are exactly
    md5(input payload)."""
    from movie_genre_data_pipeline_spark.functions.multimodal import resize_images

    media = _media_df(spark, sf_dir)
    resized = resize_images(media, target_w=128, target_h=96, fake_decode=True)
    return resized.select(
        "media_id",
        "width",
        "height",
        "n_bytes",
        F.lower(F.hex(F.substring("payload", 1, 16))).alias("head16"),
    )


Q_MEDIA_RESIZE_ORACLE = """
SELECT doc_id AS media_id,
       CAST(128 AS INTEGER) AS width,
       CAST(96 AS INTEGER) AS height,
       CAST(192 AS BIGINT) AS n_bytes,
       md5(text) AS head16
FROM documents
"""


QUERIES: dict[str, QuerySpec] = {
    "media_byte_features": QuerySpec(q_media_byte_features, Q_MEDIA_BYTE_FEATURES_ORACLE),
    "media_features_full": QuerySpec(q_media_features_full, Q_MEDIA_FEATURES_FULL_ORACLE),
    "media_frame_sample_plan": QuerySpec(q_frame_sample_plan, Q_FRAME_SAMPLE_PLAN_ORACLE),
    "media_resize": QuerySpec(q_media_resize, Q_MEDIA_RESIZE_ORACLE),
}


# -- binary block sharding (r2) ------------------------------------------------------
BLOCK_BYTES = 64


def q_media_block_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob sharding over the binary payload column. Oracle equivalence: the
    payloads are ASCII document text (1 byte == 1 char, same property
    media_features_full pins), so DuckDB's VARCHAR substring/md5 reproduce the
    byte-level blocks exactly."""
    from movie_genre_data_pipeline_spark.functions.multimodal import block_chunks

    media = _media_df(spark, sf_dir)
    return block_chunks(media, BLOCK_BYTES)


Q_MEDIA_BLOCK_CHUNKS_ORACLE = f"""
WITH b AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
st AS (
  SELECT media_id, text, n,
         unnest(generate_series(1, n, {BLOCK_BYTES})) AS s
  FROM b WHERE n > 0
)
SELECT media_id,
       CAST((s - 1) // {BLOCK_BYTES} AS BIGINT) AS block_id,
       CAST(LEAST({BLOCK_BYTES}, n - s + 1) AS BIGINT) AS block_bytes,
       md5(substring(text, s, {BLOCK_BYTES})) AS block_digest
FROM st
"""

QUERIES["media_block_chunks"] = QuerySpec(q_media_block_chunks, Q_MEDIA_BLOCK_CHUNKS_ORACLE)


# -- perceptual-hash near-dup (r5): dHash over the fake decode + multi-index hamming ----
PHASH_MAX_HAMMING = 3
PHASH_BANDS = 4


def q_media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection, the multimodal member of the dedup
    family: dHash gradient fingerprints (multimodal.phash_fingerprints — the
    downsample-to-grid inner step rides the documented fake-decode contract,
    byte==char ASCII payloads) searched by multi-index hamming — `bands`
    equi-joins on 16-bit substrings, exact for hamming < bands by pigeonhole,
    never an all-pairs scan. Deterministic integer math end-to-end, so the
    oracle rebuilds fingerprints, bands, candidates, and distances exactly."""
    from movie_genre_data_pipeline_spark.functions.multimodal import (
        phash_fingerprints,
        phash_near_dup_pairs,
    )

    media = _media_df(spark, sf_dir)
    fps = phash_fingerprints(media, fake_decode=True)
    pairs = phash_near_dup_pairs(
        fps, max_hamming=PHASH_MAX_HAMMING, bands=PHASH_BANDS
    )
    return pairs.select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))


def _phash_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.multimodal import PHASH_TILES

    nt = PHASH_TILES
    width = 64 // PHASH_BANDS
    mask = (1 << width) - 1
    return f"""
WITH tiles AS (
  SELECT doc_id,
         list_transform(generate_series(0, {nt - 1}), j ->
           COALESCE(list_aggregate(
             list_transform(
               generate_series((j * length(text)) // {nt} + 1,
                               ((j + 1) * length(text)) // {nt}),
               i -> ord(substring(text, i, 1))),
             'sum'), 0)) AS t
  FROM documents
),
fps AS (
  SELECT doc_id AS media_id,
         CAST(COALESCE(list_aggregate(
           list_transform(generate_series(0, {nt - 2}),
             i -> CASE WHEN t[i + 2] > t[i + 1]
                       THEN (CAST(1 AS BIGINT) << i) ELSE 0 END),
           'sum'), 0) AS BIGINT) AS phash
  FROM tiles
),
keyed AS (
  SELECT media_id, phash, k AS band_idx,
         (phash >> (k * {width})) & {mask} AS band_val
  FROM fps, generate_series(0, {PHASH_BANDS - 1}) b(k)
),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
  FROM keyed a
  JOIN keyed b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.media_id < b.media_id
)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {PHASH_MAX_HAMMING}
"""


QUERIES["media_phash_dedup"] = QuerySpec(q_media_phash_dedup, _phash_oracle())


# -- blob shard-placement balance (r9) --------------------------------------------------
# The storage-placement audit a 100 TB media lake runs before (and after)
# distributing blobs: assign every payload to one of MEDIA_SHARDS shards by a
# portable md5 hash of its id, report per-shard object count, byte volume,
# and byte share. The audit is ONE scan + one shard-keyed aggregate (shard
# count is the shuffle bound, not media count); skewed shares here are the
# signal to re-key before the copy job, the same role sim_ivf_balance plays
# for the ANN index.
MEDIA_SHARDS = 8


def media_shard_facts(media: DataFrame) -> DataFrame:
    """One batch's additive shard-placement facts (shard, n_media,
    total_bytes): the shard is a pure function of the id (an ARRIVAL
    decision), so per-micro-batch partials fold by SUM. Shared by the batch
    audit and its streaming ledger twin."""
    return (
        media.select(
            F.expr(
                "CAST(conv(substring(md5(CAST(media_id AS STRING)), 1, 12), 16, 10)"
                f" AS BIGINT) % {MEDIA_SHARDS}"
            ).alias("shard"),
            F.length("payload").cast("bigint").alias("n_bytes"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_media"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        )
    )


def shard_balance_from_facts(facts: DataFrame) -> DataFrame:
    """The audit readout over folded facts. corpus_bytes derives from the
    shard table itself (every blob has a shard), so the corpus is never
    re-scanned — r10 also removed the batch query's second media scan this
    way."""
    per = facts.groupBy("shard").agg(
        F.sum("n_media").cast("bigint").alias("n_media"),
        F.sum("total_bytes").cast("bigint").alias("total_bytes"),
    )
    tot = per.agg(F.sum("total_bytes").cast("bigint").alias("corpus_bytes"))
    return per.crossJoin(F.broadcast(tot)).selectExpr(
        "shard",
        "n_media",
        "total_bytes",
        "CAST(ROUND(CAST(total_bytes AS DOUBLE) / CAST(corpus_bytes AS DOUBLE)"
        " * CAST(1000000 AS DOUBLE)) AS BIGINT) AS byte_share_micro",
    )


def q_media_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shard_balance_from_facts(media_shard_facts(_media_df(spark, sf_dir)))


Q_MEDIA_SHARD_BALANCE_ORACLE = f"""
WITH m AS (
  SELECT CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
          AS BIGINT) % {MEDIA_SHARDS} AS shard,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
),
tot AS (SELECT CAST(SUM(n_bytes) AS BIGINT) AS corpus_bytes FROM m)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_media,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(ROUND(CAST(SUM(n_bytes) AS DOUBLE) / CAST(corpus_bytes AS DOUBLE)
            * CAST(1000000 AS DOUBLE)) AS BIGINT) AS byte_share_micro
FROM m CROSS JOIN tot
GROUP BY shard, corpus_bytes
"""

QUERIES["media_shard_balance"] = QuerySpec(
    q_media_shard_balance, Q_MEDIA_SHARD_BALANCE_ORACLE
)


# -- corpus byte-value histogram via the Arrow kernel (r13) --------------------------------
# The encoding-sanity readout run BEFORE any decode: the byte-value
# distribution of every payload in the corpus (functions/multimodal.
# byte_histogram — one vectorized numpy bincount per Arrow batch, at most
# 256 partial rows out per batch, a 256-key fold after; the additive-cell
# shape). Shares reported per value from exact integer counts. The oracle
# replays it character-wise (the payloads are ASCII document text, byte ==
# codepoint — the media_features_full precedent); a non-ASCII payload would
# make the two sides diverge, which is exactly the drift this query exists
# to catch.
_BYTE_SHARE_MICRO = (
    "CAST(FLOOR(CAST(n_occurrences AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(total_bytes AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def byte_histogram_report(counts: DataFrame) -> DataFrame:
    """The report tail over additive (byte_value, n_occurrences) cells,
    however accumulated — shared by the batch query and the streaming
    ledger twin."""
    counts = materialize(counts)
    tot = counts.agg(
        F.sum("n_occurrences").cast("bigint").alias("total_bytes")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .selectExpr(
            "byte_value",
            "n_occurrences",
            f"{_BYTE_SHARE_MICRO} AS share_micro",
        )
    )


def q_media_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.multimodal import (
        byte_histogram,
    )

    media = _media_df(spark, sf_dir)
    return byte_histogram_report(byte_histogram(media))


Q_MEDIA_BYTE_HISTOGRAM_ORACLE = """
WITH chars AS (
  SELECT unnest(split(text, '')) AS c FROM documents
),
counts AS (
  SELECT CAST(ord(c) AS BIGINT) AS byte_value,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM chars GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_occurrences) AS BIGINT) AS total_bytes FROM counts)
SELECT byte_value, n_occurrences,
       CAST(FLOOR(CAST(n_occurrences AS DOUBLE) * CAST(1000000 AS DOUBLE)
         / CAST(total_bytes AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
         AS share_micro
FROM counts CROSS JOIN tot
"""

QUERIES["media_byte_histogram"] = QuerySpec(
    q_media_byte_histogram, Q_MEDIA_BYTE_HISTOGRAM_ORACLE
)
