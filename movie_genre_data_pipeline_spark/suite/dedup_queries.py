"""Dedup queries over `documents` (north star: exact, MinHash+LSH, SimHash,
n-gram Jaccard). The oracles rebuild the exact same md5-based signatures in DuckDB
— both engines produce bit-identical digests, so even the LSH candidate sets must
match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
)
from movie_genre_data_pipeline_spark.session import materialize
from movie_genre_data_pipeline_spark.suite import QuerySpec, load
from movie_genre_data_pipeline_spark.suite.text_queries import _TOKS

SHINGLE_K = 3
BANDS = 4
ROWS_PER_BAND = 3
SIMHASH_BITS = 16
JACCARD_THRESHOLD = 0.2

# shared SQL CTEs mirroring functions/dedup.py ------------------------------------
_SHINGLES_CTE = f"""
docs AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, lang,
         CASE WHEN len(toks) >= {SHINGLE_K}
              THEN list_transform(generate_series(1, len(toks) - {SHINGLE_K - 1}),
                                  i -> array_to_string(toks[i:i+{SHINGLE_K - 1}], ' '))
              ELSE []::VARCHAR[] END AS shingles
  FROM docs
)"""

# docs with no shingles (< k tokens) have no signature and never pair up.
# Hash family mirrors functions/dedup.py exactly: one md5 per shingle, then
# (a + h*b) mod P over its 48-bit hex halves.
_MINHASH_P = 281474976710597
_SIG_CTE = f"""
sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, {BANDS * ROWS_PER_BAND - 1}),
           h -> list_aggregate(
                  list_transform(shingles,
                    s -> (CAST(concat('0x', substring(md5(s), 1, 12)) AS BIGINT)
                          + h * CAST(concat('0x', substring(md5(s), 13, 12)) AS BIGINT))
                         % {_MINHASH_P}),
                  'min')) AS sig
  FROM sh WHERE len(shingles) > 0
)"""


# -- exact dedup --------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    kept = exact_dedup(d, "doc_id", "text")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


Q_DEDUP_EXACT_ORACLE = """
WITH keepers AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(regexp_replace(lower(trim(text)), '[ \t\n\r\f\v]+', ' ', 'g'))
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(d.text)) AS BIGINT) AS total_chars
FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
GROUP BY d.lang
"""


# -- quality-aware keeper selection ---------------------------------------------------
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup: per duplicate cluster keep the highest-
    quality_score doc (rank on the 6dp-ROUNDED score, doc_id tiebreak, so libm
    noise can't flip keepers across engines)."""
    from movie_genre_data_pipeline_spark.functions.dedup import keep_best_dedup
    from movie_genre_data_pipeline_spark.functions.text import quality_score

    d = load(spark, sf_dir, "documents")
    return keep_best_dedup(d, "doc_id", "text", quality_score("text")).select(
        "fp",
        "keeper_id",
        F.col("keeper_score").alias("keeper_quality"),
        "n_copies",
    )


def _keep_best_oracle() -> str:
    from movie_genre_data_pipeline_spark.functions.text import LANG_LEXICONS

    en = ", ".join(f"'{w}'" for w in LANG_LEXICONS["en"])
    return f"""
WITH base AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
),
feat AS (
  SELECT doc_id, text,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) END AS wordlen,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, t -> lower(t) IN ({en}))) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) END AS stop_ratio,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE) END AS punct_ratio
  FROM base
),
scored AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '[ \t\n\r\f\v]+', ' ', 'g')) AS fp,
         ROUND(
           (LEAST(n_tok / 50.0, 1.0) * 0.4
            + (CASE WHEN wordlen >= 3.0 AND wordlen <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
            + LEAST(stop_ratio * 5.0, 1.0) * 0.3)
           * (1.0 - LEAST(punct_ratio * 2.0, 1.0) * 0.5),
         6) AS quality
  FROM feat
),
ranked AS (
  SELECT fp, doc_id, quality,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY quality DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY fp) AS n
  FROM scored
)
SELECT fp, doc_id AS keeper_id, quality AS keeper_quality,
       CAST(n AS BIGINT) AS n_copies
FROM ranked WHERE rn = 1
"""


# -- MinHash LSH candidates ------------------------------------------------------------
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return minhash_lsh_candidates(
        d, "doc_id", "text", bands=BANDS, rows_per_band=ROWS_PER_BAND, k=SHINGLE_K
    )


Q_MINHASH_LSH_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_SIG_CTE},
bands AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, {BANDS - 1}),
                b -> md5(b || '|' || array_to_string(
                       sig[b*{ROWS_PER_BAND}+1 : b*{ROWS_PER_BAND}+{ROWS_PER_BAND}], '|'))))
           AS band_key
  FROM sig
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b USING (band_key)
WHERE a.doc_id < b.doc_id
"""


# -- SimHash ------------------------------------------------------------------------------
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text", bits=SIMHASH_BITS)


_BIT_SUMS = ",\n         ".join(
    f"SUM(CASE WHEN substr(h, {i + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS b{i}"
    for i in range(SIMHASH_BITS)
)
_BIT_VALUE = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN {2 ** i} ELSE 0 END)" for i in range(SIMHASH_BITS)
)
Q_SIMHASH_ORACLE = f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, md5(unnest(toks)) AS h FROM docs),
sums AS (
  SELECT doc_id,
         {_BIT_SUMS}
  FROM tok GROUP BY doc_id
)
SELECT d.doc_id AS doc,
       CAST(COALESCE({_BIT_VALUE}, 0) AS BIGINT) AS simhash
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN sums USING (doc_id)
"""


# -- n-gram Jaccard (lang-blocked) -----------------------------------------------------------
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", "text", k=SHINGLE_K, blocking=["lang"], threshold=JACCARD_THRESHOLD
    )


Q_NGRAM_JACCARD_ORACLE = f"""
WITH {_SHINGLES_CTE},
shrows AS (
  SELECT DISTINCT doc_id, lang, unnest(list_distinct(shingles)) AS s FROM sh
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM shrows GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM shrows a JOIN shrows b ON a.s = b.s AND a.lang = b.lang
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= {JACCARD_THRESHOLD}
"""


# -- embedding-cosine near-dup (cell-blocked) ------------------------------------------
EMB_DUP_THRESHOLD = 0.40  # sf0.01 max pairwise cosine is 0.513; 0.40 ≈ 0.01% tail


def q_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.dedup import embedding_near_dup

    e = load(spark, sf_dir, "embeddings")
    return embedding_near_dup(
        e, "vec_id", "embedding", "label", threshold=EMB_DUP_THRESHOLD
    )


def _emb_dup_oracle() -> str:
    from movie_genre_data_pipeline_spark.suite.similarity_queries import _cos_sql

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
dups AS (
  SELECT DISTINCT a.vec_id
  FROM e a JOIN e b ON a.label = b.label AND b.vec_id < a.vec_id
  WHERE {_cos_sql("a.v", "b.v")} >= {EMB_DUP_THRESHOLD}
)
SELECT e.vec_id AS vid, e.label AS cell,
       (e.vec_id IN (SELECT vec_id FROM dups)) AS is_dup
FROM e
"""


# -- duplicate clustering: connected components over LSH candidate pairs ----------------
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative min-label propagation (functions/dedup.py:duplicate_clusters)
    over the MinHash-LSH candidate graph — chains a~b~c collapse into one
    cluster. Oracle: recursive CTE computing the same components."""
    from movie_genre_data_pipeline_spark.functions.dedup import duplicate_clusters

    d = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", bands=BANDS, rows_per_band=ROWS_PER_BAND, k=SHINGLE_K
    )
    return duplicate_clusters(d, pairs, "doc_id")


# The shared LSH-candidate connected-components CTE chain (up to and
# including `reach`). Three oracles APPEND their own final SELECT to it —
# append, never str.replace-on-a-literal, so a rewording of one oracle can
# never silently no-op another's derivation (r11 review).
_CLUSTERS_CTE_CHAIN = f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_SIG_CTE},
bands AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, {BANDS - 1}),
                b -> md5(b || '|' || array_to_string(
                       sig[b*{ROWS_PER_BAND}+1 : b*{ROWS_PER_BAND}+{ROWS_PER_BAND}], '|'))))
           AS band_key
  FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_key)
  WHERE a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
)"""

Q_DEDUP_CLUSTERS_ORACLE = (
    _CLUSTERS_CTE_CHAIN
    + """
SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
"""
)


# -- materialize the deduplicated corpus (one keeper per cluster) -----------------------
def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data dedup: cluster near-dups (LSH candidates →
    connected components), keep the minimum doc id per cluster, return the
    surviving corpus profile per (lang, source). This is the query a 100 TB
    pipeline actually materializes; everything upstream is its plumbing."""
    from movie_genre_data_pipeline_spark.functions.dedup import duplicate_clusters

    d = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", bands=BANDS, rows_per_band=ROWS_PER_BAND, k=SHINGLE_K
    )
    clusters = duplicate_clusters(d, pairs, "doc_id")
    keepers = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    kept = d.join(keepers, "doc_id")
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


def _dedup_corpus_oracle() -> str:
    # reuse the cluster CTE chain; keepers are nodes whose component min == self
    body = Q_DEDUP_CLUSTERS_ORACLE.strip().rstrip('"')
    return f"""
WITH RECURSIVE {body.split("WITH RECURSIVE", 1)[1].rsplit("SELECT node", 1)[0]}
, comp AS (
  SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT d.lang, d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(d.text)) AS BIGINT) AS total_chars
FROM documents d JOIN comp c ON d.doc_id = c.doc_id AND c.doc_id = c.cluster_id
GROUP BY d.lang, d.source
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_exact": QuerySpec(q_dedup_exact, Q_DEDUP_EXACT_ORACLE),
    "dedup_clusters": QuerySpec(q_dedup_clusters, Q_DEDUP_CLUSTERS_ORACLE),
    "dedup_corpus": QuerySpec(q_dedup_corpus, _dedup_corpus_oracle()),
    "dedup_keep_best": QuerySpec(q_dedup_keep_best, _keep_best_oracle()),
    "dedup_minhash_lsh": QuerySpec(q_minhash_lsh, Q_MINHASH_LSH_ORACLE),
    "dedup_simhash": QuerySpec(q_simhash, Q_SIMHASH_ORACLE),
    "dedup_ngram_jaccard": QuerySpec(q_ngram_jaccard, Q_NGRAM_JACCARD_ORACLE),
    "dedup_embedding_cosine": QuerySpec(q_embedding_cosine, _emb_dup_oracle()),
}


# -- incremental ingestion dedup (r2) ------------------------------------------------
# New batch = doc_id % 4 == 0, history = the rest: drop batch docs already in the
# history (by normalized fingerprint), then exact-dedup within the batch.
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.dedup import incremental_dedup

    d = load(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 4 == 0)
    history = d.filter(F.col("doc_id") % 4 != 0)
    return incremental_dedup(batch, history, "doc_id", "text").select(
        "doc_id", "lang", "fp"
    )


Q_DEDUP_INCREMENTAL_ORACLE = """
WITH fps AS (
  SELECT doc_id, lang,
         md5(regexp_replace(lower(trim(text)), '[ \t\n\r\f\v]+', ' ', 'g')) AS fp
  FROM documents
),
fresh AS (
  SELECT b.* FROM (SELECT * FROM fps WHERE doc_id % 4 = 0) b
  WHERE NOT EXISTS (SELECT 1 FROM fps h
                    WHERE h.doc_id % 4 != 0 AND h.fp = b.fp)
)
SELECT doc_id, lang, fp FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fresh)
WHERE rn = 1
"""

QUERIES["dedup_incremental"] = QuerySpec(q_dedup_incremental, Q_DEDUP_INCREMENTAL_ORACLE)


# -- winnowing local-overlap pairs (r5) ----------------------------------------------
# The MOSS-index consumer: pairs sharing >= WINNOW_MIN_SHARED selected
# fingerprints, i.e. sharing token runs of >= w+k-1 — catches partial
# quotation/plagiarism that dedup_exact's whole-doc digest misses and MinHash
# only approximates at whole-doc Jaccard granularity. max_df drops
# stop-fingerprints before the posting self-join (LSH-bucket-style bound).
WINNOW_MAX_DF = 10
WINNOW_MIN_SHARED = 2


def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.dedup import winnow_overlap_pairs
    from movie_genre_data_pipeline_spark.suite.text_queries import WINNOW_K, WINNOW_W

    d = load(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        d,
        "doc_id",
        "text",
        k=WINNOW_K,
        w=WINNOW_W,
        max_df=WINNOW_MAX_DF,
        min_shared=WINNOW_MIN_SHARED,
    )


def _dedup_winnow_oracle() -> str:
    from movie_genre_data_pipeline_spark.suite.text_queries import WINNOW_SEL_CTE

    return f"""
WITH {WINNOW_SEL_CTE},
keep AS (SELECT wmin FROM sel GROUP BY wmin HAVING COUNT(*) <= {WINNOW_MAX_DF}),
post AS (SELECT s.doc_id, s.wmin FROM sel s JOIN keep USING (wmin)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM sel GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM post a JOIN post b ON a.wmin = b.wmin AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
)
SELECT id_a, id_b, n_shared,
       ROUND(n_shared / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE), 6) AS share_ratio
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
"""


QUERIES["dedup_winnow"] = QuerySpec(q_dedup_winnow, _dedup_winnow_oracle())


# -- semantic dedup over LEARNED clusters (SemDeDup, r5) --------------------------------
# Abbas et al., "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication" (2023): cluster the embedding space, then drop near-identical
# vectors WITHIN each cluster — O(n²/k) candidate pairs instead of O(n²), the
# trick that made semantic dedup tractable on LAION-scale corpora. This is the
# learned-cell composition of two existing oracled parts: kmeans_exact_cells
# (bit-replayable Lloyd iterations) + embedding_near_dup's keep-first rule
# (cosine rounded to 6dp BEFORE thresholding). The oracle replays clustering,
# pairing, and the removal decision exactly.
SEMDEDUP_THRESHOLD = 0.30


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.dedup import embedding_near_dup
    from movie_genre_data_pipeline_spark.functions.kmeans import kmeans_exact_cells
    from movie_genre_data_pipeline_spark.suite.similarity_queries import (
        KMEANS_ITERS,
        KMEANS_K,
    )

    e = load(spark, sf_dir, "embeddings")
    cells = kmeans_exact_cells(
        e, "vec_id", "embedding", k=KMEANS_K, iterations=KMEANS_ITERS
    ).withColumnRenamed("vid", "vec_id")
    with_cells = e.join(cells, "vec_id")
    flagged = embedding_near_dup(
        with_cells, "vec_id", "embedding", "cluster", threshold=SEMDEDUP_THRESHOLD
    )
    return flagged.groupBy(F.col("cell").alias("cluster")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.sum(F.when(F.col("is_dup"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_kept"),
    )


def _dedup_semantic_oracle() -> str:
    from movie_genre_data_pipeline_spark.suite.similarity_queries import (
        _cos_sql,
        kmeans_cells_cte,
    )

    return f"""
WITH {kmeans_cells_cte()},
ev AS (SELECT c.vid, c.cluster, e.embedding::DOUBLE[] AS v
       FROM embeddings e JOIN cells c ON c.vid = e.vec_id),
dups AS (
  SELECT DISTINCT a.vid
  FROM ev a JOIN ev b ON a.cluster = b.cluster AND b.vid < a.vid
  WHERE {_cos_sql("a.v", "b.v")} >= {SEMDEDUP_THRESHOLD}
)
SELECT cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN vid IN (SELECT vid FROM dups) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN vid IN (SELECT vid FROM dups) THEN 0 ELSE 1 END)
            AS BIGINT) AS n_kept
FROM ev GROUP BY cluster
"""


QUERIES["dedup_semantic"] = QuerySpec(q_dedup_semantic, _dedup_semantic_oracle())


# -- span-level (substring) duplication report (r8) --------------------------------------
# Lee et al. 2021: remove long duplicated token runs, not just duplicate
# documents. Guarantees duplicates of length >= 2*L-1 are caught; the merged
# spans are what a masking pass would cut.
DUP_SPAN_L = 6


def q_dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span report: every length-6 token window whose
    hash occurs >= 2 times anywhere in the corpus marks its tokens, marked
    windows merge into maximal spans (gaps-and-islands), and the row
    publishes span count, exact covered-token length, and the duplicated
    fraction. Linear in corpus tokens — one gram explode, one hash-keyed
    occurrence window, one doc-keyed island merge; no pairwise join (the
    suffix-array approximation that actually distributes)."""
    from movie_genre_data_pipeline_spark.functions.dedup import duplicate_spans

    d = load(spark, sf_dir, "documents")
    return duplicate_spans(d, "doc_id", "text", l=DUP_SPAN_L)


def _duplicate_spans_oracle() -> str:
    """Full SELECT form (also embeddable as a CTE subquery: the trainset
    funnel wraps it as `spanrep AS (<this>)`)."""
    L = DUP_SPAN_L
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM toks),
g AS (
  SELECT doc_id, i,
         CAST(concat('0x', substring(md5(
              array_to_string(toks[i:i + {L - 1}], ' ')), 1, 12))
           AS BIGINT) AS h48
  FROM (SELECT * FROM toks WHERE len(toks) >= {L}) t,
       unnest(generate_series(1, len(toks) - {L - 1})) AS s(i)
),
d AS (
  SELECT doc_id, i
  FROM (SELECT doc_id, i, COUNT(*) OVER (PARTITION BY h48) AS occ FROM g)
  WHERE occ >= 2
),
r AS (
  SELECT doc_id, i,
         MAX(i + {L}) OVER (PARTITION BY doc_id ORDER BY i ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_end
  FROM d
),
isl AS (
  SELECT doc_id, i,
         SUM(CASE WHEN prev_max_end IS NULL OR i > prev_max_end
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i ASC) AS island
  FROM r
),
spans AS (
  SELECT doc_id, island, MAX(i + {L}) - MIN(i) AS span_len
  FROM isl GROUP BY doc_id, island
),
rep AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
         CAST(SUM(span_len) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       COALESCE(n_dup_spans, 0) AS n_dup_spans,
       COALESCE(dup_tokens, 0) AS dup_tokens,
       CASE WHEN b.n_tokens = 0 THEN 0.0
            ELSE ROUND(CAST(COALESCE(dup_tokens, 0) AS DOUBLE)
                       / CAST(b.n_tokens AS DOUBLE), 6)
       END AS dup_fraction
FROM base b LEFT JOIN rep USING (doc_id)
"""


QUERIES["dedup_duplicate_spans"] = QuerySpec(
    q_dedup_duplicate_spans, _duplicate_spans_oracle()
)


# -- LSH band-tuning curve (r9) --------------------------------------------------------------
# The parameter-selection table every LSH dedup deployment computes BEFORE the
# full run: the same 12 minhashes arranged as (bands × rows) ∈ {6×2, 4×3, 2×6}
# trade candidate volume against the S-curve threshold (collision prob.
# 1−(1−j^r)^b): more rows per band → fewer, higher-precision candidates.
# Each configuration is measured against the SAME ground truth (lang-blocked
# shingle-Jaccard ≥ 0.2, the ngram_jaccard contract): candidate count,
# true-pair count, precision, recall. At 100 TB this table is computed on a
# sample for exactly this purpose; candidates stay banded (never all-pairs)
# and the truth join is an inverted-index shingle join, so no stage is
# quadratic in the corpus.
LSH_TUNING_CONFIGS = ((6, 2), (4, 3), (2, 6))
LSH_TUNING_HASHES = 12


def q_dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.dedup import (
        band_keys_from_signature,
        minhash_signature_table,
    )

    d = load(spark, sf_dir, "documents")
    truth = materialize(
        ngram_jaccard_pairs(
            d,
            "doc_id",
            "text",
            k=SHINGLE_K,
            blocking=["lang"],
            threshold=JACCARD_THRESHOLD,
        )
        .select("id_a", "id_b")
    )
    tt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("truth_total"))
    # ONE corpus hashing pass: every (bands x rows) geometry slices the same
    # 12-hash signature table (r9 review: per-config recomputation tripled
    # the dominant shingle+md5 cost) — the same one-sig-many-bands shape the
    # oracle's sig CTE already had
    sig = materialize(
        minhash_signature_table(
            d, "doc_id", "text", num_hashes=LSH_TUNING_HASHES, k=SHINGLE_K
        )
    )
    out = None
    for b, r in LSH_TUNING_CONFIGS:
        keyed = band_keys_from_signature(sig, b, r)
        ka, kb = keyed.alias("a"), keyed.alias("b")
        cand = (
            ka.join(kb, "band_key")
            .filter(F.col("a.doc") < F.col("b.doc"))
            .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
            .distinct()
        )
        n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        n_true = (
            cand.join(truth, ["id_a", "id_b"], "left_semi")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
        )
        row = (
            n_cand.crossJoin(n_true)
            .crossJoin(F.broadcast(tt))
            .selectExpr(
                f"CAST({b} AS BIGINT) AS bands",
                f"CAST({r} AS BIGINT) AS rows_per_band",
                "n_candidates",
                "n_true",
                "truth_total",
                "CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(ROUND(CAST(n_true AS DOUBLE)"
                " / CAST(n_candidates AS DOUBLE)"
                " * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS precision_micro",
                "CASE WHEN truth_total = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(ROUND(CAST(n_true AS DOUBLE)"
                " / CAST(truth_total AS DOUBLE)"
                " * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS recall_micro",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _lsh_tuning_oracle() -> str:
    h = LSH_TUNING_HASHES
    sig12 = f"""
sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, {h - 1}),
           h -> list_aggregate(
                  list_transform(shingles,
                    s -> (CAST(concat('0x', substring(md5(s), 1, 12)) AS BIGINT)
                          + h * CAST(concat('0x', substring(md5(s), 13, 12)) AS BIGINT))
                         % {_MINHASH_P}),
                  'min')) AS sig
  FROM sh WHERE len(shingles) > 0
)"""
    truth = f"""
shrows AS (
  SELECT DISTINCT doc_id, lang, unnest(list_distinct(shingles)) AS s FROM sh
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM shrows GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM shrows a JOIN shrows b ON a.s = b.s AND a.lang = b.lang
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS MATERIALIZED (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ROUND(inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6)
        >= {JACCARD_THRESHOLD}
),
tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS truth_total FROM truth)"""
    config_rows = []
    for b, r in LSH_TUNING_CONFIGS:
        config_rows.append(
            f"""(
  SELECT CAST({b} AS BIGINT) AS bands, CAST({r} AS BIGINT) AS rows_per_band,
         n_candidates, n_true, truth_total,
         CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(ROUND(CAST(n_true AS DOUBLE)
                   / CAST(n_candidates AS DOUBLE)
                   * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS precision_micro,
         CASE WHEN truth_total = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(ROUND(CAST(n_true AS DOUBLE)
                   / CAST(truth_total AS DOUBLE)
                   * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS recall_micro
  FROM (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{b}_{r}) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{b}_{r} c
            WHERE EXISTS (SELECT 1 FROM truth t
                          WHERE t.id_a = c.id_a AND t.id_b = c.id_b)) AS n_true
  ) CROSS JOIN tt
)"""
        )
    cand_ctes = []
    for b, r in LSH_TUNING_CONFIGS:
        cand_ctes.append(
            f"""bands_{b}_{r} AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, {b - 1}),
                bb -> md5(bb || '|' || array_to_string(
                       sig[bb*{r}+1 : bb*{r}+{r}], '|'))))
           AS band_key
  FROM sig
),
cand_{b}_{r} AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands_{b}_{r} a JOIN bands_{b}_{r} b USING (band_key)
  WHERE a.doc_id < b.doc_id
)"""
        )
    return (
        f"WITH {_SHINGLES_CTE},\n{sig12},\n{truth},\n"
        + ",\n".join(cand_ctes)
        + "\n"
        + "\nUNION ALL\n".join(config_rows)
    )


QUERIES["dedup_lsh_tuning"] = QuerySpec(q_dedup_lsh_tuning, _lsh_tuning_oracle())


# -- shingle containment: doc-in-doc duplication (r11) ---------------------------------------
# The asymmetric dedup verdict resemblance misses: a short document fully
# embedded in a longer one (quote inclusion, wrapped article) has Jaccard
# |A|/|B| — arbitrarily small — but containment |A∩B|/|A| = 1.0. Candidates
# come from the same lang-blocked shared-shingle equi-join as the Jaccard
# scan (containment-complete: any pair with a nonempty intersection is a
# candidate); publishing both directions plus the raw set sizes makes the
# keep/drop call (usually: drop the contained SHORTER doc) auditable.
CONTAIN_THRESHOLD = 0.5


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.dedup import (
        ngram_containment_pairs,
    )

    d = load(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        d,
        "doc_id",
        "text",
        k=SHINGLE_K,
        blocking=["lang"],
        threshold=CONTAIN_THRESHOLD,
    )


Q_DEDUP_CONTAINMENT_ORACLE = f"""
WITH {_SHINGLES_CTE},
shrows AS (
  SELECT DISTINCT doc_id, lang, unnest(list_distinct(shingles)) AS s FROM sh
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM shrows GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM shrows a JOIN shrows b ON a.s = b.s AND a.lang = b.lang
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       sa.n_sh AS n_a,
       sb.n_sh AS n_b,
       CAST(inter AS BIGINT) AS inter,
       ROUND(inter / CAST(sa.n_sh AS DOUBLE), 6) AS cont_a,
       ROUND(inter / CAST(sb.n_sh AS DOUBLE), 6) AS cont_b
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE GREATEST(ROUND(inter / CAST(sa.n_sh AS DOUBLE), 6),
               ROUND(inter / CAST(sb.n_sh AS DOUBLE), 6)) >= {CONTAIN_THRESHOLD}
"""

QUERIES["dedup_containment"] = QuerySpec(
    q_dedup_containment, Q_DEDUP_CONTAINMENT_ORACLE
)


# -- dedup impact report: cluster-size histogram (r11) ----------------------------------------
# The report a curator reads BEFORE materializing the dedup: how much will
# it remove, and is the duplication long-tail (pairs) or pathological (one
# giant component)? One row per cluster SIZE: how many clusters have that
# size, how many documents they hold, and how many rows dedup would drop
# (size − 1 keepers per cluster). Derived entirely from the same
# LSH-candidate connected components dedup_clusters publishes, so the
# recursive-CTE oracle replays it; singleton clusters appear as size 1 with
# removable 0, making total_docs == corpus size an oracle-checked identity.
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.dedup import duplicate_clusters

    d = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", bands=BANDS, rows_per_band=ROWS_PER_BAND, k=SHINGLE_K
    )
    clusters = duplicate_clusters(d, pairs, "doc_id")
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .selectExpr(
            "cluster_size",
            "n_clusters",
            "cluster_size * n_clusters AS n_docs",
            "(cluster_size - 1) * n_clusters AS n_removable",
        )
    )


Q_DEDUP_CLUSTER_SIZES_ORACLE = (
    _CLUSTERS_CTE_CHAIN
    + """, clusters AS (
  SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM clusters GROUP BY cluster_id
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       cluster_size * CAST(COUNT(*) AS BIGINT) AS n_docs,
       (cluster_size - 1) * CAST(COUNT(*) AS BIGINT) AS n_removable
FROM sizes GROUP BY cluster_size"""
)

QUERIES["dedup_cluster_sizes"] = QuerySpec(
    q_dedup_cluster_sizes, Q_DEDUP_CLUSTER_SIZES_ORACLE
)


# -- MinHash estimator calibration (r13) ----------------------------------------------------
# The audit every sketch deserves: the LSH fleet ACTS on the MinHash
# estimate matches/H ≈ Jaccard, so publish the reliability diagram of that
# estimate — bin candidate pairs by what the sketch CLAIMS (estimated-J
# deciles) and report each bin's mean claim against the mean EXACT Jaccard
# (Broder's theorem says E[est] = J with var J(1−J)/H; H = 12 here, so
# honest noise is visible and quantified, not assumed away). A biased bin
# is a miscalibrated dedup threshold — this is what justifies the number a
# dedup review picks in dedup_lsh_tuning. Exactness: matches is an exact
# integer over the 12 signature columns, the exact Jaccard quantizes once
# per pair (FLOOR(inter·1e6/union + 0.5) — inter/union exact BIGINT shingle
# counts), and per-bin means divide exact sums once. Scale shape: ONE
# corpus hashing pass (the signature table feeds banding AND both estimate
# joins, barrier-pinned); exact Jaccard is computed ONLY for LSH candidate
# pairs (the verification-after-discovery discipline — the co-shingle join
# is semi-joined down to candidate docs first, so its volume is
# candidate-bounded, never corpus-quadratic).
_EST_J_MICRO = (
    "CAST(FLOOR(CAST(matches AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    f" / CAST({BANDS * ROWS_PER_BAND} AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_TRUE_J_MICRO = (
    "CAST(FLOOR(CAST(inter AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(n_a + n_b - inter AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_CAL_MEAN = (
    "CAST(FLOOR(CAST(sum_{x} AS DOUBLE) / CAST(n_pairs AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def q_dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.dedup import (
        band_keys_from_signature,
        minhash_signature_table,
        shingle_rows,
    )

    h = BANDS * ROWS_PER_BAND
    d = load(spark, sf_dir, "documents")
    sig = materialize(
        minhash_signature_table(d, "doc_id", "text", num_hashes=h, k=SHINGLE_K)
    )
    keyed = band_keys_from_signature(sig, BANDS, ROWS_PER_BAND)
    ka, kb = keyed.alias("a"), keyed.alias("b")
    cand = materialize(
        ka.join(kb, "band_key")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    siga = sig.select(
        F.col("doc").alias("id_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(h)]
    )
    sigb = sig.select(
        F.col("doc").alias("id_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(h)]
    )
    match_expr = " + ".join(
        f"CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END" for i in range(h)
    )
    est = (
        cand.join(siga, "id_a")
        .join(sigb, "id_b")
        .selectExpr("id_a", "id_b", f"CAST({match_expr} AS BIGINT) AS matches")
    )
    # exact Jaccard for CANDIDATE pairs only: shingle rows semi-joined down
    # to candidate docs, co-shingle join inner-joined back to the pairs
    docs_in_play = cand.selectExpr("id_a AS doc").union(
        cand.selectExpr("id_b AS doc")
    ).distinct()
    sh = materialize(
        shingle_rows(d, "doc_id", "text", SHINGLE_K, distinct=True)
        .join(docs_in_play, "doc", "left_semi")
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    inter = (
        cand.join(sh.selectExpr("doc AS id_a", "s"), "id_a")
        .join(sh.selectExpr("doc AS id_b", "s AS s2"), "id_b")
        .filter(F.col("s") == F.col("s2"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    paired = (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.selectExpr("doc AS id_a", "n_sh AS n_a"), "id_a")
        .join(sizes.selectExpr("doc AS id_b", "n_sh AS n_b"), "id_b")
        .selectExpr(
            "COALESCE(inter, CAST(0 AS BIGINT)) AS inter",
            "n_a",
            "n_b",
            "matches",
        )
        .selectExpr(
            f"{_EST_J_MICRO} AS est_micro",
            f"{_TRUE_J_MICRO} AS true_micro",
        )
    )
    bins = paired.selectExpr(
        "LEAST(CAST(9 AS BIGINT), est_micro DIV 100000) AS bin",
        "est_micro",
        "true_micro",
    ).groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("est_micro").cast("bigint").alias("sum_est"),
        F.sum("true_micro").cast("bigint").alias("sum_true"),
    )
    return bins.selectExpr(
        "bin",
        "n_pairs",
        f"{_CAL_MEAN.format(x='est')} AS mean_est_micro",
        f"{_CAL_MEAN.format(x='true')} AS mean_true_micro",
    ).selectExpr(
        "bin",
        "n_pairs",
        "mean_est_micro",
        "mean_true_micro",
        "mean_est_micro - mean_true_micro AS bias_micro",
    )


def _minhash_calibration_oracle() -> str:
    h = BANDS * ROWS_PER_BAND
    return f"""
WITH {_SHINGLES_CTE},
{_SIG_CTE},
bands AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, {BANDS - 1}),
                b -> md5(b || '|' || array_to_string(
                       sig[b*{ROWS_PER_BAND}+1 : b*{ROWS_PER_BAND}+{ROWS_PER_BAND}], '|'))))
           AS band_key
  FROM sig
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_key)
  WHERE a.doc_id < b.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_filter(generate_series(1, {h}),
              i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS matches
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
),
shrows AS (
  SELECT DISTINCT doc_id AS doc, unnest(list_distinct(shingles)) AS s
  FROM sh
  WHERE doc_id IN (SELECT id_a FROM cand UNION SELECT id_b FROM cand)
),
sizes AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_sh FROM shrows GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM cand c
  JOIN shrows a ON a.doc = c.id_a
  JOIN shrows b ON b.doc = c.id_b AND b.s = a.s
  GROUP BY 1, 2
),
paired AS (
  SELECT {_EST_J_MICRO} AS est_micro, {_TRUE_J_MICRO} AS true_micro
  FROM (
    SELECT COALESCE(i.inter, CAST(0 AS BIGINT)) AS inter,
           sa.n_sh AS n_a, sb.n_sh AS n_b, e.matches
    FROM est e
    LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
    JOIN sizes sa ON sa.doc = e.id_a
    JOIN sizes sb ON sb.doc = e.id_b
  )
),
bins AS (
  SELECT LEAST(CAST(9 AS BIGINT), est_micro // 100000) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(est_micro) AS BIGINT) AS sum_est,
         CAST(SUM(true_micro) AS BIGINT) AS sum_true
  FROM paired GROUP BY 1
)
SELECT bin, n_pairs,
       {_CAL_MEAN.format(x='est')} AS mean_est_micro,
       {_CAL_MEAN.format(x='true')} AS mean_true_micro,
       {_CAL_MEAN.format(x='est')} - {_CAL_MEAN.format(x='true')} AS bias_micro
FROM bins
"""


QUERIES["dedup_minhash_calibration"] = QuerySpec(
    q_dedup_minhash_calibration, _minhash_calibration_oracle()
)
