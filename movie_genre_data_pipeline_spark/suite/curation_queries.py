"""Corpus-curation queries over `documents` / `embeddings` (north star:
benchmark decontamination, context-window chunking, PII redaction, Gopher-style
repetition rules, mixture rebalancing, embedding quantization).

Oracles are generated from the SAME constants (window/stride, thresholds, PII
patterns, mixture weights) as the Spark implementations so they cannot drift.
Long text columns are pinned by md5 digest instead of shipped verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.functions.curation import (
    GOPHER_MAX_TOKENS,
    GOPHER_MAX_TOP_TOKEN_FRAC,
    GOPHER_MIN_TOKENS,
    GOPHER_MIN_TTR,
    GOPHER_WORDLEN_RANGE,
    PII_PATTERNS,
    PII_REPLACEMENT,
    chunk_documents,
    decontaminate,
    gopher_flags,
    pii_counts,
    redact_pii,
    repetition_profile,
)
from movie_genre_data_pipeline_spark.functions.sampling import mixture_resample
from movie_genre_data_pipeline_spark.functions.similarity import quantize_int8
from movie_genre_data_pipeline_spark.functions.text import TOKS_SQL, fingerprint_sql
from movie_genre_data_pipeline_spark.session import materialize
from movie_genre_data_pipeline_spark.suite import QuerySpec, load

_TOKS = TOKS_SQL  # engine-proof whitespace class — see functions/text.py

# -- context-window chunking -------------------------------------------------------
CHUNK_WINDOW = 32
CHUNK_STRIDE = 24


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ch = chunk_documents(d, "doc_id", "text", CHUNK_WINDOW, CHUNK_STRIDE)
    return ch.select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_digest"),
    )


Q_CHUNK_ORACLE = f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
st AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(list_filter(
           generate_series(1, greatest(len(toks), 1), {CHUNK_STRIDE}),
           s -> s = 1 OR s + {CHUNK_WINDOW - CHUNK_STRIDE} <= len(toks))) AS s
  FROM docs WHERE len(toks) > 0
)
SELECT doc_id,
       CAST((s - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(s AS BIGINT) AS chunk_start,
       CAST(LEAST({CHUNK_WINDOW}, n - s + 1) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(toks[s:s + {CHUNK_WINDOW - 1}], ' ')) AS chunk_digest
FROM st
"""


# -- PII redaction -----------------------------------------------------------------
# The synthetic corpus carries no PII, so the query plants deterministic PII
# derived from doc_id (one email, one phone, one IPv4 per doc) and then runs the
# redaction pass — exercising counts, replacement order, and the full redacted
# string (pinned by digest) with non-degenerate data.
def _pii_text(spark_side: bool):
    if spark_side:
        return F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        )
    return (
        "text || ' contact u' || CAST(doc_id AS VARCHAR) || "
        "'@mail.example.com call 555-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
        "' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").withColumn("pii_text", _pii_text(True))
    counts = pii_counts("pii_text")
    return d.select(
        "doc_id",
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        F.md5(redact_pii("pii_text")).alias("redacted_digest"),
    )


def _pii_oracle() -> str:
    count_cols = ",\n       ".join(
        f"CAST(len(regexp_extract_all(pii_text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    redacted = "pii_text"
    for pat in PII_PATTERNS.values():
        redacted = f"regexp_replace({redacted}, '{pat}', '{PII_REPLACEMENT}', 'g')"
    return f"""
WITH base AS (SELECT doc_id, {_pii_text(False)} AS pii_text FROM documents)
SELECT doc_id,
       {count_cols},
       md5({redacted}) AS redacted_digest
FROM base
"""


# -- Gopher-style repetition / quality flags ---------------------------------------
def q_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return gopher_flags(repetition_profile(d, "doc_id", "text"))


Q_GOPHER_ORACLE = f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (
  SELECT doc_id, lower(t) AS tok
  FROM (SELECT * FROM docs WHERE len(toks) > 0), unnest(toks) AS u(t)
),
per_tok AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
prof AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_unique_tokens,
         ROUND(COUNT(*) / SUM(cnt), 6) AS type_token_ratio,
         ROUND(MAX(cnt) / SUM(cnt), 6) AS top_token_frac,
         ROUND(SUM(length(tok) * cnt) / SUM(cnt), 6) AS mean_token_len
  FROM per_tok GROUP BY doc_id
)
SELECT *,
       n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS} AS ok_length,
       mean_token_len BETWEEN {GOPHER_WORDLEN_RANGE[0]} AND {GOPHER_WORDLEN_RANGE[1]}
         AS ok_wordlen,
       type_token_ratio >= {GOPHER_MIN_TTR} AS ok_ttr,
       top_token_frac <= {GOPHER_MAX_TOP_TOKEN_FRAC} AS ok_top_token,
       (n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS})
         AND (mean_token_len BETWEEN {GOPHER_WORDLEN_RANGE[0]}
              AND {GOPHER_WORDLEN_RANGE[1]})
         AND type_token_ratio >= {GOPHER_MIN_TTR}
         AND top_token_frac <= {GOPHER_MAX_TOP_TOKEN_FRAC} AS keep
FROM prof
"""


# -- benchmark decontamination ------------------------------------------------------
DECON_K = 5
DECON_THRESHOLD = 0.5
BENCH_SOURCES = ("src0", "src1")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bench_pred = F.col("source").isin(*BENCH_SOURCES)
    return decontaminate(
        d.filter(~bench_pred),
        d.filter(bench_pred),
        "doc_id",
        "text",
        k=DECON_K,
        threshold=DECON_THRESHOLD,
    )


_BENCH_IN = ", ".join(f"'{s}'" for s in BENCH_SOURCES)
Q_DECON_ORACLE = f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
csh AS (
  SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i + {DECON_K - 1}], ' ')) AS sh
  FROM (SELECT * FROM toks
        WHERE source NOT IN ({_BENCH_IN}) AND len(toks) >= {DECON_K}) t,
       unnest(generate_series(1, len(toks) - {DECON_K - 1})) AS g(i)
),
bsh AS (
  SELECT DISTINCT md5(array_to_string(toks[i:i + {DECON_K - 1}], ' ')) AS sh
  FROM (SELECT * FROM toks
        WHERE source IN ({_BENCH_IN}) AND len(toks) >= {DECON_K}) t,
       unnest(generate_series(1, len(toks) - {DECON_K - 1})) AS g(i)
),
ov AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(COUNT(b.sh) AS BIGINT) AS n_contaminated
  FROM csh LEFT JOIN bsh b USING (sh) GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(n_shingles, 0) AS n_shingles,
       COALESCE(n_contaminated, 0) AS n_contaminated,
       ROUND(COALESCE(CAST(n_contaminated AS DOUBLE) / n_shingles, 0.0), 6)
         AS contamination,
       ROUND(COALESCE(CAST(n_contaminated AS DOUBLE) / n_shingles, 0.0), 6)
         >= {DECON_THRESHOLD} AS contaminated
FROM (SELECT doc_id FROM toks WHERE source NOT IN ({_BENCH_IN})) t
LEFT JOIN ov USING (doc_id)
"""


# -- Bloom-filter decontamination ---------------------------------------------------
# Same contamination question as curate_decontaminate, but the membership probe
# is a fixed-size Bloom bitmap instead of broadcasting the benchmark's digest
# set — the shape that still works when the "benchmark" is a billion-key
# blocklist. The bitmap build and the k probe joins are deterministic md5 math,
# so the oracle rebuilds the identical bitmap and reproduces even the false
# positives bit-for-bit (n_false_pos is part of the checked result).
BLOOM_M = 65536
BLOOM_K = 3


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.bloom import (
        bloom_probe,
        build_bloom,
    )
    from movie_genre_data_pipeline_spark.functions.dedup import shingle_rows

    d = load(spark, sf_dir, "documents")
    bench_pred = F.col("source").isin(*BENCH_SOURCES)
    corpus, bench = d.filter(~bench_pred), d.filter(bench_pred)
    bench_sh = (
        shingle_rows(bench, "doc_id", "text", k=DECON_K)
        .select(F.md5("s").alias("sh"))
        .distinct()
    )
    # The probe references the bitmap k times (one join per hash); checkpoint the
    # (≤ m/32-row) bitmap so Catalyst doesn't re-derive the whole benchmark
    # shingle scan per reference — same stage-barrier pattern as the corpus
    # pipeline. At scale this is "persist the bitmap table once, probe forever".
    bloom = materialize(build_bloom(bench_sh, "sh", BLOOM_M, BLOOM_K), eager=True)
    corpus_sh = (
        shingle_rows(corpus, "doc_id", "text", k=DECON_K)
        .select("doc", F.md5("s").alias("sh"))
        .distinct()
    )
    probed = bloom_probe(corpus_sh, "sh", bloom, BLOOM_M, BLOOM_K)
    per_doc = (
        probed.join(
            F.broadcast(bench_sh.withColumn("__hit", F.lit(True))), "sh", "left"
        )
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_bloom_hits"),
            F.count("__hit").cast("bigint").alias("n_exact_hits"),
        )
    )
    ids = corpus.select(F.col("doc_id").alias("doc"))
    return ids.join(per_doc, "doc", "left").select(
        F.col("doc").alias("doc_id"),
        F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias("n_shingles"),
        F.coalesce("n_bloom_hits", F.lit(0)).cast("bigint").alias("n_bloom_hits"),
        F.coalesce("n_exact_hits", F.lit(0)).cast("bigint").alias("n_exact_hits"),
        (F.coalesce("n_bloom_hits", F.lit(0)) - F.coalesce("n_exact_hits", F.lit(0)))
        .cast("bigint")
        .alias("n_false_pos"),
        (F.coalesce("n_bloom_hits", F.lit(0)) > 0).alias("bloom_flagged"),
    )


_BLOOM_I = ", ".join(f"({i})" for i in range(BLOOM_K))
_BLOOM_POS = (
    "CAST(concat('0x', substring(md5(sh || ':' || i), 1, 12)) AS BIGINT)"
    f" % {BLOOM_M}"
)
Q_BLOOM_DECON_ORACLE = f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
bsh AS (
  SELECT DISTINCT md5(array_to_string(toks[i:i + {DECON_K - 1}], ' ')) AS sh
  FROM (SELECT * FROM toks
        WHERE source IN ({_BENCH_IN}) AND len(toks) >= {DECON_K}) t,
       unnest(generate_series(1, len(toks) - {DECON_K - 1})) AS g(i)
),
bloom AS (
  SELECT pos // 32 AS word_idx, bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS word
  FROM (SELECT {_BLOOM_POS} AS pos
        FROM bsh CROSS JOIN (VALUES {_BLOOM_I}) h(i))
  GROUP BY 1
),
csh AS (
  SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i + {DECON_K - 1}], ' ')) AS sh
  FROM (SELECT * FROM toks
        WHERE source NOT IN ({_BENCH_IN}) AND len(toks) >= {DECON_K}) t,
       unnest(generate_series(1, len(toks) - {DECON_K - 1})) AS g(i)
),
probe AS (
  SELECT doc_id, sh,
         bool_and((COALESCE(word, 0) & (1::BIGINT << CAST(pos % 32 AS INTEGER)))
                  <> 0) AS bloom_hit
  FROM (SELECT doc_id, sh, {_BLOOM_POS} AS pos
        FROM csh CROSS JOIN (VALUES {_BLOOM_I}) h(i)) p
  LEFT JOIN bloom ON p.pos // 32 = bloom.word_idx
  GROUP BY doc_id, sh
),
per AS (
  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_hits,
         CAST(COUNT(b.sh) AS BIGINT) AS n_exact_hits
  FROM probe p LEFT JOIN bsh b USING (sh)
  GROUP BY p.doc_id
)
SELECT t.doc_id,
       COALESCE(n_shingles, 0) AS n_shingles,
       COALESCE(n_bloom_hits, 0) AS n_bloom_hits,
       COALESCE(n_exact_hits, 0) AS n_exact_hits,
       COALESCE(n_bloom_hits, 0) - COALESCE(n_exact_hits, 0) AS n_false_pos,
       COALESCE(n_bloom_hits, 0) > 0 AS bloom_flagged
FROM (SELECT doc_id FROM toks WHERE source NOT IN ({_BENCH_IN})) t
LEFT JOIN per USING (doc_id)
"""


# -- mixture rebalance --------------------------------------------------------------
MIXTURE_WEIGHTS = {"en": 0.2, "de": 0.2, "fr": 0.2, "es": 0.2, "zh": 0.2}
MIXTURE_TARGET = 250


def q_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    kept = mixture_resample(
        d, "doc_id", "lang", MIXTURE_WEIGHTS, MIXTURE_TARGET, salt="mixture"
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))


_W_CASE = " ".join(f"WHEN '{s}' THEN {w!r}" for s, w in MIXTURE_WEIGHTS.items())
Q_MIXTURE_ORACLE = f"""
WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
rates AS (
  SELECT lang,
         LEAST(1.0, (CASE lang {_W_CASE} ELSE 0.0 END) * {float(MIXTURE_TARGET)!r}
                    / n) AS rate
  FROM counts
),
kept AS (
  SELECT d.lang
  FROM documents d JOIN rates r USING (lang)
  WHERE CAST(concat('0x', substring(
          md5(concat(CAST(doc_id AS VARCHAR), ':mixture')), 1, 12)) AS BIGINT)
        / {float(1 << 48)!r} < r.rate
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept FROM kept GROUP BY lang
"""


# -- embedding scalar quantization ---------------------------------------------------
QUANT_LEVELS = 255


def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return quantize_int8(e, "vec_id", "embedding", levels=QUANT_LEVELS)


Q_QUANTIZE_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx,
         CASE WHEN list_max(v) > list_min(v)
              THEN (list_max(v) - list_min(v)) / {float(QUANT_LEVELS - 1)!r}
              ELSE 1.0 END AS scale
  FROM v
),
q AS (
  SELECT vec_id, v, mn, mx, scale,
         list_transform(v, x -> CAST(round((x - mn) / scale) AS BIGINT)) AS codes
  FROM s
)
SELECT vec_id,
       ROUND(mn, 6) AS v_min,
       ROUND(mx, 6) AS v_max,
       md5(array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), ','))
         AS codes_digest,
       ROUND(list_aggregate(
               list_transform(generate_series(1, len(v)),
                 i -> abs(v[i] - (codes[i] * scale + mn))), 'sum') / len(v), 6)
         AS mean_abs_err
FROM q
"""


QUERIES: dict[str, QuerySpec] = {
    "curate_chunk_documents": QuerySpec(q_chunk_documents, Q_CHUNK_ORACLE),
    "curate_pii_redaction": QuerySpec(q_pii_redaction, _pii_oracle()),
    "curate_gopher_flags": QuerySpec(q_gopher_flags, Q_GOPHER_ORACLE),
    "curate_decontaminate": QuerySpec(q_decontaminate, Q_DECON_ORACLE),
    "curate_bloom_decontaminate": QuerySpec(
        q_bloom_decontaminate, Q_BLOOM_DECON_ORACLE
    ),
    "sample_mixture_rebalance": QuerySpec(q_mixture_rebalance, Q_MIXTURE_ORACLE),
    "sim_quantize_int8": QuerySpec(q_quantize_int8, Q_QUANTIZE_ORACLE),
}


# -- end-to-end corpus curation pipeline --------------------------------------------
# The flagship LLM-data composition: quality-filter (Gopher rules) -> exact dedup
# -> benchmark decontamination -> mixture rebalance -> context-window chunking ->
# per-language corpus stats. Each stage is the library operator; the oracle
# composes the same stages as CTEs from the same constants, so the whole pipeline
# is cross-engine verified end to end, not just stage by stage.
PIPE_TARGET = 150


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.dedup import exact_dedup

    d = load(spark, sf_dir, "documents")
    bench_pred = F.col("source").isin(*BENCH_SOURCES)
    corpus, bench = d.filter(~bench_pred), d.filter(bench_pred)
    # 1. Gopher quality rules
    keep_ids = (
        gopher_flags(repetition_profile(corpus, "doc_id", "text"))
        .filter(F.col("keep"))
        .select("doc_id")
    )
    kept = corpus.join(keep_ids, "doc_id")
    # 2. exact dedup (lowest doc_id per normalized-text fingerprint).
    # Each stage's output feeds MULTIPLE downstream subtrees (the decon probe
    # AND the join-back; mixture's count agg AND its filter join): without a
    # materialization barrier Catalyst re-derives the whole upstream per
    # reference — the unchecked plan re-scanned the corpus 14x. The checkpoint
    # stands in for the stage boundary a real pipeline writes to storage
    # (bronze→silver): each stage's lineage is computed exactly once.
    kept = materialize(exact_dedup(kept, "doc_id", "text"))
    # 3. benchmark decontamination
    clean_ids = (
        decontaminate(kept, bench, "doc_id", "text", k=DECON_K, threshold=DECON_THRESHOLD)
        .filter(~F.col("contaminated"))
        .select("doc_id")
    )
    kept = materialize(kept.join(clean_ids, "doc_id"))
    # 4. rebalance the language mixture
    kept = mixture_resample(
        kept, "doc_id", "lang", MIXTURE_WEIGHTS, PIPE_TARGET, salt="mixture"
    )
    # 5. chunk into context windows (lang carried through the explode)
    ch = chunk_documents(
        kept, "doc_id", "text", CHUNK_WINDOW, CHUNK_STRIDE, extra_cols=("lang",)
    )
    # 6. corpus report
    return ch.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("n_chunk_tokens").cast("bigint").alias("n_tokens"),
    )


Q_CORPUS_PIPELINE_ORACLE = f"""
WITH corpus AS (SELECT * FROM documents WHERE source NOT IN ({_BENCH_IN})),
ctoks AS (SELECT doc_id, lang, text, {_TOKS} AS toks FROM corpus),
tok AS (
  SELECT doc_id, lower(t) AS tok
  FROM (SELECT * FROM ctoks WHERE len(toks) > 0), unnest(toks) AS u(t)
),
per_tok AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
prof AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         ROUND(COUNT(*) / SUM(cnt), 6) AS type_token_ratio,
         ROUND(MAX(cnt) / SUM(cnt), 6) AS top_token_frac,
         ROUND(SUM(length(tok) * cnt) / SUM(cnt), 6) AS mean_token_len
  FROM per_tok GROUP BY doc_id
),
gopher AS (
  SELECT doc_id FROM prof
  WHERE n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
    AND mean_token_len BETWEEN {GOPHER_WORDLEN_RANGE[0]} AND {GOPHER_WORDLEN_RANGE[1]}
    AND type_token_ratio >= {GOPHER_MIN_TTR}
    AND top_token_frac <= {GOPHER_MAX_TOP_TOKEN_FRAC}
),
dd AS (
  SELECT doc_id FROM (
    SELECT c.doc_id,
           ROW_NUMBER() OVER (
             PARTITION BY {fingerprint_sql("c.text")}
             ORDER BY c.doc_id) AS rn
    FROM corpus c JOIN gopher USING (doc_id))
  WHERE rn = 1
),
csh AS (
  SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i + {DECON_K - 1}], ' ')) AS sh
  FROM (SELECT t.* FROM ctoks t JOIN dd USING (doc_id)
        WHERE len(toks) >= {DECON_K}) t,
       unnest(generate_series(1, len(toks) - {DECON_K - 1})) AS g(i)
),
bsh AS (
  SELECT DISTINCT md5(array_to_string(toks[i:i + {DECON_K - 1}], ' ')) AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
        WHERE source IN ({_BENCH_IN})) t,
       unnest(generate_series(1, len(toks) - {DECON_K - 1})) AS g(i)
  WHERE len(toks) >= {DECON_K}
),
ov AS (
  SELECT doc_id, COUNT(*) AS n_sh, COUNT(b.sh) AS n_cont
  FROM csh LEFT JOIN bsh b USING (sh) GROUP BY doc_id
),
decon_keep AS (
  SELECT d.doc_id FROM dd d LEFT JOIN ov USING (doc_id)
  WHERE ROUND(COALESCE(CAST(n_cont AS DOUBLE) / n_sh, 0.0), 6) < {DECON_THRESHOLD}
),
surv AS (SELECT c.* FROM corpus c JOIN decon_keep USING (doc_id)),
counts AS (SELECT lang, COUNT(*) AS n FROM surv GROUP BY lang),
rates AS (
  SELECT lang,
         LEAST(1.0, (CASE lang {_W_CASE} ELSE 0.0 END) * {float(PIPE_TARGET)!r}
                    / n) AS rate
  FROM counts
),
kept AS (
  SELECT s.doc_id, s.lang, s.text
  FROM surv s JOIN rates r USING (lang)
  WHERE CAST(concat('0x', substring(
          md5(concat(CAST(doc_id AS VARCHAR), ':mixture')), 1, 12)) AS BIGINT)
        / {float(1 << 48)!r} < r.rate
),
ktoks AS (SELECT doc_id, lang, {_TOKS} AS toks FROM kept),
st AS (
  SELECT doc_id, lang, len(toks) AS n,
         unnest(list_filter(
           generate_series(1, greatest(len(toks), 1), {CHUNK_STRIDE}),
           s -> s = 1 OR s + {CHUNK_WINDOW - CHUNK_STRIDE} <= len(toks))) AS s
  FROM ktoks WHERE len(toks) > 0
)
SELECT lang,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(LEAST({CHUNK_WINDOW}, n - s + 1)) AS BIGINT) AS n_tokens
FROM st GROUP BY lang
"""

QUERIES["curate_corpus_pipeline"] = QuerySpec(q_corpus_pipeline, Q_CORPUS_PIPELINE_ORACLE)


# -- fixed-size per-source quota ----------------------------------------------------
QUOTA_K = 10


def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.sampling import per_stratum_quota

    d = load(spark, sf_dir, "documents")
    kept = per_stratum_quota(d, "doc_id", "source", QUOTA_K, salt="quota")
    return kept.select("doc_id", "source")


Q_SOURCE_QUOTA_ORACLE = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':quota')) ASC,
                    doc_id ASC) AS rn
  FROM documents)
WHERE rn <= {QUOTA_K}
"""

QUERIES["sample_source_quota"] = QuerySpec(q_source_quota, Q_SOURCE_QUOTA_ORACLE)


# -- fuzzy decontamination: cross-dataset MinHash-LSH + exact-Jaccard verify (r5) -------
# Exact digest decontamination (curate_decontaminate) and Bloom membership
# (curate_bloom_decontaminate) only catch verbatim n-gram leakage; paraphrased /
# templated benchmark text slips through. The D4/Dolma-style fuzzy step: LSH
# band collision between corpus and benchmark (one equi-shuffle, no all-pairs),
# then exact Jaccard verification of ONLY the candidates — the sketch→exact
# handoff discipline (SCALE.md §9e) applied cross-dataset.
FUZZY_BENCH_MOD = 3  # fixture-derived split: every 3rd doc plays the held-out eval set
FUZZY_JACCARD_T = 0.2


def q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.dedup import (
        minhash_lsh_candidates_cross,
        shingle_rows,
    )
    from movie_genre_data_pipeline_spark.suite.dedup_queries import (
        BANDS,
        ROWS_PER_BAND,
        SHINGLE_K,
    )

    d = load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % FUZZY_BENCH_MOD == 0)
    corpus = d.filter(F.col("doc_id") % FUZZY_BENCH_MOD != 0)
    cands = minhash_lsh_candidates_cross(
        corpus, bench, "doc_id", "text", bands=BANDS, rows_per_band=ROWS_PER_BAND,
        k=SHINGLE_K,
    ).select(F.col("left_id").alias("corpus_id"), F.col("right_id").alias("bench_id"))

    shc = shingle_rows(corpus, "doc_id", "text", SHINGLE_K, distinct=True).select(
        F.col("doc").alias("corpus_id"), F.col("s").alias("sh")
    )
    shb = shingle_rows(bench, "doc_id", "text", SHINGLE_K, distinct=True).select(
        F.col("doc").alias("bench_id"), F.col("s").alias("sh")
    )
    sizes_c = shc.groupBy("corpus_id").agg(F.count(F.lit(1)).alias("n_c"))
    sizes_b = shb.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_b"))
    # intersection restricted to LSH candidates — the corpus is never
    # all-pairs-joined against the benchmark's shingles
    inter = (
        cands.join(shc, "corpus_id")
        .join(shb, ["bench_id", "sh"])
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    verified = (
        inter.join(sizes_c, "corpus_id")
        .join(F.broadcast(sizes_b), "bench_id")
        .select(
            "corpus_id",
            "bench_id",
            F.round(
                F.col("inter")
                / (F.col("n_c") + F.col("n_b") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= FUZZY_JACCARD_T)
    )
    return verified.select("corpus_id", "bench_id", "jaccard")


def _fuzzy_decon_oracle() -> str:
    from movie_genre_data_pipeline_spark.suite.dedup_queries import (
        _MINHASH_P,
        _SHINGLES_CTE,
        BANDS,
        ROWS_PER_BAND,
    )

    h = BANDS * ROWS_PER_BAND
    r = ROWS_PER_BAND
    return f"""
WITH {_SHINGLES_CTE},
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
),
bands AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, {BANDS - 1}),
                b -> md5(b || '|' || array_to_string(
                       sig[b*{r}+1 : b*{r}+{r}], '|')))) AS band_key
  FROM sig
),
cands AS (
  SELECT DISTINCT c.doc_id AS corpus_id, e.doc_id AS bench_id
  FROM bands c JOIN bands e ON c.band_key = e.band_key
  WHERE c.doc_id % {FUZZY_BENCH_MOD} != 0 AND e.doc_id % {FUZZY_BENCH_MOD} = 0
),
shrows AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(shingles)) AS s FROM sh
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM shrows GROUP BY doc_id),
inter AS (
  SELECT k.corpus_id, k.bench_id, COUNT(*) AS inter
  FROM cands k
  JOIN shrows a ON a.doc_id = k.corpus_id
  JOIN shrows b ON b.doc_id = k.bench_id AND b.s = a.s
  GROUP BY 1, 2
)
SELECT corpus_id, bench_id,
       ROUND(inter / CAST(sc.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sc ON sc.doc_id = corpus_id
JOIN sizes sb ON sb.doc_id = bench_id
WHERE ROUND(inter / CAST(sc.n_sh + sb.n_sh - inter AS DOUBLE), 6)
      >= {FUZZY_JACCARD_T}
"""


QUERIES["curate_fuzzy_decontaminate"] = QuerySpec(
    q_fuzzy_decontaminate, _fuzzy_decon_oracle()
)


# -- span scrub: APPLY the duplicated-span report (r9) -------------------------------------
def q_curate_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write side of dedup_duplicate_spans: every token covered by a
    corpus-duplicated length-6 window is cut, the survivors re-assemble in
    position order, and the row publishes the rewritten text's md5 plus the
    exact kept-token count (functions/dedup.span_scrub). Completes the Lee
    et al. 2021 pipeline — report (dedup_duplicate_spans), continuous ledger
    (stream_duplicate_spans), and now the actual scrub a training-data build
    applies before tokenization."""
    from movie_genre_data_pipeline_spark.functions.dedup import span_scrub
    from movie_genre_data_pipeline_spark.suite.dedup_queries import DUP_SPAN_L

    d = load(spark, sf_dir, "documents")
    return span_scrub(d, "doc_id", "text", l=DUP_SPAN_L)


def _span_scrub_oracle() -> str:
    from movie_genre_data_pipeline_spark.suite.dedup_queries import DUP_SPAN_L

    L = DUP_SPAN_L
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS a FROM documents),
base AS (SELECT doc_id, CAST(len(a) AS BIGINT) AS n_tokens FROM toks),
g AS (
  SELECT doc_id, i,
         CAST(concat('0x', substring(md5(
              array_to_string(a[i:i + {L - 1}], ' ')), 1, 12))
           AS BIGINT) AS h48
  FROM (SELECT * FROM toks WHERE len(a) >= {L}) t,
       unnest(generate_series(1, len(a) - {L - 1})) AS s(i)
),
d AS (
  SELECT doc_id, i
  FROM (SELECT doc_id, i, COUNT(*) OVER (PARTITION BY h48) AS occ FROM g)
  WHERE occ >= 2
),
marked AS (
  SELECT DISTINCT doc_id, i + o AS p
  FROM d, unnest(generate_series(0, {L - 1})) AS s(o)
),
pos AS (
  SELECT doc_id, i AS p, a[i] AS tok
  FROM toks, unnest(generate_series(1, len(a))) AS s(i)
),
kept AS (
  SELECT doc_id, p, tok FROM pos
  ANTI JOIN marked USING (doc_id, p)
),
scrub AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         md5(array_to_string(list(tok ORDER BY p), ' ')) AS scrubbed_md5
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       COALESCE(kept_tokens, 0) AS kept_tokens,
       COALESCE(scrubbed_md5, md5('')) AS scrubbed_md5
FROM base b LEFT JOIN scrub USING (doc_id)
"""


QUERIES["curate_span_scrub"] = QuerySpec(q_curate_span_scrub, _span_scrub_oracle())


# -- LM-perplexity quality filtering (r9) ----------------------------------------------------
# The CCNet idiom (Wenzek et al. 2020): score every document under a language
# model trained on the corpus itself and keep the low-perplexity half. Here
# the model is the suite's own bigram LM with stupid backoff; the threshold
# (3.39 mean nats/bigram) straddles the corpus median at every fixture SF so
# BOTH filter outcomes are oracle-exercised. Scores are the exact-micro-nat
# folds of text_bigram_surprisal, so the keep/drop decision is bit-identical
# cross-engine.
SURPRISAL_KEEP_MAX = 3.39


def q_curate_surprisal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.text import bigram_surprisal

    d = load(spark, sf_dir, "documents")
    scored = bigram_surprisal(d, "doc_id", "text")
    keep = F.col("avg_surprisal") < F.lit(SURPRISAL_KEEP_MAX)
    return (
        scored.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.expr(
                "CAST(ROUND(CAST(SUM(CASE WHEN avg_surprisal"
                f" < CAST({SURPRISAL_KEEP_MAX} AS DOUBLE) THEN 1 ELSE 0 END)"
                " AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
                " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
            ).alias("kept_share_micro"),
        )
    )


def _surprisal_filter_oracle() -> str:
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        Q_BIGRAM_SURPRISAL_ORACLE,
    )

    return f"""
WITH scored AS ({Q_BIGRAM_SURPRISAL_ORACLE})
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN s.avg_surprisal < CAST({SURPRISAL_KEEP_MAX} AS DOUBLE)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(ROUND(CAST(SUM(CASE WHEN s.avg_surprisal
                  < CAST({SURPRISAL_KEEP_MAX} AS DOUBLE) THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            * CAST(1000000 AS DOUBLE)) AS BIGINT) AS kept_share_micro
FROM scored s JOIN documents d USING (doc_id)
GROUP BY d.source
"""


QUERIES["curate_surprisal_filter"] = QuerySpec(
    q_curate_surprisal_filter, _surprisal_filter_oracle()
)
