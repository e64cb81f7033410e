"""Text-analysis queries over `documents` (north star: language-ID, quality
scoring, token counting, fingerprinting). Oracles are generated from the SAME
lexicon/formula constants as the Spark implementations so they cannot drift.

DuckDB parity notes: regexp_replace needs the explicit 'g' flag (Spark's is global
by default); list lambdas mirror Spark's higher-order functions 1:1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.functions.dedup import exact_dedup_stats
from movie_genre_data_pipeline_spark.functions.text import (
    BPE_ISH_PATTERN_SQL,
    LANG_LEXICONS,
    ALPHA_TOKS_SQL,
    TOKS_SQL,
    alpha_tokens,
    bpe_ish_token_count,
    fingerprint_sql,
    lang_id,
    quality_score,
    token_count,
    tokens,
)
from movie_genre_data_pipeline_spark.session import materialize
from movie_genre_data_pipeline_spark.suite import QuerySpec, load

# shared SQL fragments ---------------------------------------------------------
# tokens()'s DuckDB rendering lives next to the Spark implementation so the
# whitespace class can never drift between engine and oracle (Java \s vs RE2 \s
# disagree on \x0B — see functions/text.py).
_TOKS = TOKS_SQL


def _lex_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_LEXICONS[lang])
    return f"len(list_filter(toks, t -> lower(t) IN ({words})))"


# -- token counting --------------------------------------------------------------
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


Q_TOKEN_STATS_ORACLE = f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN_SQL}')) AS BIGINT)
         AS n_bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_actual
FROM documents
"""


# -- language-ID histogram ----------------------------------------------------------
def q_lang_id_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select(lang_id("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_LANG_CASE = " ".join(
    f"WHEN s_{lang} = g AND g > 0 THEN '{lang}'" for lang in LANG_LEXICONS
)
Q_LANG_ID_HIST_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
scores AS (
  SELECT doc_id,
         {", ".join(f"{_lex_sql(lang)} AS s_{lang}" for lang in LANG_LEXICONS)}
  FROM toks
),
pick AS (
  SELECT CASE {_LANG_CASE} ELSE 'und' END AS lang_pred
  FROM (SELECT *, greatest({", ".join("s_" + lang for lang in LANG_LEXICONS)}) AS g
        FROM scores)
)
SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS n FROM pick GROUP BY lang_pred
"""


# -- quality score ---------------------------------------------------------------------
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score("text").alias("quality"))


_EN = ", ".join(f"'{w}'" for w in LANG_LEXICONS["en"])
Q_QUALITY_SCORES_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) END AS wordlen,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, t -> lower(t) IN ({_EN}))) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) END AS stop_ratio,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE) END AS punct_ratio
  FROM base
)
SELECT doc_id,
       ROUND(
         (LEAST(n_tok / 50.0, 1.0) * 0.4
          + (CASE WHEN wordlen >= 3.0 AND wordlen <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
          + LEAST(stop_ratio * 5.0, 1.0) * 0.3)
         * (1.0 - LEAST(punct_ratio * 2.0, 1.0) * 0.5),
       6) AS quality
FROM feat
"""


# -- fingerprint / exact-dup stats ---------------------------------------------------------
def q_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return exact_dedup_stats(d, "doc_id", "text")


Q_FINGERPRINT_STATS_ORACLE = f"""
SELECT {fingerprint_sql()} AS fp,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents GROUP BY 1
"""


# -- per-source rollup of text metrics --------------------------------------------------------
def q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
            F.round(F.avg(token_count("text")), 4).alias("avg_tokens"),
        )
    )


Q_SOURCE_QUALITY_ORACLE = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(length(text)), 4) AS avg_chars,
       ROUND(AVG(len({_TOKS})), 4) AS avg_tokens
FROM documents GROUP BY source
"""



WINNOW_K, WINNOW_W = 3, 4


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint selection per document: every shared run
    of >= w+k-1 tokens between two docs shares a selected fingerprint while
    only ~2/(w+1) of gram hashes are kept — the local-similarity index
    `text_fingerprint_stats`'s whole-doc digest cannot provide. Output is the
    per-doc fingerprint count + an order-independent digest of the selected
    set, which the oracle reproduces hash-for-hash."""
    from movie_genre_data_pipeline_spark.functions.text import winnow_fingerprints

    d = load(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d, "doc_id", "text", k=WINNOW_K, w=WINNOW_W)
    return fps.groupBy(F.col("doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
        F.md5(
            F.concat_ws(
                "|", F.sort_array(F.collect_list(F.col("h48").cast("string")))
            )
        ).alias("fp_digest"),
    )


# shared winnowing CTE chain (ends at `sel(doc_id, wmin)` = the selected
# fingerprint posting table) — dedup_queries' local-overlap oracle reuses it.
WINNOW_SEL_CTE = f"""
toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, len(toks) - {WINNOW_K - 1} AS n_grams, i,
         CAST(concat('0x', substring(md5(
              array_to_string(toks[i:i + {WINNOW_K - 1}], ' ')), 1, 12))
           AS BIGINT) AS h48
  FROM (SELECT * FROM toks WHERE len(toks) >= {WINNOW_K}) t,
       unnest(generate_series(1, len(toks) - {WINNOW_K - 1})) AS s(i)
),
m AS (
  SELECT doc_id, n_grams, i,
         MIN(h48) OVER (PARTITION BY doc_id ORDER BY i ASC
                        ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
           AS wmin
  FROM g
),
sel AS (SELECT DISTINCT doc_id, wmin FROM m
        WHERE i <= GREATEST(1, n_grams - {WINNOW_W - 1}))"""

Q_WINNOW_FINGERPRINTS_ORACLE = f"""
WITH {WINNOW_SEL_CTE}
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       md5(array_to_string(list_sort(list(CAST(wmin AS VARCHAR))), '|'))
         AS fp_digest
FROM sel GROUP BY doc_id
"""


QUERIES: dict[str, QuerySpec] = {
    "text_token_stats": QuerySpec(q_token_stats, Q_TOKEN_STATS_ORACLE),
    "text_lang_id_hist": QuerySpec(q_lang_id_hist, Q_LANG_ID_HIST_ORACLE),
    "text_quality_scores": QuerySpec(q_quality_scores, Q_QUALITY_SCORES_ORACLE),
    "text_fingerprint_stats": QuerySpec(q_fingerprint_stats, Q_FINGERPRINT_STATS_ORACLE),
    "text_winnow_fingerprints": QuerySpec(
        q_winnow_fingerprints, Q_WINNOW_FINGERPRINTS_ORACLE
    ),
    "text_source_quality": QuerySpec(q_source_quality, Q_SOURCE_QUALITY_ORACLE),
}


# -- n-gram frequency profile: top bigrams per language --------------------------------
def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram profiling: top-3 word bigrams per language (count desc,
    bigram asc tie-break) — explode + partial-aggregated count + windowed top-k,
    the linear/one-shuffle shape that holds at corpus scale."""
    from pyspark.sql import Window

    from movie_genre_data_pipeline_spark.functions.dedup import shingle_rows

    d = load(spark, sf_dir, "documents")
    # position-explode (see shingle_rows): exploding a shingle array directly
    # re-evaluates the slice/concat HOF per output row — O(n_tokens²) per doc
    grams = shingle_rows(d, "doc_id", "text", k=2, extra_cols=("lang",)).select(
        "lang", F.col("s").alias("bigram")
    )
    counts = grams.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("lang", "bigram", "n", F.col("rnk").cast("int").alias("rnk"))
    )


Q_NGRAM_TOPK_ORACLE = f"""
WITH docs AS (SELECT lang, {_TOKS} AS toks FROM documents),
grams AS (
  SELECT lang,
         unnest(CASE WHEN len(toks) >= 2
                     THEN list_transform(generate_series(1, len(toks) - 1),
                                         i -> array_to_string(toks[i:i+1], ' '))
                     ELSE []::VARCHAR[] END) AS bigram
  FROM docs
),
counts AS (
  SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY 1, 2
),
ranked AS (
  SELECT lang, bigram, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY n DESC, bigram ASC) AS INTEGER) AS rnk
  FROM counts
)
SELECT lang, bigram, n, rnk FROM ranked WHERE rnk <= 3
"""

QUERIES["text_ngram_topk"] = QuerySpec(q_ngram_topk, Q_NGRAM_TOPK_ORACLE)


# -- TF-IDF: top discriminative terms per document -------------------------------------
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the canonical keyword-extraction pass a
    training-data pipeline runs over a corpus. Fully declarative: tokenize →
    explode → (doc,term) counts → term document-frequency → broadcast the scalar
    corpus size in — two shuffles total (both on term-ish keys), no driver-side
    loop. Ranking compares the ROUNDED score (6dp) with a term tiebreak so libm
    ln() ulp differences between engines cannot reorder the cutoff."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(alpha_tokens("text")).alias("term"))
    # r16 (guide §2.4 "two operations keyed the same way share one exchange"):
    # repartition the exploded tokens by TERM before the tf aggregate.
    # HashPartitioning(term) satisfies both the aggregate's
    # ClusteredDistribution({doc_id, term}) and the df-window's
    # ClusteredDistribution({term}), so the tf groupBy and the term window
    # run in ONE post-shuffle stage — 3 exchanges -> 2 (plan diff committed,
    # A/B: 1.02–1.24 s -> 0.83–1.17 s at sf0.1, tools/experiments/r16).
    # Trade-off, documented: the shared exchange moves raw token rows (no
    # map-side tf combine), and a hot term's tokens land on one task — but
    # the term-keyed window stage concentrated that same term's per-doc rows
    # already; the exposure scales by avg tf, not by a new axis. No explicit
    # partition count: AQE sizes/coalesces the exchange from runtime stats.
    tf = (
        toks.repartition("term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # document frequency as a COUNT window over tf, not a groupBy+join-back:
    # the join formulation makes Catalyst re-derive the whole explode+agg
    # subtree for the build side — the corpus would be tokenized twice at any
    # scale. The window reuses the term partitioning established above and
    # computes tf exactly once.
    dfw = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n_docs = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.withColumn("df", dfw)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


Q_TFIDF_TOPK_ORACLE = """
WITH toks AS (
  SELECT doc_id, t AS term
  FROM documents,
       UNNEST(__ALPHA_TOKS__) AS u(t)
),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
  FROM tf JOIN dfc USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, tfidf, rnk FROM ranked WHERE rnk <= 3
""".replace("__ALPHA_TOKS__", ALPHA_TOKS_SQL)

QUERIES["text_tfidf_topk"] = QuerySpec(q_tfidf_topk, Q_TFIDF_TOPK_ORACLE)


# -- unigram surprisal: LM-score quality proxy (r2) -----------------------------------
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.text import unigram_surprisal

    d = load(spark, sf_dir, "documents")
    return unigram_surprisal(d, "doc_id", "text")


Q_UNIGRAM_SURPRISAL_ORACLE = """
WITH toks AS (
  SELECT doc_id, t AS term
  FROM documents,
       UNNEST(__ALPHA_TOKS__) AS u(t)
),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
cnt AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT SUM(cnt) AS total FROM cnt),
scaled AS (
  SELECT term,
         CAST(round(ln(CAST(cnt AS DOUBLE) / total) * 1e6) AS BIGINT) AS s_term
  FROM cnt CROSS JOIN tot
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       ROUND(-SUM(tf * s_term) / 1e6 / SUM(tf), 6) AS avg_surprisal
FROM tf JOIN scaled USING (term) GROUP BY doc_id
""".replace("__ALPHA_TOKS__", ALPHA_TOKS_SQL)

QUERIES["text_unigram_surprisal"] = QuerySpec(q_unigram_surprisal, Q_UNIGRAM_SURPRISAL_ORACLE)


# -- feature-hashing embeddings (r5) ----------------------------------------------------
HASH_EMBED_BUCKETS = 64


def q_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing-trick text→vector bridge (functions/text.py:hash_embed):
    model-free deterministic embeddings whose downstream ANN/dedup stays
    oracle-checkable. Per doc: token count, vector sparsity, L2 norm, and the
    dominant bucket — bucket sums are exact integers, so norm, argmax, and
    ties (→ lower bucket) are all bit-reproducible."""
    from movie_genre_data_pipeline_spark.functions.text import hash_embed

    d = load(spark, sf_dir, "documents")
    vecs = hash_embed(d, "doc_id", "text", n_buckets=HASH_EMBED_BUCKETS)
    l2 = F.sqrt(
        F.aggregate(
            F.col("vec"), F.lit(0.0), lambda acc, v: acc + v * v
        )
    )
    absvec = F.transform(F.col("vec"), lambda v: F.abs(v))
    return vecs.select(
        F.col("doc").alias("doc_id"),
        F.aggregate(
            F.col("vec"),
            F.lit(0.0),
            lambda acc, v: acc + F.abs(v),
        ).cast("bigint").alias("l1_mass"),
        F.size(F.filter(F.col("vec"), lambda v: v != 0.0)).alias("n_nonzero"),
        F.round(l2, 6).alias("l2_norm"),
        (F.array_position(absvec, F.array_max(absvec)).cast("int") - 1).alias(
            "top_bucket"
        ),
        F.element_at(
            F.col("vec"), F.array_position(absvec, F.array_max(absvec)).cast("int")
        ).cast("bigint").alias("top_val"),
    )


Q_HASH_EMBED_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
hashed AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substring(md5(tok), 1, 12)) AS BIGINT)
              % {HASH_EMBED_BUCKETS} AS INTEGER) AS bucket,
         CASE WHEN substring(md5(tok), 13, 1) >= '8' THEN 1.0 ELSE -1.0 END AS s
  FROM tok
),
cells AS (
  SELECT doc_id, bucket, SUM(s) AS v FROM hashed GROUP BY doc_id, bucket
),
grid AS (
  SELECT o.doc_id, i.i AS bucket
  FROM (SELECT DISTINCT doc_id FROM cells) o,
       generate_series(0, {HASH_EMBED_BUCKETS - 1}) i(i)
),
dense AS (
  SELECT g.doc_id, g.bucket, COALESCE(c.v, 0.0) AS v
  FROM grid g LEFT JOIN cells c USING (doc_id, bucket)
),
vecs AS (
  SELECT doc_id, list(v ORDER BY bucket) AS vec FROM dense GROUP BY doc_id
)
SELECT doc_id,
       CAST(list_aggregate(list_transform(vec, v -> abs(v)), 'sum') AS BIGINT)
         AS l1_mass,
       CAST(len(list_filter(vec, v -> v <> 0.0)) AS INTEGER) AS n_nonzero,
       ROUND(sqrt(list_aggregate(list_transform(vec, v -> v * v), 'sum')), 6)
         AS l2_norm,
       CAST(list_position(list_transform(vec, v -> abs(v)),
            list_aggregate(list_transform(vec, v -> abs(v)), 'max')) - 1
         AS INTEGER) AS top_bucket,
       CAST(vec[list_position(list_transform(vec, v -> abs(v)),
            list_aggregate(list_transform(vec, v -> abs(v)), 'max'))]
         AS BIGINT) AS top_val
FROM vecs
"""


QUERIES["text_hash_embeddings"] = QuerySpec(q_hash_embeddings, Q_HASH_EMBED_ORACLE)


# -- Python UDTF: repeated-token runs (r5) ----------------------------------------------
def q_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF surface (functions/text.py:token_runs_udtf): each
    document LATERAL-explodes into its repeated-token runs (run-length
    encoding of the token stream — the repetition signal Gopher's
    duplicate-fraction rules summarize, here at full granularity). Only runs
    of length ≥ 2 survive; the oracle replays the runs with a lag-flag
    running-sum window over position-exploded tokens."""
    from movie_genre_data_pipeline_spark.functions.text import token_runs_udtf

    spark.udtf.register("token_runs", token_runs_udtf())
    d = load(spark, sf_dir, "documents")
    d.createOrReplaceTempView("__docs_for_runs")
    runs = spark.sql(
        """
        SELECT d.doc_id, t.run_idx, t.tok, t.run_len
        FROM __docs_for_runs d, LATERAL token_runs(d.text) t
        """
    )
    return runs.filter(F.col("run_len") >= 2).select(
        "doc_id", "run_idx", "tok", F.col("run_len").cast("bigint").alias("run_len")
    )


Q_TOKEN_RUNS_ORACLE = f"""
WITH toks0 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (
  SELECT doc_id, toks[i] AS tok, i AS pos
  FROM toks0, unnest(generate_series(1, len(toks))) AS s(i)
),
flagged AS (
  SELECT doc_id, tok, pos,
         CASE WHEN LAG(tok) OVER w IS DISTINCT FROM tok THEN 1 ELSE 0 END AS new_run
  FROM tok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
runs AS (
  SELECT doc_id, tok,
         SUM(new_run) OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS run_idx
  FROM flagged
)
SELECT doc_id, CAST(run_idx AS INTEGER) AS run_idx, tok,
       CAST(COUNT(*) AS BIGINT) AS run_len
FROM runs
GROUP BY doc_id, run_idx, tok
HAVING COUNT(*) >= 2
"""


QUERIES["text_token_runs"] = QuerySpec(q_token_runs, Q_TOKEN_RUNS_ORACLE)


# -- source keyness: which terms are over-represented in each source ----------------
#    Corpus profiling for mixture design: per (source, term) 2x2 chi-square
#    contribution against the rest of the corpus, top-K over-represented terms
#    per source. ONE tokenize+explode of the corpus (the only fact-sized
#    stage); everything after runs on the vocabulary-x-sources count table —
#    source totals, term totals, and N re-aggregate from it, and the scored
#    frame is sketch-sized before the per-source top-K window. Counts are
#    integers, expected/chi are doubles derived from them in one fixed
#    operation order, ranking tiebreaks on the term — fully oracle-exact.
KEYNESS_TOP_K = 5
KEYNESS_MIN_COUNT = 3


def q_source_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.text import keyness_top_terms

    d = load(spark, sf_dir, "documents")
    term_counts = source_term_counts(d)
    return keyness_top_terms(
        term_counts, top_k=KEYNESS_TOP_K, min_count=KEYNESS_MIN_COUNT
    )


def source_term_counts(docs: DataFrame) -> DataFrame:
    """The additive corpus reduction keyness scores over — shared by the batch
    query (one pass) and the streaming ledger twin (per-batch deltas folded by
    re-sum in suite/streaming_queries.py)."""
    return (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .select("source", F.lower("tok").alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("bigint").alias("o"))
    )


Q_SOURCE_KEYNESS_ORACLE = f"""
WITH toks AS (
  SELECT d.source, lower(t.tok) AS term
  FROM documents d, UNNEST({_TOKS}) AS t(tok)
),
term_counts AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS o
  FROM toks GROUP BY source, term
),
src_tot AS (
  SELECT source, CAST(SUM(o) AS BIGINT) AS s_tot FROM term_counts GROUP BY source
),
term_tot AS (
  SELECT term, CAST(SUM(o) AS BIGINT) AS t_tot FROM term_counts GROUP BY term
),
n_tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n_tot FROM term_counts),
scored AS (
  SELECT tc.source, tc.term, tc.o,
         (CAST(tc.o AS DOUBLE)
          - CAST(st.s_tot AS DOUBLE) * tt.t_tot / nt.n_tot)
         * (CAST(tc.o AS DOUBLE)
            - CAST(st.s_tot AS DOUBLE) * tt.t_tot / nt.n_tot)
         / (CAST(st.s_tot AS DOUBLE) * tt.t_tot / nt.n_tot) AS chi_raw
  FROM term_counts tc
  JOIN src_tot st USING (source)
  JOIN term_tot tt USING (term)
  CROSS JOIN n_tot nt
  WHERE tc.o >= {KEYNESS_MIN_COUNT}
    AND CAST(tc.o AS DOUBLE)
        > CAST(st.s_tot AS DOUBLE) * tt.t_tot / nt.n_tot
),
ranked AS (
  SELECT source, term, o,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY chi_raw DESC, term ASC) AS rank,
         chi_raw
  FROM scored
)
SELECT source, term, o AS term_count, ROUND(chi_raw, 6) AS chi,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {KEYNESS_TOP_K}
"""


QUERIES["text_source_keyness"] = QuerySpec(q_source_keyness, Q_SOURCE_KEYNESS_ORACLE)


# -- bigram surprisal with stupid backoff (r8) ------------------------------------------
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-scoring one model order up from text_unigram_surprisal: per-doc mean
    -ln p(w2|w1) under the corpus's own bigram counts, with stupid backoff
    (alpha=0.4 to the unigram distribution) for singleton continuations —
    functions/text.py:bigram_surprisal. Bigrams form array-locally (no
    positional shuffle); all aggregates are vocabulary-sized; per-bigram ln p
    is quantized to integer micro-nats so the per-doc fold is exact."""
    from movie_genre_data_pipeline_spark.functions.text import bigram_surprisal

    d = load(spark, sf_dir, "documents")
    return bigram_surprisal(d, "doc_id", "text")


Q_BIGRAM_SURPRISAL_ORACLE = """
WITH tok AS (
  SELECT doc_id, __ALPHA_TOKS__ AS a
  FROM documents
),
pairs AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(2, len(a)),
                i -> struct_pack(w1 := a[i-1], w2 := a[i]))) AS b
  FROM tok
),
flat AS (
  SELECT doc_id, struct_extract(b, 'w1') AS w1, struct_extract(b, 'w2') AS w2
  FROM pairs
),
bf AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS bf
  FROM flat GROUP BY 1, 2, 3
),
bgc AS (SELECT w1, w2, SUM(bf) AS c_b FROM bf GROUP BY 1, 2),
leftc AS (SELECT w1, SUM(c_b) AS c_left FROM bgc GROUP BY 1),
uni AS (
  SELECT t AS w2, CAST(COUNT(*) AS BIGINT) AS cu
  FROM tok, UNNEST(a) AS u(t) GROUP BY 1
),
tot AS (SELECT SUM(len(a)) AS total FROM tok),
s AS (
  SELECT g.w1, g.w2, g.c_b,
         CASE WHEN g.c_b >= 2
              THEN CAST(round(ln(CAST(g.c_b AS DOUBLE) / l.c_left) * 1e6)
                        AS BIGINT)
              ELSE CAST(round(ln(CAST(0.4 AS DOUBLE)
                                 * (CAST(u.cu AS DOUBLE) / t.total)) * 1e6)
                        AS BIGINT)
         END AS s_bg
  FROM bgc g JOIN leftc l USING (w1) JOIN uni u USING (w2) CROSS JOIN tot t
)
SELECT bf.doc_id,
       CAST(SUM(bf.bf) AS BIGINT) AS n_bigrams,
       ROUND(-SUM(bf.bf * s.s_bg) / 1e6 / SUM(bf.bf), 6) AS avg_surprisal,
       ROUND(SUM(CASE WHEN s.c_b = 1 THEN bf.bf ELSE 0 END) / SUM(bf.bf), 6)
         AS pct_backoff
FROM bf JOIN s ON bf.w1 = s.w1 AND bf.w2 = s.w2
GROUP BY bf.doc_id
""".replace("__ALPHA_TOKS__", ALPHA_TOKS_SQL)

QUERIES["text_bigram_surprisal"] = QuerySpec(
    q_bigram_surprisal, Q_BIGRAM_SURPRISAL_ORACLE
)

# -- BPE merge induction (r8) ------------------------------------------------------------
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 8 byte-pair-encoding merges from the corpus itself
    (Sennrich et al., ACL'16 — the subword-vocabulary induction behind
    GPT/LLaMA tokenizers), fully distributed: functions/text.py:
    bpe_learn_merges. After ONE corpus-sized tokenize+count, every iteration
    runs on the word-TYPE table (vocabulary-sized, bounded by the language,
    not the corpus); the winning pair stays in-plan as a broadcast 1-row
    frame and merge application is a scan-local greedy array fold — no
    positional shuffle, no driver-side vocabulary, so 100 TB of text changes
    only the first count. The oracle replays the identical greedy trajectory
    with a run-parity window (gaps-and-islands on consecutive match
    positions, keep odd ranks) — a provably-equivalent formulation of
    left-to-right non-overlapping replacement."""
    from movie_genre_data_pipeline_spark.functions.text import bpe_learn_merges

    d = load(spark, sf_dir, "documents")
    return bpe_learn_merges(d, "doc_id", "text", n_merges=8)


def _bpe_oracle(n_merges: int) -> str:
    """Chained-CTE DuckDB replay of `n_merges` BPE iterations ending in the
    merge-table select."""
    sel = "\nUNION ALL\n".join(
        f"SELECT {t} AS merge_rank, x AS left_sym, y AS right_sym, c AS pair_count"
        f" FROM b{t}"
        for t in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(_bpe_ctes(n_merges, apply_all=False)) + "\n" + sel


def _bpe_ctes(n_merges: int, apply_all: bool) -> list[str]:
    """Generate the chained-CTE DuckDB replay of `n_merges` BPE iterations;
    with `apply_all` the final merge is applied too, so the last CTE
    s{n_merges + 1} is the fully-merged word-type table.

    Every CTE is MATERIALIZED: without it DuckDB re-inlines the unrolled
    iteration chain exponentially (same trap as the two-level IVF oracle).
    Greedy left-to-right non-overlapping application == run-parity: raw
    match positions are consecutive only when left_sym == right_sym (a
    symbol run), and greedy takes the 1st, 3rd, 5th ... match of each run.
    """
    ctes = [
        """w0 AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(__ALPHA_TOKS__) AS w
        FROM documents)
  GROUP BY w
)""".replace("__ALPHA_TOKS__", ALPHA_TOKS_SQL),
        """s1 AS MATERIALIZED (
  SELECT w, freq, list_transform(generate_series(1, length(w)), i -> w[i]) AS s
  FROM w0
)""",
    ]
    for t in range(1, n_merges + 1):
        ctes.append(
            f"""p{t} AS MATERIALIZED (
  SELECT s[i] AS x, s[i + 1] AS y, CAST(SUM(freq) AS BIGINT) AS c
  FROM (SELECT freq, s, unnest(generate_series(1, len(s) - 1)) AS i FROM s{t})
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""b{t} AS MATERIALIZED (
  SELECT x, y, c FROM p{t} ORDER BY c DESC, x ASC, y ASC LIMIT 1
)"""
        )
        if t < n_merges or apply_all:
            ctes.append(
                f"""m{t} AS MATERIALIZED (
  SELECT q.w, q.freq, q.i, q.s[q.i] AS sym,
         CASE WHEN q.i < len(q.s) AND q.s[q.i] = b.x AND q.s[q.i + 1] = b.y
              THEN 1 ELSE 0 END AS raw
  FROM (SELECT w, freq, s, unnest(generate_series(1, len(s))) AS i FROM s{t}) q
  CROSS JOIN b{t} b
)"""
            )
            ctes.append(
                f"""r{t} AS MATERIALIZED (
  SELECT w, freq, i, sym, raw,
         CASE WHEN raw = 1
              THEN i - ROW_NUMBER() OVER (PARTITION BY w, raw ORDER BY i)
              ELSE -1 END AS isl
  FROM m{t}
)"""
            )
            ctes.append(
                f"""k{t} AS MATERIALIZED (
  SELECT w, freq, i, sym,
         CASE WHEN raw = 1
                   AND (ROW_NUMBER() OVER (PARTITION BY w, isl ORDER BY i) % 2) = 1
              THEN 1 ELSE 0 END AS keep
  FROM r{t}
)"""
            )
            ctes.append(
                f"""s{t + 1} AS MATERIALIZED (
  SELECT w, MIN(freq) AS freq,
         list(CASE WHEN keep = 1 THEN bx || by ELSE sym END ORDER BY i) AS s
  FROM (SELECT k.*, COALESCE(LAG(keep) OVER (PARTITION BY k.w ORDER BY i), 0) AS pk,
               b.x AS bx, b.y AS by
        FROM k{t} k CROSS JOIN b{t} b)
  WHERE pk = 0
  GROUP BY w
)"""
            )
    return ctes


Q_BPE_MERGES_ORACLE = _bpe_oracle(8)

QUERIES["text_bpe_merges"] = QuerySpec(q_bpe_merges, Q_BPE_MERGES_ORACLE)


def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the 8 learned BPE merges to the whole corpus and publish the
    tokenizer-quality report per source: word count, encoded symbol count,
    character count, fertility (symbols per word — the metric tokenizer
    teams track), and chars per symbol (compression). Application is an
    equi-join of exploded document words against the fully-merged word-TYPE
    table (functions/text.py:bpe_word_symbols) — the join shuffles the
    vocabulary, never re-encodes per occurrence, so 100 TB of text costs one
    explode + one vocab-keyed join after training."""
    from movie_genre_data_pipeline_spark.functions.text import bpe_word_symbols

    d = load(spark, sf_dir, "documents")
    enc = bpe_word_symbols(d, "text", n_merges=8).select(
        "w",
        F.size("s").cast("bigint").alias("n_sym"),
        F.length("w").cast("bigint").alias("n_chr"),
    )
    words = d.select("source", F.explode(alpha_tokens("text")).alias("w"))
    agg = (
        words.join(enc, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sym").cast("bigint").alias("n_symbols"),
            F.sum("n_chr").cast("bigint").alias("n_chars"),
        )
    )
    return agg.select(
        "source",
        "n_words",
        "n_symbols",
        "n_chars",
        F.round(F.col("n_symbols").cast("double") / F.col("n_words"), 6).alias(
            "fertility"
        ),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_symbols").cast("double"), 6
        ).alias("chars_per_symbol"),
    )


def _bpe_encode_oracle() -> str:
    n = 8
    ctes = _bpe_ctes(n, apply_all=True)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
enc AS (
  SELECT w, CAST(len(s) AS BIGINT) AS n_sym,
         CAST(length(w) AS BIGINT) AS n_chr
  FROM s{n + 1}
),
dw AS (
  SELECT source, unnest({ALPHA_TOKS_SQL}) AS w
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_sym) AS BIGINT) AS n_symbols,
       CAST(SUM(n_chr) AS BIGINT) AS n_chars,
       ROUND(CAST(SUM(n_sym) AS DOUBLE) / COUNT(*), 6) AS fertility,
       ROUND(CAST(SUM(n_chr) AS DOUBLE) / CAST(SUM(n_sym) AS DOUBLE), 6)
         AS chars_per_symbol
FROM dw JOIN enc USING (w)
GROUP BY source
"""
    )


QUERIES["text_bpe_encode_stats"] = QuerySpec(q_bpe_encode_stats, _bpe_encode_oracle())


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: the confusion matrix of the heuristic
    lang_id() predictions against the corpus's labeled `lang` column — the
    classifier-evaluation readout every quality gate needs before trusting
    a filter built on predicted language. One scan + one |langs|²-bounded
    aggregate; the zh rows land in 'und' by construction (no zh lexicon),
    which the matrix makes visible instead of hiding."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.col("lang").alias("lang_true"), lang_id("text").alias("lang_pred"))
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


Q_LANG_CONFUSION_ORACLE = f"""
WITH toks AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
scores AS (
  SELECT doc_id, lang,
         {", ".join(f"{_lex_sql(lang)} AS s_{lang}" for lang in LANG_LEXICONS)}
  FROM toks
),
pick AS (
  SELECT lang AS lang_true, CASE {_LANG_CASE} ELSE 'und' END AS lang_pred
  FROM (SELECT *, greatest({", ".join("s_" + lang for lang in LANG_LEXICONS)}) AS g
        FROM scores)
)
SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
FROM pick GROUP BY lang_true, lang_pred
"""

QUERIES["text_lang_confusion"] = QuerySpec(q_lang_confusion, Q_LANG_CONFUSION_ORACLE)


# -- BM25 retrieval scoring (r9) -----------------------------------------------------------
# Okapi BM25 (Robertson & Zaragoza 2009) with the Lucene idf form — the
# retrieval scorer a RAG/data-curation pipeline runs to rank documents against
# a query. k1 = 1.2 and b = 0.75 enter as EXACT RATIONALS: with T = total
# corpus tokens, N = docs, dl = doc length, the per-term score
#   idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))      (avgdl = T/N)
# rewrites to  idf * 22*tf*T / (10*tf*T + 3*T + 9*dl*N)  — integer numerator
# and denominator, so the only floats are one ln of an exact-integer ratio and
# one double division of exact integers, both quantized to integer micros per
# (doc, term) before the per-doc SUM runs in exact BIGINT arithmetic (the
# unigram/bigram-surprisal micro-nat discipline). Scale shape: one corpus
# tokenize+explode filtered to the query's terms, vocabulary-sized df/stats
# aggregates broadcast back — every shuffle is (doc,term)-keyed, no joins on
# corpus volume. BIGINT bound: 22*tf*T stays < 2^63 until tf*T ~ 4e17
# (a 100 TB corpus is ~1e13 tokens; per-doc tf is bounded by doc length).
BM25_TERMS = ("spark", "merge", "vector", "stream")
BM25_TOPK = 10

# shared verbatim by the Spark plan (F.expr) and the DuckDB oracle — the
# portable-float discipline: exact-integer numerators, CAST-to-DOUBLE before
# every division (Spark parses bare decimal literals as DECIMAL), positive
# half-up ROUND, identical operand order
_BM25_SCORE = (
    "CAST(ROUND(ln(CAST(2*n_docs + 2 AS DOUBLE) / CAST(2*df + 1 AS DOUBLE))"
    " * (CAST(22*tf*total AS DOUBLE)"
    " / CAST(10*tf*total + 3*total + 9*dl*n_docs AS DOUBLE))"
    " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
)


def bm25_from_counts(tf: DataFrame, dl: DataFrame) -> DataFrame:
    """The count-table form of the BM25 ranker (shared by the batch query and
    its streaming ledger twin): `tf` is (doc_id, term, tf) postings for the
    query's terms and `dl` is (doc_id, dl) document lengths — both additive
    FACTS, so per-micro-batch partials fold by SUM. df, corpus stats, and
    the exact-micro scoring all derive here.

    r16 note: a dl-carry variant (attach dl before the explode so the
    postings⨝lengths join disappears, 3 corpus tokenizes -> 2) was built,
    proven bit-identical and A/B-timed — it measured a consistent small LOSS
    at sf0.1 (tools/experiments/r16/exp_text.py: cur 0.91-1.00 s vs var
    1.00-1.03 s — the wider (doc_id, dl, term) grouping key costs more than
    the small join it removes). REJECTED on the numbers; the join form
    stands. Revisit only with a cluster-sized measurement."""
    from pyspark.sql import Window

    # document frequency as a COUNT window over tf (one row per (doc, term),
    # so the per-term row count IS df), not a groupBy + join-back: the join
    # formulation makes Catalyst re-derive the whole tokenize+explode subtree
    # for the build side — the corpus would be tokenized twice at any scale
    # (the same fix text_tfidf_topk documents).
    dfw = F.count(F.lit(1)).over(Window.partitionBy("term"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total"),
    )
    scored = (
        tf.withColumn("df", dfw.cast("bigint"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .selectExpr("doc_id", "term", f"{_BM25_SCORE} AS s_micro")
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("s_micro").cast("bigint").alias("score_micro"),
    )
    # top-k via orderBy+limit -> TakeOrderedAndProject: each partition keeps
    # its local top k and the driver merges k rows — NOT a row_number over an
    # unpartitioned window, which sorts the corpus-cardinality scored set in
    # ONE task (the r9 `WindowExec: No Partition Defined` flood; a 100x
    # scale-up hits that single-task sort first). (score_micro, doc_id) is a
    # total order, so the k rows — and the ranks assigned over them — are
    # bit-identical to the global-window form. The rank window runs on <= k
    # rows; its partition key is nullif(doc_id,-1)*0 — constant in VALUE (one
    # group, the point of a top-k readout; doc ids are never -1) but
    # non-foldable, so Catalyst can't erase the partition spec back into an
    # unpartitioned WindowExec. nullif (not bare doc_id*0): a*0 folds when a
    # is NON-NULLABLE, so the hardened form survives any source schema.
    top = agg.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc()).limit(
        BM25_TOPK
    )
    w = Window.partitionBy(
        F.nullif(F.col("doc_id"), F.lit(-1)) * F.lit(0)
    ).orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
    return top.select(
        F.row_number().over(w).cast("int").alias("rnk"),
        "doc_id",
        "n_terms",
        "score_micro",
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    docs = d.select("doc_id", alpha_tokens("text").alias("__a"))
    dl = docs.select("doc_id", F.size("__a").cast("bigint").alias("dl"))
    tf = (
        docs.select("doc_id", F.explode("__a").alias("term"))
        .filter(F.col("term").isin(list(BM25_TERMS)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    return bm25_from_counts(tf, dl)


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

# the postings/stats CTE spine shared by the BM25 oracle and the RRF-fusion
# oracle (r10): tokenize, lengths, query-term postings, df, corpus stats, the
# exact-micro BM25 scores, and the per-doc aggregate
_BM25_BASE_CTES = f"""toks AS (
  SELECT doc_id, {ALPHA_TOKS_SQL} AS a
  FROM documents
),
dl AS (SELECT doc_id, CAST(len(a) AS BIGINT) AS dl FROM toks),
tf AS (
  SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks, UNNEST(a) AS u(t)
  WHERE t IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2
),
dfc AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tf GROUP BY 1),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS total FROM dl),
scored AS (
  SELECT tf.doc_id, {_BM25_SCORE} AS s_micro
  FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(s_micro) AS BIGINT) AS score_micro
  FROM scored GROUP BY doc_id
)"""

Q_BM25_TOPK_ORACLE = f"""
WITH {_BM25_BASE_CTES}
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id ASC) AS INTEGER)
         AS rnk,
       doc_id, n_terms, score_micro
FROM agg
QUALIFY rnk <= {BM25_TOPK}
"""

QUERIES["text_bm25_topk"] = QuerySpec(q_bm25_topk, Q_BM25_TOPK_ORACLE)


# -- vocabulary growth (Heaps' law) report (r9) ----------------------------------------------
# The corpus-statistics curve a tokenizer/vocab team plots before sizing a
# vocabulary: cumulative distinct types vs cumulative tokens across the
# ingestion order. Ingestion is bucketed SCAN-LOCALLY (bucket = ⌊id·8/(max+1)⌋
# from a broadcast max — no global sort, unlike NTILE), each type's FIRST
# bucket is one vocabulary-sized aggregate, and the cumulative rows are an
# 8-row window. Every published number is an exact integer (plus one
# micro-quantized type/token ratio), so the report replays bit-for-bit.
HEAPS_BUCKETS = 8


def q_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    mx = d.agg((F.max("doc_id") + F.lit(1)).cast("bigint").alias("n_ids"))
    toks = (
        d.crossJoin(F.broadcast(mx))
        .select(
            # FLOOR, spelled identically on both engines: DuckDB's
            # CAST(double AS BIGINT) ROUNDS while Spark's truncates — the
            # max-id row landed in a phantom 9th bucket before this
            F.expr(
                f"CAST(FLOOR(CAST(doc_id * {HEAPS_BUCKETS} AS DOUBLE)"
                " / CAST(n_ids AS DOUBLE)) AS BIGINT)"
            ).alias("bucket"),
            F.explode(alpha_tokens("text")).alias("term"),
        )
    )
    per_bucket = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    first_seen = toks.groupBy("term").agg(F.min("bucket").alias("bucket"))
    new_types = first_seen.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_types")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(new_types, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
        .withColumn("cum_types", F.sum("new_types").over(w).cast("bigint"))
        .selectExpr(
            "bucket",
            "n_tokens",
            "new_types",
            "cum_tokens",
            "cum_types",
            "CAST(ROUND(CAST(cum_types AS DOUBLE) / CAST(cum_tokens AS DOUBLE)"
            " * CAST(1000000 AS DOUBLE)) AS BIGINT) AS ttr_micro",
        )
    )


Q_HEAPS_VOCAB_GROWTH_ORACLE = f"""
WITH mx AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS n_ids FROM documents),
toks AS (
  SELECT CAST(FLOOR(CAST(doc_id * {HEAPS_BUCKETS} AS DOUBLE)
              / CAST(n_ids AS DOUBLE)) AS BIGINT) AS bucket, t AS term
  FROM documents CROSS JOIN mx,
       UNNEST({ALPHA_TOKS_SQL}) AS u(t)
),
per_bucket AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks GROUP BY bucket
),
first_seen AS (SELECT term, MIN(bucket) AS bucket FROM toks GROUP BY term),
new_types AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types
  FROM first_seen GROUP BY bucket
),
joined AS (
  SELECT p.bucket, p.n_tokens,
         CAST(COALESCE(n.new_types, 0) AS BIGINT) AS new_types
  FROM per_bucket p LEFT JOIN new_types n USING (bucket)
),
cum AS (
  SELECT bucket, n_tokens, new_types,
         CAST(SUM(n_tokens) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens,
         CAST(SUM(new_types) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_types
  FROM joined
)
SELECT bucket, n_tokens, new_types, cum_tokens, cum_types,
       CAST(ROUND(CAST(cum_types AS DOUBLE) / CAST(cum_tokens AS DOUBLE)
            * CAST(1000000 AS DOUBLE)) AS BIGINT) AS ttr_micro
FROM cum
"""

QUERIES["text_heaps_vocab_growth"] = QuerySpec(
    q_heaps_vocab_growth, Q_HEAPS_VOCAB_GROWTH_ORACLE
)


# -- RRF hybrid retrieval fusion (r10) --------------------------------------------------------
# The hybrid-retrieval readout a RAG stack runs: fuse two rankers' top-k lists
# with Reciprocal Rank Fusion (Cormack/Clarke/Buettcher, SIGIR'09):
# rrf(d) = Σ_r 1/(RRF_K + rank_r(d)). Ranker 1 is the BM25 top-k; ranker 2 is
# a Jelinek-Mercer query-likelihood model (λ=1/2) over the SAME postings:
# score(d) = Σ_{t in Q} ln(tf·T + ctf·dl) − ln(2·dl·T) — integer numerator
# and denominator, so each term component is one ln of an exact-integer ratio
# quantized to micro-nats (the BM25/surprisal discipline; candidate docs are
# those matching ≥1 query term, absent terms contribute the background-only
# component). Both lists are TakeOrderedAndProject top-k; the fusion is a
# full-outer join of two k-row frames — nothing corpus-sized past the
# postings aggregates. RRF contributions are round(1e6/(60+rank)) exact
# integers (no denominator in 61..70 can produce a .5, so cross-engine
# rounding is safe).
RRF_K = 60

# FLOOR(x + 0.5), not ROUND: QL scores are always <= 0 (ln of a ratio < 1),
# and Spark/DuckDB ROUND disagree on negative halves — same spell as
# _ZIPF_SLOPE (ADVICE r10; exact .5 from a double ln is practically
# unreachable, but the shared-string discipline wants one rounding rule).
_QL_SCORE = (
    "CAST(FLOOR(ln(CAST(tf*total + ctf*dl AS DOUBLE)"
    " / CAST(2*dl*total AS DOUBLE))"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def _rrf_contrib(rank_col: str) -> str:
    return (
        f"COALESCE(CAST(ROUND(CAST(1000000 AS DOUBLE)"
        f" / CAST({RRF_K} + {rank_col} AS DOUBLE)) AS BIGINT), 0)"
    )


def rrf_fusion_from_counts(tf: DataFrame, dl: DataFrame) -> DataFrame:
    """The count-table form of the RRF fusion (same contract as
    bm25_from_counts, same additive (doc,term,tf)/(doc,dl) FACTS — shared by
    the batch query and its streaming ledger twin). Derives both rankers and
    the fused ordering entirely from the folded counts."""
    from pyspark.sql import Window

    # tf feeds four branches (BM25, ctf, candidates, the QL left join) and dl
    # three — one barrier each or Catalyst re-derives the upstream
    # tokenize+explode (or ledger fold) per branch, the funnel lesson
    tf = materialize(tf)
    dl = materialize(dl)
    bm = bm25_from_counts(tf, dl).select(
        "doc_id", F.col("rnk").alias("bm_rnk")
    )
    stats = dl.agg(F.sum("dl").cast("bigint").alias("total"))
    ctf = tf.groupBy("term").agg(F.sum("tf").cast("bigint").alias("ctf"))
    cand = tf.select("doc_id").distinct()
    pairs = (
        cand.crossJoin(F.broadcast(ctf))
        .join(tf, ["doc_id", "term"], "left")
        .withColumn("tf", F.coalesce("tf", F.lit(0)).cast("bigint"))
    )
    ql_agg = (
        pairs.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .selectExpr("doc_id", f"{_QL_SCORE} AS q_micro")
        .groupBy("doc_id")
        .agg(F.sum("q_micro").cast("bigint").alias("ql_micro"))
    )
    wq = Window.partitionBy(
        F.nullif(F.col("doc_id"), F.lit(-1)) * F.lit(0)
    ).orderBy(F.col("ql_micro").desc(), F.col("doc_id").asc())
    ql = (
        ql_agg.orderBy(F.col("ql_micro").desc(), F.col("doc_id").asc())
        .limit(BM25_TOPK)
        .select("doc_id", F.row_number().over(wq).cast("int").alias("ql_rnk"))
    )
    fused = bm.join(ql, "doc_id", "full_outer").selectExpr(
        "doc_id",
        "bm_rnk",
        "ql_rnk",
        f"{_rrf_contrib('bm_rnk')} + {_rrf_contrib('ql_rnk')} AS rrf_micro",
    )
    wf = Window.partitionBy(
        F.nullif(F.col("doc_id"), F.lit(-1)) * F.lit(0)
    ).orderBy(F.col("rrf_micro").desc(), F.col("doc_id").asc())
    return fused.select(
        F.row_number().over(wf).cast("int").alias("fused_rnk"),
        "doc_id",
        "bm_rnk",
        "ql_rnk",
        "rrf_micro",
    )


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    docs = d.select("doc_id", alpha_tokens("text").alias("__a"))
    dl = docs.select("doc_id", F.size("__a").cast("bigint").alias("dl"))
    tf = (
        docs.select("doc_id", F.explode("__a").alias("term"))
        .filter(F.col("term").isin(list(BM25_TERMS)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    return rrf_fusion_from_counts(tf, dl)


Q_RRF_FUSION_ORACLE = f"""
WITH {_BM25_BASE_CTES},
bm AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id ASC)
           AS INTEGER) AS bm_rnk
  FROM agg
  QUALIFY bm_rnk <= {BM25_TOPK}
),
ctf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
cand AS (SELECT DISTINCT doc_id FROM tf),
pairs AS (
  SELECT c.doc_id, f.term, f.ctf, CAST(COALESCE(t.tf, 0) AS BIGINT) AS tf
  FROM cand c
  CROSS JOIN ctf f
  LEFT JOIN tf t ON t.doc_id = c.doc_id AND t.term = f.term
),
qls AS (
  SELECT p.doc_id, {_QL_SCORE} AS q_micro
  FROM pairs p JOIN dl USING (doc_id) CROSS JOIN stats
),
qlagg AS (
  SELECT doc_id, CAST(SUM(q_micro) AS BIGINT) AS ql_micro
  FROM qls GROUP BY doc_id
),
ql AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY ql_micro DESC, doc_id ASC)
           AS INTEGER) AS ql_rnk
  FROM qlagg
  QUALIFY ql_rnk <= {BM25_TOPK}
),
fused AS (
  SELECT COALESCE(bm.doc_id, ql.doc_id) AS doc_id, bm.bm_rnk, ql.ql_rnk,
         {_rrf_contrib('bm.bm_rnk')} + {_rrf_contrib('ql.ql_rnk')} AS rrf_micro
  FROM bm FULL OUTER JOIN ql ON bm.doc_id = ql.doc_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id ASC) AS INTEGER)
         AS fused_rnk,
       doc_id, bm_rnk, ql_rnk, rrf_micro
FROM fused
"""

QUERIES["text_rrf_fusion"] = QuerySpec(q_rrf_fusion, Q_RRF_FUSION_ORACLE)


# -- Zipf rank-frequency fit (r10) ------------------------------------------------------------
# The companion corpus-statistics curve to text_heaps_vocab_growth: fit
# ln(freq) = intercept + slope*ln(rank) over the top-K vocabulary by
# frequency (Zipf's law predicts slope ~ -1). Scale shape: one corpus
# tokenize into a vocabulary-sized count table, top-K by
# orderBy+limit -> TakeOrderedAndProject (the top-k-readout discipline, never
# a global rank window), then the OLS closed form over K rows. Exactness:
# ln(rank) and ln(freq) quantize to integer micro-nats, the five OLS sums
# run in exact BIGINT arithmetic, and the final divisions are shared
# expression strings. Rounding uses FLOOR(x + 0.5): the slope is NEGATIVE
# and Spark's ROUND (half-up) disagrees with DuckDB's (half-away) below
# zero — floor(x+0.5) is the one half-up spell both engines share.
ZIPF_TOPN = 20

# the (micro x, micro y) units cancel in the slope ratio, so the slope is
# NATURAL units and needs the x1e6 before rounding to slope_micro; sy/n and
# slope*(sx/n) are both already micro-nats, so the intercept needs no rescale
_ZIPF_SLOPE = (
    "CAST(FLOOR((CAST(n*sxy - sx*sy AS DOUBLE)"
    " / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT) AS slope_micro"
)
_ZIPF_INTERCEPT = (
    "CAST(FLOOR((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"
    " - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))"
    " * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT) AS intercept_micro"
)


def zipf_fit_from_counts(counts: DataFrame) -> DataFrame:
    """The count-table form of the Zipf fit: `counts` is (term, cnt) —
    additive FACTS, however accumulated (one batch scan or a streaming
    append ledger folded by SUM). Top-K selection, micro-nat quantization,
    and the OLS fold all derive here; shared by the batch query and its
    streaming twin."""
    from pyspark.sql import Window

    top = counts.orderBy(F.col("cnt").desc(), F.col("term").asc()).limit(
        ZIPF_TOPN
    )
    w = Window.partitionBy(
        F.nullif(F.col("cnt"), F.lit(-1)) * F.lit(0)
    ).orderBy(F.col("cnt").desc(), F.col("term").asc())
    pts = top.select(
        F.row_number().over(w).cast("bigint").alias("rnk"),
        F.col("cnt").cast("bigint").alias("cnt"),
    ).selectExpr(
        "CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * CAST(1000000 AS DOUBLE))"
        " AS BIGINT) AS x",
        "CAST(ROUND(ln(CAST(cnt AS DOUBLE)) * CAST(1000000 AS DOUBLE))"
        " AS BIGINT) AS y",
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.expr("CAST(SUM(x*y) AS BIGINT)").alias("sxy"),
        F.expr("CAST(SUM(x*x) AS BIGINT)").alias("sxx"),
    )
    return sums.selectExpr("n AS n_ranks", _ZIPF_SLOPE, _ZIPF_INTERCEPT)


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(alpha_tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return zipf_fit_from_counts(counts)


Q_ZIPF_FIT_ORACLE = f"""
WITH counts AS (
  SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents, UNNEST({{ALPHA}}) AS u(t)
  GROUP BY 1
),
top AS (
  SELECT term, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS BIGINT)
           AS rnk
  FROM counts
  QUALIFY rnk <= {ZIPF_TOPN}
),
pts AS (
  SELECT CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * CAST(1000000 AS DOUBLE))
           AS BIGINT) AS x,
         CAST(ROUND(ln(CAST(cnt AS DOUBLE)) * CAST(1000000 AS DOUBLE))
           AS BIGINT) AS y
  FROM top
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x*y) AS BIGINT) AS sxy,
         CAST(SUM(x*x) AS BIGINT) AS sxx
  FROM pts
)
SELECT n AS n_ranks, {_ZIPF_SLOPE}, {_ZIPF_INTERCEPT}
FROM sums
""".replace("{ALPHA}", ALPHA_TOKS_SQL)

QUERIES["text_zipf_fit"] = QuerySpec(q_zipf_fit, Q_ZIPF_FIT_ORACLE)


# -- corpus diversity: unigram entropy + Simpson index (r11) ----------------------------------
# The diversity report a training-data curator reads next to the Zipf fit:
# Shannon entropy of the token distribution (in micro-nats) and the Simpson
# collision index (probability two sampled tokens are the same type).
# Exactness discipline: H = ln(T) − (Σ c·ln c)/T would be an accumulation-
# order-sensitive float sum, so each term's ln(c) is quantized to micro-nats
# BIGINT FIRST and multiplied by the integer count — the per-term
# contribution is an exact integer, the corpus sum is order-free, and the
# single final division uses the FLOOR(x+0.5) half-up spell. Simpson is the
# exact rational Σ c(c−1) / T(T−1) in DECIMAL(38,0) (token-pair counts are
# ~T² — past BIGINT at 100 TB), micro-quantized by one division. Both
# formulas are law-tested against numpy (shared-string micro-unit bugs ship
# oracle-green — the r10 Zipf lesson).


def entropy_from_counts(counts: DataFrame) -> DataFrame:
    """The count-table form of the diversity report: `counts` is (term, cnt)
    — the SAME additive facts the Zipf fit consumes, however accumulated
    (one batch scan or a streaming ledger folded by SUM). Shared by the
    batch query and its streaming twin."""
    sums = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        # DECIMAL(38,0) accumulate: a top token at c~1.2e12 makes one term
        # ln(c)*1e6*c ~ 3.3e19 > 2^63 (the r11 review; Simpson below already
        # used the decimal spell)
        F.expr(
            "SUM(CAST(CAST(ROUND(ln(CAST(cnt AS DOUBLE))"
            " * CAST(1000000 AS DOUBLE)) AS BIGINT) AS DECIMAL(38,0)) * cnt)"
        ).alias("sclnc"),
        F.expr(
            "SUM(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt - 1 AS DECIMAL(38,0)))"
        ).alias("spairs"),
    )
    # n_tokens <= 1 guard (ADVICE r11): T(T-1) = 0 makes the Simpson ratio
    # 0/0 — Spark (non-ANSI) yields NULL while DuckDB errors casting nan to
    # BIGINT, so the shared string diverges on a degenerate corpus. A
    # single-token corpus has zero collision probability: pin 0 both sides.
    return sums.selectExpr(
        "n_types",
        "n_tokens",
        "CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)) * CAST(1000000 AS DOUBLE))"
        " AS BIGINT)"
        " - CAST(FLOOR(CAST(sclnc AS DOUBLE) / CAST(n_tokens AS DOUBLE)"
        " + CAST(0.5 AS DOUBLE)) AS BIGINT) AS entropy_micro",
        "CASE WHEN n_tokens > 1 THEN"
        " CAST(FLOOR(CAST(spairs AS DOUBLE) * CAST(1000000 AS DOUBLE)"
        " / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))"
        " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END AS simpson_micro",
    )


def q_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(alpha_tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return entropy_from_counts(counts)


Q_UNIGRAM_ENTROPY_ORACLE = """
WITH counts AS (
  SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents, UNNEST({ALPHA}) AS u(t)
  GROUP BY 1
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         SUM(CAST(CAST(ROUND(ln(CAST(cnt AS DOUBLE))
             * CAST(1000000 AS DOUBLE)) AS BIGINT) AS DECIMAL(38,0)) * cnt)
           AS sclnc,
         SUM(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt - 1 AS DECIMAL(38,0)))
           AS spairs
  FROM counts
)
SELECT n_types,
       n_tokens,
       CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)) * CAST(1000000 AS DOUBLE))
         AS BIGINT)
       - CAST(FLOOR(CAST(sclnc AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         + CAST(0.5 AS DOUBLE)) AS BIGINT) AS entropy_micro,
       CASE WHEN n_tokens > 1 THEN
         CAST(FLOOR(CAST(spairs AS DOUBLE) * CAST(1000000 AS DOUBLE)
           / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))
           + CAST(0.5 AS DOUBLE)) AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS simpson_micro
FROM sums
""".replace("{ALPHA}", ALPHA_TOKS_SQL)

QUERIES["text_unigram_entropy"] = QuerySpec(
    q_unigram_entropy, Q_UNIGRAM_ENTROPY_ORACLE
)


# -- Jensen-Shannon divergence between source unigram distributions (r11) ---------------------
# The corpus-MIXING diagnostic a curator reads before setting mixture rates:
# how far apart each pair of sources' token distributions sit, in
# [0, ln 2] nats. JS(P,Q) = ½Σ p·ln(p/m) + ½Σ q·ln(q/m) with m=(p+q)/2 is
# exactly quantizable because every inner ratio clears its denominators:
# with integer counts a,b and totals Ta,Tb, p/m = 2·a·Tb / (a·Tb + b·Ta) —
# an integer ratio (absent terms: b=0 ⇒ the ratio is exactly 2, ln 2).
# Per-term logs quantize to micro-nats with FLOOR(x+0.5) (arguments < 1 are
# live), weighted by the integer count, accumulated in DECIMAL(38,0) (the
# r11 overflow lesson), and each pair closes with two exact divisions.
# Every factor casts to DOUBLE BEFORE multiplying (a·Tb alone passes 2^63 at
# trillion-token sources). Scale shape: one (source, term) aggregate, a
# broadcast pair/total frame, one full-outer term join per pair — row volume
# Σ_pairs |vocab_a ∪ vocab_b|, never corpus-sized.
_JS_LN = (
    "CAST(FLOOR(ln(CAST(2 AS DOUBLE) * CAST({c} AS DOUBLE) * CAST({to} AS DOUBLE)"
    " / (CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)"
    " + CAST(b AS DOUBLE) * CAST(ta AS DOUBLE)))"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def js_divergence_from_counts(counts: DataFrame) -> DataFrame:
    """The count-table form of the mixing diagnostic: `counts` is
    (source, term, c) — additive facts, however accumulated (one batch scan
    or a streaming ledger folded by SUM). Pair construction, the
    denominator-clearing per-term logs, and both weighted sums all derive
    here; shared by the batch query and its streaming twin."""
    # counts feeds both pair sides + totals — one barrier or the upstream
    # (tokenize+explode, or the ledger fold) re-runs per consumer
    counts = materialize(counts)
    totals = counts.groupBy("source").agg(F.sum("c").cast("bigint").alias("t"))
    pairs = (
        totals.select(F.col("source").alias("sa"), F.col("t").alias("ta"))
        .crossJoin(
            totals.select(F.col("source").alias("sb"), F.col("t").alias("tb"))
        )
        .filter(F.col("sa") < F.col("sb"))
    )
    A = counts.select(
        F.col("source").alias("sa"), "term", F.col("c").alias("a")
    )
    B = counts.select(
        F.col("source").alias("sb"), "term", F.col("c").alias("b")
    )
    pairs = F.broadcast(pairs)  # S²-row frame; pin the strategy (AQE-free
    # sessions would otherwise estimate the agg-over-crossJoin huge and
    # sort-merge-shuffle the vocabulary frame on a handful of source keys)
    joined = pairs.join(A, "sa").join(B, ["sb", "term"], "left")
    # union of both vocabularies per pair: left join A then UNION the
    # b-only terms (a=0) — a full outer on (pair, term) would need the pair
    # frame replicated into both sides; two lefts keep it equi-join-only
    b_only = (
        pairs.join(B, "sb")
        .join(A, ["sa", "term"], "left_anti")
        .withColumn("a", F.lit(0).cast("bigint"))
    )
    rows = joined.withColumn(
        "b", F.coalesce(F.col("b"), F.lit(0)).cast("bigint")
    ).unionByName(b_only.select(*joined.columns))
    contrib_a = f"CASE WHEN a > 0 THEN CAST({_JS_LN.format(c='a', to='tb')} AS DECIMAL(38,0)) * a ELSE CAST(0 AS DECIMAL(38,0)) END"
    contrib_b = f"CASE WHEN b > 0 THEN CAST({_JS_LN.format(c='b', to='ta')} AS DECIMAL(38,0)) * b ELSE CAST(0 AS DECIMAL(38,0)) END"
    sums = rows.groupBy("sa", "sb", "ta", "tb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.expr(f"SUM({contrib_a})").alias("sca"),
        F.expr(f"SUM({contrib_b})").alias("scb"),
    )
    return sums.selectExpr(
        "sa AS source_a",
        "sb AS source_b",
        "n_terms",
        "CAST(FLOOR((CAST(sca AS DOUBLE) / CAST(ta AS DOUBLE)"
        " + CAST(scb AS DOUBLE) / CAST(tb AS DOUBLE))"
        " / CAST(2 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS js_micro",
    )


def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(alpha_tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return js_divergence_from_counts(counts)


Q_JS_DIVERGENCE_ORACLE = ("""
WITH counts AS (
  SELECT source, t AS term, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents, UNNEST({ALPHA}) AS u(t)
  GROUP BY 1, 2
),
totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM counts GROUP BY 1),
pairs AS (
  SELECT x.source AS sa, x.t AS ta, y.source AS sb, y.t AS tb
  FROM totals x JOIN totals y ON x.source < y.source
),
rows_a AS (
  SELECT p.sa, p.sb, p.ta, p.tb, a.term,
         a.c AS a, COALESCE(b.c, 0) AS b
  FROM pairs p
  JOIN counts a ON a.source = p.sa
  LEFT JOIN counts b ON b.source = p.sb AND b.term = a.term
),
rows_b AS (
  SELECT p.sa, p.sb, p.ta, p.tb, b.term,
         CAST(0 AS BIGINT) AS a, b.c AS b
  FROM pairs p
  JOIN counts b ON b.source = p.sb
  ANTI JOIN counts a ON a.source = p.sa AND a.term = b.term
),
rows_all AS (SELECT * FROM rows_a UNION ALL SELECT * FROM rows_b),
sums AS (
  SELECT sa, sb, ta, tb,
         CAST(COUNT(*) AS BIGINT) AS n_terms,
         SUM(CASE WHEN a > 0 THEN CAST({LN_A} AS DECIMAL(38,0)) * a
                  ELSE CAST(0 AS DECIMAL(38,0)) END) AS sca,
         SUM(CASE WHEN b > 0 THEN CAST({LN_B} AS DECIMAL(38,0)) * b
                  ELSE CAST(0 AS DECIMAL(38,0)) END) AS scb
  FROM rows_all
  GROUP BY 1, 2, 3, 4
)
SELECT sa AS source_a,
       sb AS source_b,
       n_terms,
       CAST(FLOOR((CAST(sca AS DOUBLE) / CAST(ta AS DOUBLE)
         + CAST(scb AS DOUBLE) / CAST(tb AS DOUBLE))
         / CAST(2 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS js_micro
FROM sums
"""
    .replace("{ALPHA}", ALPHA_TOKS_SQL)
    .replace("{LN_A}", _JS_LN.format(c="a", to="tb"))
    .replace("{LN_B}", _JS_LN.format(c="b", to="ta"))
)

QUERIES["text_js_divergence"] = QuerySpec(q_js_divergence, Q_JS_DIVERGENCE_ORACLE)


# -- term burstiness: Fano factor of per-doc counts (r12) ---------------------------------
# The dispersion diagnostic next to the Zipf fit and the entropy report: a
# term whose per-document counts have variance ≫ mean (Fano factor ≫ 1) is
# BURSTY — topical, concentrated in few documents — while function words sit
# near 1 (Poisson-like scatter). Curators read it to separate content terms
# from glue when building stopword lists and quality features (Church &
# Gale's burstiness observation). Exactness: over D docs with per-doc counts
# x (zeros included), Fano = var/mean = (D·Σx² − (Σx)²) / ((D−1)·Σx) — an
# exact integer ratio resolved by ONE double division + the FLOOR(x+0.5)
# half-up spell. Σx/Σx² accumulate in DECIMAL(38,0) (a 1e12-doc corpus puts
# Σx² past 2^63). Scale shape: one doc scan exploded to (doc, term) counts
# (map-side combine), one term-keyed aggregate; the rank cut keeps the
# report bounded at every tier (a TOP-N, not a threshold, so scale tiers
# stay comparable — the kcore precedent).
BURST_TOPN = 40

_FANO_MICRO = (
    "CASE WHEN n_docs > 1 AND sum_x > 0 THEN"
    " CAST(FLOOR((CAST(n_docs AS DOUBLE) * CAST(sum_x2 AS DOUBLE)"
    " - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))"
    " * CAST(1000000 AS DOUBLE)"
    " / (CAST(n_docs - 1 AS DOUBLE) * CAST(sum_x AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_MEAN_MICRO = (
    "CAST(FLOOR(CAST(sum_x AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(n_docs AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def burstiness_term_facts(docs: DataFrame) -> DataFrame:
    """(term, df, sum_x, sum_x2) — additive per-term dispersion facts over
    ONE documents scan. Each document lives wholly in one batch, so per-doc
    counts x (hence x²) are batch-local and the facts SUM-fold — the
    streaming twin appends exactly these."""
    per_doc = (
        docs.select("doc_id", F.explode(alpha_tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    return per_doc.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("x").cast("bigint").alias("sum_x"),
        # DECIMAL(38,0) accumulate: x² ≤ 1e12 per doc and a 1e12-doc corpus
        # puts the sum past 2^63 (non-ANSI BIGINT SUM wraps silently)
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sum_x2"),
    )


def burstiness_report_from_facts(
    facts: DataFrame, n_docs: DataFrame
) -> DataFrame:
    """The Fano-factor tail over additive term facts + a 1-row doc count,
    however accumulated. Top-N by corpus frequency (ties by term), then the
    exact integer dispersion arithmetic."""
    from pyspark.sql import Window

    top = facts.orderBy(
        F.col("sum_x").desc(), F.col("term").asc()
    ).limit(BURST_TOPN)
    w = Window.partitionBy(
        F.nullif(F.col("sum_x"), F.lit(-1)) * F.lit(0)
    ).orderBy(F.col("sum_x").desc(), F.col("term").asc())
    return (
        top.select(
            F.row_number().over(w).cast("bigint").alias("rnk"),
            "term",
            "df",
            F.col("sum_x").cast("decimal(38,0)").alias("sum_x"),
            F.col("sum_x2").cast("decimal(38,0)").alias("sum_x2"),  # idempotent
        )
        .crossJoin(F.broadcast(n_docs))
        .selectExpr(
            "rnk",
            "term",
            "df",
            "CAST(sum_x AS BIGINT) AS n_occurrences",
            f"{_MEAN_MICRO} AS mean_micro",
            f"{_FANO_MICRO} AS fano_micro",
        )
    )


def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return burstiness_report_from_facts(burstiness_term_facts(d), n_docs)


Q_BURSTINESS_ORACLE = f"""
WITH per_doc AS (
  SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS x
  FROM documents, UNNEST({{ALPHA}}) AS u(t)
  GROUP BY 1, 2
),
facts AS (
  SELECT term,
         CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sum_x,
         CAST(SUM(x * x) AS DECIMAL(38,0)) AS sum_x2
  FROM per_doc GROUP BY 1
),
top AS (
  SELECT term, df, sum_x, sum_x2,
         CAST(ROW_NUMBER() OVER (ORDER BY sum_x DESC, term ASC) AS BIGINT)
           AS rnk
  FROM facts
  QUALIFY rnk <= {BURST_TOPN}
),
dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT rnk, term, df,
       CAST(sum_x AS BIGINT) AS n_occurrences,
       {_MEAN_MICRO} AS mean_micro,
       {_FANO_MICRO} AS fano_micro
FROM top CROSS JOIN dd
""".replace("{ALPHA}", ALPHA_TOKS_SQL)

QUERIES["text_burstiness"] = QuerySpec(q_text_burstiness, Q_BURSTINESS_ORACLE)


# -- Hill tail-index estimator over document lengths (r13) --------------------------------
# The heavy-tail dial next to the Zipf fit: IS the document-length
# distribution power-law-tailed, and how heavy? The Hill (1975) estimator
# over the k largest lengths — H = (1/k) Σ ln(x_(i)/x_(k+1)), α̂ = 1/H —
# is the standard answer (α ≤ 2 means infinite variance: mean document
# cost is dominated by a few giants, the shuffle-skew early warning for a
# packing/sharding plan). Determinism: the top-k set is picked under the
# (n_chars DESC, doc_id) total order via the range-partitioned row number
# (no single-task window at any corpus size); each of the k log-ratio terms
# quantizes ONCE to micro-nats (positive by construction — x_(i) ≥
# x_(k+1) — so the FLOOR(x+0.5) spell is the plain half-up), the fold is a
# BIGINT sum of k integers, and H/α̂ resolve in one double divide each.
# Scale shape: one scan projects (doc_id, n_chars); the rank is ranged;
# everything after row k+1 is never touched again; readout one row.
HILL_K = 200

_HILL_TERM_MICRO = (
    "CAST(FLOOR(ln(CAST(x AS DOUBLE) / CAST(x_thr AS DOUBLE))"
    " * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_HILL_MICRO = (
    f"CAST(FLOOR(CAST(sum_terms AS DOUBLE) / CAST({HILL_K} AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_HILL_ALPHA_MICRO = (
    "CASE WHEN hill_micro > 0 THEN"
    " CAST(FLOOR(CAST(1000000000000 AS DOUBLE) / CAST(hill_micro AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)


def hill_from_lengths(lengths: DataFrame) -> DataFrame:
    """The tail-index tail over (doc_id, x) length facts, however
    accumulated — shared by the batch query and the streaming ledger twin."""
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_row_number,
    )

    ranked = materialize(
        ranged_row_number(lengths, [F.col("x").desc(), F.col("doc_id")], "rn")
    )
    thr = ranked.filter(F.col("rn") == HILL_K + 1).select(
        F.col("x").alias("x_thr")
    )
    n_docs = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    folded = (
        ranked.filter(F.col("rn") <= HILL_K)
        .crossJoin(F.broadcast(thr))
        .selectExpr(f"{_HILL_TERM_MICRO} AS term_micro", "x_thr")
        .groupBy("x_thr")
        .agg(F.sum("term_micro").cast("bigint").alias("sum_terms"))
    )
    return (
        folded.crossJoin(F.broadcast(n_docs))
        .selectExpr(
            "n_docs",
            f"CAST({HILL_K} AS BIGINT) AS k",
            "x_thr AS threshold_chars",
            f"{_HILL_MICRO} AS hill_micro",
        )
        .selectExpr(
            "n_docs",
            "k",
            "threshold_chars",
            "hill_micro",
            f"{_HILL_ALPHA_MICRO} AS alpha_micro",
        )
    )


def q_text_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return hill_from_lengths(
        d.select("doc_id", F.col("n_chars").cast("bigint").alias("x"))
    )


Q_HILL_ORACLE = f"""
WITH lengths AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS x FROM documents
),
ranked AS (
  SELECT doc_id, x,
         CAST(ROW_NUMBER() OVER (ORDER BY x DESC, doc_id) AS BIGINT) AS rn
  FROM lengths
),
thr AS (SELECT x AS x_thr FROM ranked WHERE rn = {HILL_K + 1}),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM lengths),
folded AS (
  SELECT x_thr, CAST(SUM({_HILL_TERM_MICRO}) AS BIGINT) AS sum_terms
  FROM ranked CROSS JOIN thr
  WHERE rn <= {HILL_K}
  GROUP BY 1
),
h AS (
  SELECT n_docs, CAST({HILL_K} AS BIGINT) AS k, x_thr AS threshold_chars,
         {_HILL_MICRO} AS hill_micro
  FROM folded CROSS JOIN nd
)
SELECT n_docs, k, threshold_chars, hill_micro,
       {_HILL_ALPHA_MICRO} AS alpha_micro
FROM h
"""

QUERIES["text_hill_tail_index"] = QuerySpec(
    q_text_hill_tail_index, Q_HILL_ORACLE
)


# -- readability profile: Automated Readability Index per language (r13) -------------------
# The corpus-difficulty dial a curriculum/mixing policy consumes: the
# Automated Readability Index (Senter & Smith 1967) is the one classic
# readability formula that is PURE COUNTS — ARI = 4.71·(chars/words) +
# 0.5·(words/sentences) − 21.43 — no syllable heuristics, so it is exactly
# reproducible cross-engine. Definitions pinned to the shared spells:
# words = whitespace tokens (functions/text.tokens), chars = summed token
# lengths (whitespace never counts), sentences = count of [.!?] characters
# floored at 1 (the quality-score punct discipline). Per-doc ARI quantizes
# once through one shared double expression (constants as literals, signed
# FLOOR(x+0.5)); the per-language report publishes mean ARI and the share
# of college+ docs (ARI ≥ 14 — an integer compare on already-quantized
# micros). Scale shape: one scan collapses map-side to |languages| additive
# moment rows — the ESS/Neyman ledger shape, so the twin SUM-folds.
ARI_HARD_MICRO = 14_000_000

_ARI_MICRO = (
    "CAST(FLOOR((CAST(4.71 AS DOUBLE) * CAST(c AS DOUBLE) / CAST(w AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE) * CAST(w AS DOUBLE) / CAST(s AS DOUBLE)"
    " - CAST(21.43 AS DOUBLE)) * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_ARI_MEAN = (
    "CAST(FLOOR(CAST(sum_ari AS DOUBLE) / CAST(n_docs AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_ARI_HARD_SHARE = (
    "CAST(FLOOR(CAST(n_hard AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(n_docs AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def ari_facts(docs: DataFrame) -> DataFrame:
    """(lang, n_docs, sum_ari, n_hard) — additive per-language ARI moments
    over ONE documents scan (per-doc ARI is a scan-local arrival decision;
    zero-token docs carry no readability and are out of frame). SUM-foldable,
    so the streaming twin appends these."""
    from movie_genre_data_pipeline_spark.functions.text import tokens

    toks = tokens("text")
    base = docs.select(
        "lang",
        F.size(toks).cast("bigint").alias("w"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("c"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.length(F.regexp_replace("text", "[^.!?]", "")).cast("bigint"),
        ).alias("s"),
    ).filter(F.col("w") > 0)
    scored = base.selectExpr("lang", f"{_ARI_MICRO} AS ari_micro")
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("SUM(CAST(ari_micro AS DECIMAL(38,0)))").alias("sum_ari"),
        F.sum(F.when(F.col("ari_micro") >= ARI_HARD_MICRO, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hard"),
    )


def ari_report_from_facts(facts: DataFrame) -> DataFrame:
    """The readability report over additive (lang, n_docs, sum_ari, n_hard)
    moments, however accumulated — shared by the batch query and the
    streaming ledger twin."""
    return facts.selectExpr(
        "lang",
        "n_docs",
        f"{_ARI_MEAN} AS mean_ari_micro",
        "n_hard",
        f"{_ARI_HARD_SHARE} AS hard_share_micro",
    )


def q_text_readability_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return ari_report_from_facts(ari_facts(d))


Q_ARI_ORACLE = f"""
WITH base AS (
  SELECT lang, w, c, s FROM (
    SELECT lang,
           CAST(len(toks) AS BIGINT) AS w,
           CAST(COALESCE(list_aggregate(
                  list_transform(toks, t -> length(t)), 'sum'), 0)
                AS BIGINT) AS c,
           GREATEST(CAST(1 AS BIGINT),
                    CAST(length(regexp_replace(text, '[^.!?]', '', 'g'))
                         AS BIGINT)) AS s
    FROM (SELECT lang, text, {{TOKS}} AS toks FROM documents))
  WHERE w > 0
),
scored AS (
  SELECT lang, {_ARI_MICRO} AS ari_micro FROM base
),
facts AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         SUM(CAST(ari_micro AS DECIMAL(38,0))) AS sum_ari,
         CAST(SUM(CASE WHEN ari_micro >= {ARI_HARD_MICRO} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hard
  FROM scored GROUP BY 1
)
SELECT lang, n_docs, {_ARI_MEAN} AS mean_ari_micro, n_hard,
       {_ARI_HARD_SHARE} AS hard_share_micro
FROM facts
""".replace("{TOKS}", _TOKS)

QUERIES["text_readability_ari"] = QuerySpec(
    q_text_readability_ari, Q_ARI_ORACLE
)


# -- Yule's K vocabulary-richness characteristic (r14) -------------------------------------
# The repetitiveness dial duplication-heavy corpora move first: Yule's K
# (Yule 1944) is the classic scale-free richness statistic, K = 10^4 ·
# (Σ_t tf_t² − N)/N² over corpus term frequencies tf_t with N total tokens —
# equivalently 10^4·(Σ_i i²V_i − N)/N² over the frequency spectrum, but the
# tf² form folds straight off the unigram postings. Low K ⇒ rich vocabulary;
# spammy/templated sources spike it, which makes the per-language profile a
# cheap source-quality screen beside the entropy/Zipf members. Exactness:
# tf and N are exact integers; Σtf² accumulates in DECIMAL(38,0) (tf² at
# corpus scale overflows BIGINT), and K quantizes once through one shared
# double division with the half-up spell. Scale shape: one documents scan →
# (lang, term)-grain postings (the BM25/Zipf ledger shape) → |lang| rows;
# the twin appends per-batch postings and SUM-folds.
_YULE_K_MICRO = (
    "CAST(FLOOR(CAST(10000000000 AS DOUBLE)"
    " * (CAST(s2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))"
    " / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def yule_postings(docs: DataFrame) -> DataFrame:
    """(lang, term, tf) unigram postings — the additive Yule ledger (tf
    SUM-folds across batches; tf² is a READOUT decision, never a fact,
    because squares don't re-associate)."""
    from movie_genre_data_pipeline_spark.functions.text import tokens

    return (
        docs.select("lang", F.explode(tokens("text")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def yule_report_from_postings(postings: DataFrame) -> DataFrame:
    """The per-language richness report over folded (lang, term, tf)
    postings, however accumulated — shared by batch and the ledger twin."""
    facts = postings.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.expr("SUM(CAST(tf AS DECIMAL(38,0)) * tf)").alias("s2"),
    )
    return facts.selectExpr(
        "lang",
        "n_types",
        "n_tokens",
        f"{_YULE_K_MICRO} AS yule_k_micro",
    ).orderBy("lang")


def q_text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return yule_report_from_postings(yule_postings(d))


Q_YULE_ORACLE = f"""
WITH postings AS (
  SELECT lang, t.term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT lang, {_TOKS} AS toks FROM documents), unnest(toks) AS t(term)
  GROUP BY 1, 2
),
facts AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         SUM(CAST(tf AS HUGEINT) * tf) AS s2
  FROM postings GROUP BY 1
)
SELECT lang, n_types, n_tokens, {_YULE_K_MICRO} AS yule_k_micro
FROM facts ORDER BY lang
"""

QUERIES["text_yule_k"] = QuerySpec(q_text_yule_k, Q_YULE_ORACLE)
