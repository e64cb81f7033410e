"""Text-analysis column functions for a training-data pipeline (north star:
language-ID, quality scoring, token counting, document fingerprinting).

Everything here is built-in `pyspark.sql.functions` expressions — JVM-side,
whole-stage-codegen'd, no Python UDFs in the hot path. Each helper returns a
Column so callers compose them into any projection; at 100 TB these are narrow
per-row transforms that scan-pipeline with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.session import materialize

# Tiny deterministic stopword lexicons for the language-ID heuristic. Real
# pipelines swap in fastText/CLD3 behind the same column contract; the heuristic
# is the dependency-free baseline and is exactly reproducible in ANSI SQL (the
# correctness oracle runs the same lexicons).
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "des", "un", "une"),
    "es": ("el", "los", "las", "es", "y", "un", "una", "que"),
}

# Stopwords for the quality score's stopword-ratio feature (English baseline).
QUALITY_STOPWORDS: tuple[str, ...] = LANG_LEXICONS["en"]

# Engine-proof whitespace. Java regex \s is [ \t\n\x0B\f\r] but RE2 (DuckDB's
# engine) \s lacks \x0B (vertical tab), so any pattern spelling `\s` silently
# diverges between the engine and its SQL oracle on text containing \x0B.
# Every whitespace pattern here spells the class out explicitly: the Spark side
# embeds the literal control characters (identical meaning inside a character
# class in any engine); the SQL side renders the same class with RE2 escapes
# (`\v` is \x0B in RE2) so the oracle text stays printable.
WS_CHARS = " \t\n\r\f\x0b"
WS_RE = f"[{WS_CHARS}]+"
WS_RE_SQL = r"[ \t\n\r\f\v]+"

# BPE-ish word/number/punct segmentation (token counting without a tokenizer dep).
BPE_ISH_PATTERN = f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}]"
BPE_ISH_PATTERN_SQL = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\v]"

# DuckDB rendering of tokens(): split on the explicit class, drop empties
# (which also makes blank/whitespace-only text an empty array — no CASE needed).
TOKS_SQL = f"list_filter(regexp_split_to_array(text, '{WS_RE_SQL}'), t -> t <> '')"


def fingerprint_sql(col: str = "text") -> str:
    """DuckDB rendering of fingerprint(): md5 of the normalized text."""
    return f"md5(regexp_replace(lower(trim({col})), '{WS_RE_SQL}', ' ', 'g'))"


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization → array<string>; empty/blank text → empty array.
    Split on the explicit whitespace class then drop empty strings — robust to
    leading/trailing whitespace of any kind without relying on trim() semantics
    (trim strips only 0x20 in both Spark and DuckDB)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, WS_RE), lambda t: t != "")


def token_count(col: str | Column) -> Column:
    """Whitespace token count (long)."""
    return F.size(tokens(col)).cast("bigint")


# The suite's SECOND tokenizer class (the first is whitespace `tokens()`,
# serving fingerprint/span ops): lowercase-alpha, serving every TF-IDF / BM25 /
# LM / BPE / Heaps surface. Parity is per-query, not global — each batch query,
# its streaming ledger twin, and its DuckDB oracle must tokenize identically on
# ANY text (case/digits/punct), and a copy-pasted tokenizer drifting in one
# foreachBatch closure is exactly the bug class the r9 review caught — so the
# expression exists ONCE, here.
ALPHA_RE = "[^a-z]+"
# DuckDB rendering over a column named `text` (the common oracle shape).
ALPHA_TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x != '')"
)


def alpha_tokens(col: str | Column) -> Column:
    """Lowercase-alpha tokenization → array<string>; text with no [a-z] runs →
    empty array. The single source of truth for the TF-IDF/BM25/LM tokenizer
    (see ALPHA_RE comment)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), ALPHA_RE), lambda t: t != "")


def bigram_pairs(arr: str) -> Column:
    """Adjacent-pair structs array<struct<w1,w2>> built ARRAY-LOCALLY from the
    token-array column named `arr` (no self-join, no positional shuffle);
    <2 tokens → empty array. Shared by the batch bigram LM
    (`bigram_surprisal`) and its streaming ledger twin so the struct
    construction can't drift."""
    return F.when(
        F.size(arr) >= 2,
        F.expr(
            f"transform(sequence(2, size({arr})), "
            f"i -> struct(element_at({arr}, i-1) AS w1, element_at({arr}, i) AS w2))"
        ),
    ).otherwise(F.expr("cast(array() as array<struct<w1:string,w2:string>>)"))


def bpe_ish_token_count(col: str | Column) -> Column:
    """Token count under the BPE-ish regex segmentation (long)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)).cast("bigint")


def stopword_hits(col: str | Column, lexicon: tuple[str, ...]) -> Column:
    """Number of tokens that are in `lexicon` (long). filter() is a JVM
    higher-order function — no UDF."""
    lex = F.array(*[F.lit(w) for w in lexicon])
    return F.size(
        F.filter(tokens(col), lambda t: F.array_contains(lex, F.lower(t)))
    ).cast("bigint")


def lang_scores(col: str | Column) -> dict[str, Column]:
    """Per-language stopword-hit counts."""
    return {lang: stopword_hits(col, lex) for lang, lex in LANG_LEXICONS.items()}


def lang_id(col: str | Column) -> Column:
    """Heuristic language-ID: argmax of stopword hits with fixed precedence
    en > de > fr > es on ties; 'und' (undetermined) when no lexicon matches."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # build the CASE in reverse precedence so earlier langs win ties
    for lang in reversed(list(LANG_LEXICONS)):
        out = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def punct_ratio(col: str | Column) -> Column:
    """punctuation chars / total chars (double; 0.0 for empty text)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[^.!?,;:]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n.cast("double"))


def stopword_ratio(col: str | Column) -> Column:
    """English-stopword tokens / total tokens (double; 0.0 for empty)."""
    total = token_count(col)
    hits = stopword_hits(col, QUALITY_STOPWORDS)
    return F.when(total == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / total.cast("double")
    )


def mean_token_length(col: str | Column) -> Column:
    """Average token length in chars (double; 0.0 for empty)."""
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        total.cast("double") / n.cast("double")
    )


def quality_score(col: str | Column) -> Column:
    """Composite document-quality heuristic in [0, 1] (double):
    rewards mid-length docs, plausible word lengths, and some stopword density;
    penalizes punctuation soup. Deterministic + SQL-reproducible.
    """
    n_tok = token_count(col).cast("double")
    length_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    wordlen = mean_token_length(col)
    wordlen_score = F.when((wordlen >= 3.0) & (wordlen <= 10.0), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    stop_score = F.least(stopword_ratio(col) * F.lit(5.0), F.lit(1.0))
    punct_penalty = F.least(punct_ratio(col) * F.lit(2.0), F.lit(1.0))
    return F.round(
        (length_score * 0.4 + wordlen_score * 0.3 + stop_score * 0.3)
        * (F.lit(1.0) - punct_penalty * F.lit(0.5)),
        6,
    )


def normalize_text(col: str | Column) -> Column:
    """Canonical form for fingerprinting: lowercase + whitespace collapsed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), WS_RE, " ")


def fingerprint(col: str | Column) -> Column:
    """Deterministic document fingerprint: md5 hex of the normalized text.
    (md5 chosen over xxhash64 because every engine — Spark, DuckDB, Trino —
    computes the identical digest, so fingerprints are portable across systems.)"""
    return F.md5(normalize_text(col))


def unigram_surprisal(df, id_col: str, text_col: str):
    """Per-document mean unigram surprisal -avg(ln p(token)) under the corpus's
    own unigram distribution — the dependency-free stand-in for an LM-based
    quality score (high surprisal = unusual/noisy text; real pipelines swap in a
    trained LM behind the same column contract).

    Declarative and linear: tokenize → explode → (doc,term) counts → corpus
    term counts → broadcast scalar total — the same two key-partitioned
    shuffles as TF-IDF, no driver-side vocabulary.

    Cross-engine exactness: per-term ln p is scaled to an integer
    (round(ln(p)·1e6) as BIGINT) and the per-doc sum runs in exact integer
    arithmetic, so accumulation order cannot move the result (the same
    integer-scaling trick as tpch_q9's profit sum); the division back to a
    double happens once, at the end."""
    from pyspark.sql import DataFrame  # noqa: F401  (signature documented above)

    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(alpha_tokens(text_col)).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # corpus term count as a SUM window over tf (one shuffle on term), not a
    # groupBy+join-back, which would re-derive the tokenize+agg subtree twice.
    # The corpus total comes from a separate NARROW scan (size of the filtered
    # token array per row, no explode) — cheap, and broadcast as one row.
    cnt = F.sum("tf").over(Window.partitionBy("term"))
    total = df.agg(F.sum(F.size(alpha_tokens(text_col))).alias("total"))
    scaled = tf.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "tf",
        F.round(F.log(cnt / F.col("total")) * F.lit(1e6), 0)
        .cast("bigint")
        .alias("s_term"),
    )
    return (
        scaled.groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.round(
                -F.sum(F.col("tf") * F.col("s_term")) / F.lit(1e6) / F.sum("tf"), 6
            ).alias("avg_surprisal"),
        )
    )


def winnow_fingerprints(
    df,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
):
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS algorithm): hash every word-k-gram, slide a w-gram window over
    consecutive hashes, keep each window's minimum; the DISTINCT selected
    hashes are the document's fingerprint set.

    Guarantee (the reason this beats whole-doc md5, `fingerprint()` above):
    any shared run of >= w+k-1 tokens between two documents shares at least
    one selected fingerprint, while only ~2/(w+1) of gram hashes are kept —
    local similarity detection at a fraction of the index size. The whole-doc
    digest catches exact duplicates only.

    Returns (doc, h48 bigint) distinct fingerprint rows — the compact posting
    table an overlap index joins on, same idiom as kmv_sketch's output.

    Scale shape: position-explode (the shingle_rows discipline — no O(n²)
    generator re-evaluation), ONE shuffle on the doc key for the ordered
    window, distinct within the same partitioning. Hashes are the 48-bit md5
    prefix, so a SQL oracle selects the identical fingerprints. Documents with
    fewer than k tokens have no grams and drop out (no text, no fingerprint);
    documents with fewer than w grams contribute their single global minimum
    (the window at position 1 sees all grams)."""
    from pyspark.sql import Window

    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    toks = df.select(F.col(id_col).alias("doc"), tokens(text_col).alias("__toks"))
    grams = (
        toks.filter(F.size("__toks") >= k)
        .select(
            "doc",
            (F.size("__toks") - F.lit(k - 1)).alias("__n_grams"),
            "__toks",
            F.explode(
                F.sequence(F.lit(1), F.size("__toks") - F.lit(k - 1))
            ).alias("__i"),
        )
        .select(
            "doc",
            "__n_grams",
            "__i",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice("__toks", F.col("__i"), k))),
                    1,
                    12,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("__h48"),
        )
    )
    frame = (
        Window.partitionBy("doc").orderBy(F.col("__i").asc()).rowsBetween(0, w - 1)
    )
    windows = grams.withColumn("__wmin", F.min("__h48").over(frame)).filter(
        # only windows fully inside the gram sequence select fingerprints;
        # short docs (< w grams) keep the single all-grams window at __i = 1
        F.col("__i") <= F.greatest(F.lit(1), F.col("__n_grams") - F.lit(w - 1))
    )
    return windows.select("doc", F.col("__wmin").alias("h48")).distinct()


def hash_embed(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int = 64
) -> DataFrame:
    """Feature-hashing ("hashing trick", Weinberger et al. 2009) text
    embeddings: (doc, vec array<double>) with vec[b] = Σ over token
    occurrences hashing to bucket b of ±1 (bucket = md5 48-bit prefix mod
    n_buckets; sign = the next hex digit's high bit). The deterministic,
    model-free text→vector bridge: unlike learned embeddings it needs no
    inference pass, costs one explode + one (doc, bucket) hash aggregate
    (≤ n_buckets rows per doc reach the doc-level regroup), and — because
    bucket sums are exact integers — is bit-reproducible by any engine, so
    downstream ANN/dedup over these vectors stays oracle-checkable.

    Docs with no tokens produce no row (they have no signature) — same
    contract as minhash_signature_table."""
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok")
    )
    digest = F.md5(F.col("tok"))
    bucket = (
        F.conv(F.substring(digest, 1, 12), 16, 10).cast("long") % n_buckets
    ).cast("int")
    sign = F.when(F.substring(digest, 13, 1) >= "8", 1.0).otherwise(-1.0)
    cells = tok.groupBy("doc", bucket.alias("bucket")).agg(
        F.sum(sign).alias("v")
    )
    return (
        cells.groupBy("doc")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("bucket"), F.col("v")))
            ).alias("__m")
        )
        .select(
            "doc",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_buckets - 1)),
                lambda i: F.coalesce(F.element_at(F.col("__m"), i), F.lit(0.0)),
            ).alias("vec"),
        )
    )


def token_runs_udtf():
    """Python UDTF (Spark 4 `@udtf` API): run-length encoding of a document's
    token stream — one input row explodes to one row per maximal run of a
    repeated token. The per-doc sequential scan is a genuine TABLE-function
    use: the output row count depends on the data and each row carries state
    (run start ordinal) a per-row scalar UDF can't thread.

    Registered per-session via `spark.udtf.register("token_runs", ...)` and
    invoked with SQL LATERAL — the Spark-4 surface for custom row generators
    beyond the explode/posexplode builtins. The whitespace tokenization
    matches functions.text.tokens() so SQL engines replay the runs exactly.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="run_idx int, tok string, run_len int")
    class TokenRuns:
        def eval(self, text: str):
            import re

            toks = [t for t in re.split(r"[ \t\n\r\f\v]+", text or "") if t]
            run_idx = 0
            i = 0
            while i < len(toks):
                j = i
                while j < len(toks) and toks[j] == toks[i]:
                    j += 1
                yield (run_idx, toks[i], j - i)
                run_idx += 1
                i = j

    return TokenRuns


def keyness_top_terms(
    term_counts, top_k: int, min_count: int
):
    """Chi-square keyness over a (source, term, o) count table: top_k terms
    over-represented in each source vs the rest of the corpus.

    The input is the ADDITIVE reduction of the corpus (per-source term
    counts), so the same scorer serves batch (counts from one tokenize pass)
    and streaming (counts folded from per-batch ledger deltas — re-sum is the
    merge, functions/hll.py's mergeability discipline applied to plain
    counts). Source totals, term totals, and N re-aggregate from the count
    table itself; everything here is vocabulary-sized.
    """
    from pyspark.sql import Window

    # explicit barrier (the KMV-vocab precedent): the totals below re-derive
    # from term_counts THREE more times, and Spark does not share subtrees —
    # without this the corpus would be tokenized four times. The checkpoint
    # materializes the vocabulary-sized reduction once; everything after runs
    # on it.
    term_counts = materialize(term_counts, eager=True)
    src_tot = term_counts.groupBy("source").agg(
        F.sum("o").cast("bigint").alias("s_tot")
    )
    term_tot = term_counts.groupBy("term").agg(
        F.sum("o").cast("bigint").alias("t_tot")
    )
    n_tot = term_counts.select(F.sum("o").cast("bigint").alias("n_tot"))
    e = F.col("s_tot").cast("double") * F.col("t_tot") / F.col("n_tot")
    chi = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    scored = (
        term_counts.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(term_tot), "term")
        .crossJoin(F.broadcast(n_tot))
        .filter((F.col("o") >= min_count) & (F.col("o").cast("double") > e))
        .withColumn("chi_raw", chi)
    )
    w = Window.partitionBy("source").orderBy(
        F.col("chi_raw").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "source",
            "term",
            F.col("o").alias("term_count"),
            F.round("chi_raw", 6).alias("chi"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def bigram_surprisal(df, id_col: str, text_col: str, alpha: float = 0.4):
    """Per-document mean bigram surprisal -avg(ln p(w2|w1)) under the corpus's
    own bigram model with stupid backoff (Brants et al., EMNLP'07): the
    conditional c(w1,w2)/c(w1,·) for bigrams seen >= 2 times, alpha * the
    unigram p(w2) for singleton bigrams (the continuation a growing corpus has
    essentially no evidence for). The bigram upgrade of `unigram_surprisal` —
    same column contract, one model order higher, same swap-in point for a
    trained LM.

    Scale shape: bigrams are built ARRAY-LOCALLY (transform over the token
    array — no self-join, no positional shuffle), then aggregated through
    vocabulary-sized tables: per-doc bigram counts, corpus bigram counts,
    left-context totals, unigram counts, and one broadcast scalar total.
    Every shuffle is keyed on bigram/term vocabulary, never on corpus volume.

    Cross-engine exactness: identical to `unigram_surprisal` — per-bigram
    ln p is quantized to integer micro-nats (round(ln(p)*1e6) as BIGINT), the
    per-doc accumulation runs in exact integer arithmetic, and the single
    division back to a double happens last."""
    docs = df.select(F.col(id_col).alias("doc_id"), alpha_tokens(text_col).alias("__a"))
    bg = bigram_pairs("__a")
    flat = docs.select("doc_id", F.explode(bg).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    bf = flat.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("bf"))
    uni = (
        docs.select(F.explode("__a").alias("w2"))
        .groupBy("w2")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    return bigram_surprisal_from_counts(bf, uni, alpha=alpha)


def bigram_surprisal_from_counts(bf, uni, alpha: float = 0.4):
    """The count-table form of `bigram_surprisal` (r9): `bf` is per-document
    bigram frequencies (doc_id, w1, w2, bf) and `uni` unigram counts
    (w2, cu) — however they were accumulated, one batch scan or a streaming
    append ledger (each is an additive FACT, so per-micro-batch partials fold
    by SUM). The model tables (corpus bigram counts, left-context totals, the
    token total = SUM(cu)) and the per-doc exact-micro-nat fold are derived
    here, identically to the text form — which is what makes the LM score
    CONTINUOUSLY maintainable with the identical oracle."""
    bgc = bf.groupBy("w1", "w2").agg(F.sum("bf").alias("c_b"))
    leftc = bgc.groupBy("w1").agg(F.sum("c_b").alias("c_left"))
    total = uni.agg(F.sum("cu").alias("total"))
    s = (
        bgc.join(leftc, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c_b",
            F.when(
                F.col("c_b") >= 2,
                F.round(F.log(F.col("c_b") / F.col("c_left")) * F.lit(1e6), 0),
            )
            .otherwise(
                F.round(
                    F.log(F.lit(alpha) * (F.col("cu") / F.col("total")))
                    * F.lit(1e6),
                    0,
                )
            )
            .cast("bigint")
            .alias("s_bg"),
        )
    )
    return (
        bf.join(s, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("bf").cast("bigint").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("bf") * F.col("s_bg")) / F.lit(1e6) / F.sum("bf"), 6
            ).alias("avg_surprisal"),
            F.round(
                F.sum(F.when(F.col("c_b") == 1, F.col("bf")).otherwise(0))
                / F.sum("bf"),
                6,
            ).alias("pct_backoff"),
        )
    )


def bpe_learn_merges(df, id_col: str, text_col: str, n_merges: int):
    """Learn the first `n_merges` byte-pair-encoding merges (Sennrich et al.,
    ACL'16 — the subword-vocabulary induction behind GPT/LLaMA tokenizers)
    from the corpus itself, distributed. Classic BPE alternates two steps:
    count adjacent symbol pairs across the word-type table weighted by word
    frequency, then merge the most frequent pair everywhere (greedy
    left-to-right within each word). Returns the learned merge table:
    (merge_rank, left_sym, right_sym, pair_count).

    Scale shape — the key observation that makes BPE training distributable:
    after ONE corpus-sized tokenize+count, every iteration runs on the
    WORD-TYPE table (vocabulary-sized, bounded by the language not the
    corpus). Pair counting is an explode+sum over word types; the winning
    pair stays in-plan as a broadcast 1-row frame (no collect); merge
    application is a scan-local array fold per word — no positional shuffle,
    no driver-side vocabulary. 100 TB of text changes only the first count.

    Determinism: pair counts are exact integers, ties break lexicographically
    on (left, right), and the greedy left-to-right application is an
    order-pinned fold — so a SQL engine replays the whole merge trajectory
    (the oracle rebuilds greedy application with a run-parity window — two
    provably-equivalent formulations of the same greedy rule)."""
    rules, _ = _bpe_loop(df, text_col, n_merges, apply_all=False)
    res = rules[0]
    for r in rules[1:]:
        res = res.unionByName(r)
    return res


def bpe_word_symbols(df, text_col: str, n_merges: int):
    """The word-type table AFTER all `n_merges` learned merges are applied:
    (w, freq, s array<string>) — the tokenizer's vocabulary view, ready for
    an equi-join against exploded document words (vocabulary-sized, so the
    join shuffles the vocab, never the corpus). Same trajectory as
    `bpe_learn_merges`, plus the final merge's application."""
    _, syms = _bpe_loop(df, text_col, n_merges, apply_all=True)
    return syms


def _bpe_loop(df, text_col: str, n_merges: int, apply_all: bool):
    words = (
        df.select(F.explode(alpha_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # a checkpoint, not cache() (r16, VERDICT r15 #6): the initial symbol
    # table is re-read by every merge round INSIDE one plan (reuse we want),
    # but a cache() entry is keyed on the canonicalized plan and would also
    # satisfy the NEXT invocation's identical subtree — making repeated runs
    # non-independent. Checkpoint blocks are private to this lineage.
    syms = materialize(
        words.select(
            "w",
            "freq",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("s"),
        )
    )
    empty_pairs = F.expr("cast(array() as array<struct<x:string,y:string>>)")
    empty_syms = F.expr("cast(array() as array<string>)")
    rules = []
    for t in range(1, n_merges + 1):
        adj = F.when(
            F.size("s") >= 2,
            F.expr(
                "transform(sequence(1, size(s)-1), "
                "i -> struct(element_at(s, i) AS x, element_at(s, i+1) AS y))"
            ),
        ).otherwise(empty_pairs)
        cnt = (
            syms.select("freq", F.explode(adj).alias("p"))
            .select("freq", F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .groupBy("x", "y")
            .agg(F.sum("freq").alias("c"))
        )
        best = cnt.orderBy(
            F.col("c").desc(), F.col("x").asc(), F.col("y").asc()
        ).limit(1)
        rules.append(
            best.select(
                F.lit(t).alias("merge_rank"),
                F.col("x").alias("left_sym"),
                F.col("y").alias("right_sym"),
                F.col("c").cast("bigint").alias("pair_count"),
            )
        )
        if t < n_merges or apply_all:
            rule = F.broadcast(
                best.select(F.col("x").alias("__a"), F.col("y").alias("__b"))
            )
            merged = F.aggregate(
                F.col("s"),
                empty_syms,
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.col("__a"))
                    & (x == F.col("__b")),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.concat(F.col("__a"), F.col("__b"))),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            )
            # the lineage-truncation discipline the docstring promises for
            # cluster runs: without it the 9-level fold/crossJoin plan tree
            # exhausts a default-sized driver heap during optimization (the
            # word-type DATA is vocabulary-sized and trivially fits)
            syms = materialize(
                syms.crossJoin(rule).select("w", "freq", merged.alias("s"))
            )
    return rules, syms
