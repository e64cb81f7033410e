"""Deduplication operators for training-data pipelines (north star): exact,
MinHash+LSH, SimHash, and n-gram Jaccard.

Scale design (the whole point of these):
- Exact dedup = hash-groupBy on a digest of normalized text — one shuffle keyed by
  a 128-bit hash, perfectly balanced.
- MinHash+LSH never compares all pairs: signatures are per-doc minima over
  shingle rows (map-side partial aggregation before the one shuffle on doc id),
  then candidates come from ONE shuffle on (band, band_key) — docs only meet if
  they collide in a band bucket. This is the standard
  shingle→minhash→band→bucket-join pipeline; complexity O(n·H) + bucket joins,
  never O(n²).
- SimHash: one explode + one groupBy(doc) — linear; near-dup lookup then groups by
  simhash prefix.
- n-gram Jaccard is exact pairwise similarity, so it MUST be candidate-limited:
  callers pass blocking columns (e.g. lang + length bucket); the self-join runs
  inside blocks only.

Hash discipline: md5 everywhere (not xxhash64/murmur) — every engine computes the
identical digest, so signatures/fingerprints are portable and the DuckDB oracle can
reproduce them bit-for-bit. MinHash "hash family" = ONE md5 per shingle + affine
combinations (a + h·b) mod P over the digest's two 48-bit halves — the textbook
universal family, and 12× cheaper than salting md5 per hash index (r2: cut the
dominant bench cost of dedup_minhash_lsh). 48-bit halves keep a + 11·b < 2^52,
exactly representable in BIGINT (and even in a double) on every engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.functions.text import fingerprint, tokens
from movie_genre_data_pipeline_spark.session import materialize


# -- exact ----------------------------------------------------------------------
def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (lowest id) per normalized-text fingerprint."""
    w = Window.partitionBy(fingerprint(text_col)).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def keep_best_dedup(
    df: DataFrame, id_col: str, text_col: str, score: Column
) -> DataFrame:
    """Quality-aware exact dedup for training corpora: per normalized-text
    fingerprint keep the row with the HIGHEST `score` (ties → lowest id), and
    report cluster size. Plain hash-groupBy window — one shuffle on the 128-bit
    fingerprint, balanced at any scale. `score` must be a deterministic column
    expression (rank on ROUNDED scores so float noise can't flip keepers across
    engines — pass e.g. quality_score(), which rounds to 6dp)."""
    w = Window.partitionBy("fp").orderBy(
        F.col("__score").desc(), F.col(id_col).asc()
    )
    scored = df.select(
        F.col(id_col), fingerprint(text_col).alias("fp"), score.alias("__score")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("__rn") == 1)
        .select(
            "fp",
            F.col(id_col).alias("keeper_id"),
            F.col("__score").alias("keeper_score"),
            F.col("n_copies").cast("bigint").alias("n_copies"),
        )
    )


def exact_dedup_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-fingerprint keeper + duplicate count: (fp, keeper_id, n_copies)."""
    return df.groupBy(fingerprint(text_col).alias("fp")).agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# -- MinHash + LSH -----------------------------------------------------------------
# Largest prime below 2^48: the affine family (a + h*b) % MINHASH_P over the two
# 48-bit halves of md5(shingle). One md5 per shingle, H cheap arithmetic ops.
MINHASH_P = 281474976710597


def shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    extra_cols: tuple[str, ...] = (),
    distinct: bool = False,
) -> DataFrame:
    """(doc, s) word-k-gram rows via POSITION explode: the generator input is a
    cheap `sequence(1, n_tokens-k+1)` and the shingle string is sliced AFTER the
    explode from the carried tokens array. Exploding a per-doc shingle array
    directly re-evaluates the whole nested slice/concat HOF per output row —
    O(n_tokens²) per doc; measured 10× slower than this shape on the sf0.1
    corpus. Docs with < k tokens are filtered out (they have no shingles; the
    filter also guards Spark's sequence(), which counts DOWN for n < k)."""
    extras = [F.col(c) for c in extra_cols]
    toks = df.select(
        F.col(id_col).alias("doc"), *extras, tokens(text_col).alias("__toks")
    )
    rows = (
        toks.filter(F.size("__toks") >= k)
        .select(
            "doc",
            *extra_cols,
            "__toks",
            F.explode(
                F.sequence(F.lit(1), F.size("__toks") - F.lit(k - 1))
            ).alias("__i"),
        )
        .select(
            "doc",
            *extra_cols,
            F.concat_ws(" ", F.slice("__toks", F.col("__i"), k)).alias("s"),
        )
    )
    # per-doc set semantics (== exploding array_distinct, but without the
    # generator re-evaluation); extra_cols are functionally dependent on doc
    return rows.dropDuplicates(["doc", "s"]) if distinct else rows


def minhash_signature_table(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 12, k: int = 3
) -> DataFrame:
    """(doc, m0..m{H-1}) MinHash signature table via explode + hash-aggregate.

    This is the scale plan: shingles explode to rows (position-explode — see
    `shingle_rows`), then `min` aggregates get map-side partial aggregation
    (each input partition reduces to one row per doc before the shuffle).
    Documents with fewer than k tokens produce no shingles and drop out — they
    have no text signature.

    Not a pure column expression: keeping giant nested HOF expressions out of
    Generate/joins matters — Spark re-evaluates generator input per output row,
    and the column-expression form measured 7× slower on this exact operator.
    """
    sh = shingle_rows(df, id_col, text_col, k)
    # one md5 per shingle ROW; the H family members are cheap arithmetic on its
    # halves (r2: was md5 × H per shingle — 12× the hashing cost for H=12)
    hashed = sh.select(
        "doc",
        F.conv(F.substring(F.md5("s"), 1, 12), 16, 10).cast("long").alias("__a"),
        F.conv(F.substring(F.md5("s"), 13, 12), 16, 10).cast("long").alias("__b"),
    )
    return hashed.groupBy("doc").agg(
        *[
            F.min(
                (F.col("__a") + F.lit(h) * F.col("__b")) % F.lit(MINHASH_P)
            ).alias(f"m{h}")
            for h in range(num_hashes)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    rows_per_band: int = 3,
    k: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b, distinct) via banded MinHash.

    Plan shape at scale: explode to shingle rows → partial-aggregated min-hash
    signatures (one shuffle on doc id) → band keys from plain columns → ONE hash
    shuffle on band_key → per-bucket pairing. No all-pairs comparison ever
    happens; docs only meet if a full band (rows_per_band mins) collides.
    """
    keyed = _band_keyed(df, id_col, text_col, bands, rows_per_band, k)
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(b, on="band_key")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def _band_keyed(
    df: DataFrame, id_col: str, text_col: str, bands: int, rows_per_band: int, k: int
) -> DataFrame:
    """(doc, band_key) rows — the bucketing half of minhash_lsh_candidates,
    shared by the self-join and cross-dataset variants."""
    sig = minhash_signature_table(df, id_col, text_col, bands * rows_per_band, k)
    return band_keys_from_signature(sig, bands, rows_per_band)


def band_keys_from_signature(
    sig: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(doc, band_key) from an ALREADY-COMPUTED signature table (doc,
    m0..m{bands*rows_per_band-1}) — lets several band geometries slice ONE
    corpus hashing pass (the LSH tuning table computes the 12-hash signature
    once and derives every (bands × rows) arrangement from it; recomputing
    signatures per config tripled the dominant shingle+md5 cost)."""
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(b)),
                F.concat_ws(
                    "|",
                    *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)],
                ),
            )
        )
        for b in range(bands)
    ]
    return sig.select("doc", F.explode(F.array(*band_cols)).alias("band_key"))


def minhash_lsh_candidates_cross(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    rows_per_band: int = 3,
    k: int = 3,
) -> DataFrame:
    """Cross-DATASET candidate pairs (left_id, right_id, distinct): a left doc
    meets a right doc iff a full MinHash band collides — the fuzzy-membership
    join behind near-duplicate benchmark decontamination (the D4/Dolma-style
    step that catches paraphrased/templated eval leakage exact n-gram digests
    miss). Same plan shape as the self-join variant: band keys from partial-
    aggregated signatures, ONE equi-shuffle on band_key; the (usually tiny)
    right side's keyed rows broadcast when they fit."""
    a = _band_keyed(left, id_col, text_col, bands, rows_per_band, k)
    b = _band_keyed(right, id_col, text_col, bands, rows_per_band, k)
    return (
        a.join(b.withColumnRenamed("doc", "right_id"), "band_key")
        .select(F.col("doc").alias("left_id"), "right_id")
        .distinct()
    )


# -- SimHash -----------------------------------------------------------------------
def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """(id, simhash) with a `bits`-bit SimHash (bits ≤ 32; uses one md5 hex nibble's
    high bit per position, so up to 32 positions).

    bit i of the hash is 1 iff sum over token occurrences of ±1 (sign = high bit of
    md5(token) nibble i) is positive. Linear: explode + one groupBy(id).
    """
    if not 1 <= bits <= 32:
        raise ValueError("bits must be in [1, 32]")
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok")
    ).withColumn("h", F.md5(F.col("tok")))
    sums = tok.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.substring("h", i + 1, 1) >= "8", 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    value = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        value = bit if value is None else value + bit
    out = sums.select("doc", value.cast("bigint").alias("simhash"))
    # docs with no tokens never explode — give them simhash 0
    ids = df.select(F.col(id_col).alias("doc")).distinct()
    return ids.join(out, "doc", "left").select(
        "doc", F.coalesce("simhash", F.lit(0)).cast("bigint").alias("simhash")
    )


# -- n-gram Jaccard -------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    blocking: list[str] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over distinct word-k-gram sets, for pairs that share a blocking
    key (pass e.g. ["lang"] — NEVER run unblocked at scale: exact Jaccard is the
    verification stage after LSH, not a discovery scan).

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    """
    blocking = blocking or []
    # same four-consumer shape as the containment scan below: pin the
    # shingle frame or the tokenize+explode runs 4x per action (r11 audit)
    sh = materialize(
        shingle_rows(
            df, id_col, text_col, k, extra_cols=tuple(blocking), distinct=True
        )
        .withColumnRenamed("s", "sh")
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    join_cond = [F.col("a.sh") == F.col("b.sh")] + [
        F.col(f"a.{c}") == F.col(f"b.{c}") for c in blocking
    ]
    inter = (
        a.join(b, join_cond)
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    blocking: list[str] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle CONTAINMENT over distinct word-k-gram sets — the
    asymmetric sibling of ngram_jaccard_pairs: C(A→B) = |A∩B| / |A| (Broder's
    containment), which catches doc-IN-doc duplication (a quote, a wrapped
    article) that resemblance misses — a short document fully embedded in a
    long one has Jaccard ≈ |A|/|B| (tiny) but containment 1.0.

    Same blocking contract as the Jaccard scan (pass e.g. ["lang"]; exact
    set intersection is the verification stage after LSH, never an unblocked
    discovery scan — candidate pairs come from the shared-shingle equi-join,
    which is containment-COMPLETE: any pair with |A∩B| >= 1 is a candidate).

    Returns (id_a, id_b, n_a, n_b, inter, cont_a, cont_b) with id_a < id_b,
    for pairs where max(cont_a, cont_b) >= threshold."""
    blocking = blocking or []
    # the shingle frame feeds FOUR consumers (both join sides + both size
    # lookups) — one barrier or the tokenize+shingle explode runs 4x per
    # action (plan audit: 4 corpus scans without it; the funnel lesson)
    sh = materialize(
        shingle_rows(
            df, id_col, text_col, k, extra_cols=tuple(blocking), distinct=True
        )
        .withColumnRenamed("s", "sh")
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    join_cond = [F.col("a.sh") == F.col("b.sh")] + [
        F.col(f"a.{c}") == F.col(f"b.{c}") for c in blocking
    ]
    inter = (
        a.join(b, join_cond)
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("n_b"))
    cont_a = F.round(F.col("inter") / F.col("n_a").cast("double"), 6)
    cont_b = F.round(F.col("inter") / F.col("n_b").cast("double"), 6)
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("inter").cast("bigint").alias("inter"),
            cont_a.alias("cont_a"),
            cont_b.alias("cont_b"),
        )
        .filter(F.greatest(F.col("cont_a"), F.col("cont_b")) >= threshold)
    )


# -- embedding-cosine near-dup ---------------------------------------------------------
def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """(vid, cell, is_dup): a vector is a duplicate iff some SMALLER-id vector in
    the same cell has cosine >= threshold — the standard keep-first near-dup rule,
    over embeddings instead of text.

    Scale shape: candidate pairs come from an equi-join on the cell (IVF cell or
    LSH bucket — callers at 100 TB pass `lsh_bucket(...)` as cell_col), never a
    full cross join; the final flag is a left join against the distinct dup set.
    Cosine is rounded to 6dp BEFORE thresholding so the decision is reproducible
    bit-for-bit across engines.
    """
    from movie_genre_data_pipeline_spark.functions.similarity import (
        _as_double,
        dot,
        norm,
    )

    base = df.select(
        F.col(id_col).alias("vid"),
        _as_double(vec_col).alias("v"),
        F.col(cell_col).alias("cell"),
    ).withColumn("n", norm(F.col("v")))  # once per vector, not per pair
    a = base.alias("a")
    b = base.alias("b")
    dups = (
        a.join(b, on=[F.col("a.cell") == F.col("b.cell"),
                      F.col("b.vid") < F.col("a.vid")])
        .filter(
            F.round(
                dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 6
            )
            >= threshold
        )
        .select(F.col("a.vid").alias("vid"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return base.join(dups, "vid", "left").select(
        "vid", "cell", F.coalesce("is_dup", F.lit(False)).alias("is_dup")
    )


# -- duplicate clustering (connected components) ---------------------------------------
def duplicate_clusters(
    all_docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 25,
) -> DataFrame:
    """(doc_id, cluster_id) — connected components over near-dup candidate pairs
    (e.g. `minhash_lsh_candidates` output with columns id_a < id_b), so an entire
    chain a~b~c collapses to ONE cluster keyed by its minimum doc id. Singleton
    docs are their own cluster.

    Iterative min-label propagation: per round every node takes the min of its
    own label and its neighbors' labels; converges in O(graph diameter) rounds.
    Each round is one equi-join + one aggregate (shuffles on node id), and the
    frame is checkpointed to truncate lineage — the standard Spark shape
    for iterative algorithms (no exponential plan growth, spill-safe). This is a
    genuinely non-SQL-expressible operator batch-side; the DuckDB oracle uses a
    recursive CTE instead.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    labels = materialize(
        all_docs.select(
            F.col(id_col).alias("node"), F.col(id_col).alias("lbl")
        ),
        eager=True,
    )

    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = materialize(
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias("lbl"),
            ),
            eager=True,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias(id_col), F.col("lbl").alias("cluster_id")
    )


def incremental_dedup(
    new_batch: DataFrame,
    history: DataFrame,
    id_col: str,
    text_col: str,
    history_fp_col: str | None = None,
) -> DataFrame:
    """Incremental corpus ingestion dedup: drop new-batch docs whose normalized
    fingerprint already exists in the historical corpus, then exact-dedup within
    the batch itself (lowest id wins). The day-2 operation of every training
    corpus: "only keep documents we have never seen".

    Scale: the history side reduces to DISTINCT fingerprints — at 100 TB this is
    a co-keyed LEFT ANTI shuffle join on the 128-bit fingerprint (balanced by
    construction). In steady state you'd bucket/persist the history fingerprint
    table on fp so the daily batch join is shuffle-free on the history side; the
    within-batch pass is the usual one-shuffle window.

    `history_fp_col` names an already-materialized fingerprint column on the
    history side (the ledger pattern: history persists fingerprints, not text,
    so re-ingestion never re-hashes the whole corpus); None re-derives
    fingerprints from the history's text column."""
    if history_fp_col is not None:
        hist_fp = history.select(F.col(history_fp_col).alias("fp")).distinct()
    else:
        hist_fp = history.select(fingerprint(text_col).alias("fp")).distinct()
    fresh = (
        new_batch.withColumn("fp", fingerprint(text_col))
        .join(hist_fp, "fp", "left_anti")
    )
    return exact_dedup(fresh, id_col, text_col)


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    max_df: int | None = None,
    min_shared: int = 1,
) -> DataFrame:
    """Local-overlap candidate pairs from winnowing fingerprints (the MOSS
    index consumer, Schleimer/Wilkerson/Aiken SIGMOD'03): two documents pair
    up iff they share >= `min_shared` selected fingerprints, i.e. iff they
    share runs of >= w+k-1 tokens. This catches partial plagiarism/quotation
    that whole-document digests (`exact_dedup`) miss entirely and that
    MinHash (`minhash_lsh_candidates`) only approximates at whole-document
    Jaccard granularity.

    Output: (id_a, id_b, n_shared, share_ratio) with id_a < id_b;
    share_ratio = n_shared / min(|fp(a)|, |fp(b)|) — the containment-style
    ratio, so a short quote embedded in a long document still scores high.

    Scale shape: the index is the ~2/(w+1)-density posting table from
    `winnow_fingerprints` (one doc-key shuffle); pair generation is ONE
    equi-join on the 48-bit fingerprint — docs only meet inside a posting
    list. `max_df` drops stop-fingerprints (boilerplate shared by more than
    max_df docs) BEFORE the self-join, bounding every posting list and hence
    the candidate count at n_fingerprints * max_df^2 — the same discipline as
    LSH band buckets. Denominators use the PRE-cap per-doc fingerprint counts
    so the ratio stays a true share of each document's index."""
    from movie_genre_data_pipeline_spark.functions.text import winnow_fingerprints

    fps = winnow_fingerprints(df, id_col, text_col, k=k, w=w)
    sizes = fps.groupBy("doc").agg(F.count(F.lit(1)).cast("bigint").alias("n_fp"))
    post = fps
    if max_df is not None:
        keep = (
            fps.groupBy("h48")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("h48")
        )
        post = fps.join(keep, "h48")
    a = post.select(F.col("doc").alias("id_a"), "h48")
    b = post.select(F.col("doc").alias("id_b"), "h48")
    inter = (
        a.join(b, "h48")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        inter.join(sizes.withColumnRenamed("doc", "id_a"), "id_a")
        .withColumnRenamed("n_fp", "__na")
        .join(sizes.withColumnRenamed("doc", "id_b"), "id_b")
        .withColumnRenamed("n_fp", "__nb")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(
                F.col("n_shared") / F.least("__na", "__nb").cast("double"), 6
            ).alias("share_ratio"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    l: int = 8,
) -> DataFrame:
    """Span-level (substring) duplication report — the Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better") operation
    the doc-level MinHash/SimHash family cannot express: a document that is
    globally unique can still contain long token runs copied from elsewhere
    in the corpus, and those runs are what the LM memorizes.

    Every length-`l` token window is hashed (md5 48-bit, the winnowing
    idiom); a window whose hash occurs ≥ 2 times ANYWHERE in the corpus
    (other documents or a repeat within its own) marks tokens [i, i+l) as
    duplicated; per document the marked windows are merged into maximal
    spans by gaps-and-islands and the report row is

        (doc_id, n_tokens, n_dup_spans, dup_tokens, dup_fraction)

    with dup_tokens = exact union length of the marked windows. Documents
    shorter than `l` tokens carry zeros (nothing long enough to match).

    Scale shape: ONE position-explode (n grams per doc — the shingle_rows
    discipline), one shuffle on the gram hash (corpus occurrence counts via
    a SUM window — no join-back re-derivation), one shuffle on the doc key
    for the ordered island merge. All counts/positions are integers, so the
    report is accumulation-order-free; no pairwise joins anywhere — cost is
    linear in corpus tokens at any scale, unlike the suffix-array
    construction it approximates (same guarantees for duplicates of length
    ≥ 2l−1; length-l..2l−2 runs are caught iff window-aligned)."""
    from pyspark.sql import Window

    from movie_genre_data_pipeline_spark.functions.text import tokens

    if l < 1:
        raise ValueError(f"l must be >= 1, got {l}")
    toks = df.select(F.col(id_col).alias("doc"), tokens(text_col).alias("__toks"))
    base = toks.select("doc", F.size("__toks").cast("bigint").alias("n_tokens"))
    grams = (
        toks.filter(F.size("__toks") >= l)
        .select(
            "doc",
            F.size("__toks").cast("bigint").alias("n_tokens"),
            "__toks",
            F.explode(F.sequence(F.lit(1), F.size("__toks") - F.lit(l - 1))).alias(
                "i"
            ),
        )
        .select(
            "doc",
            "n_tokens",
            "i",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice("__toks", F.col("i"), l))), 1, 12
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("h48"),
        )
    )
    return duplicate_spans_from_grams(grams.select("doc", "i", "h48"), base, l)


def duplicate_spans_from_grams(grams: DataFrame, base: DataFrame, l: int) -> DataFrame:
    """The gram-table form of `duplicate_spans`: `grams` is (doc, i, h48)
    window postings (however they were accumulated — one batch scan or a
    streaming append ledger) and `base` is (doc, n_tokens); same occurrence
    window + island merge + report as the text form. This is what makes the
    span report CONTINUOUSLY maintainable: gram postings are append-only
    facts, so a streaming ledger folds into the identical report."""
    from pyspark.sql import Window

    occ = F.count(F.lit(1)).over(Window.partitionBy("h48"))
    dup = grams.withColumn("occ", occ).filter(F.col("occ") >= 2)
    # gaps-and-islands over window starts: a new island begins where the
    # current start exceeds the furthest end seen so far (end = i + l).
    byd = Window.partitionBy("doc").orderBy(F.col("i").asc())
    run = (
        dup.withColumn(
            "prev_max_end",
            F.max(F.col("i") + F.lit(l)).over(byd.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_max_end").isNull()
                | (F.col("i") > F.col("prev_max_end")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("new_island").over(byd))
    )
    islands = run.groupBy("doc", "island").agg(
        (F.max(F.col("i") + F.lit(l)) - F.min("i")).cast("bigint").alias("span_len")
    )
    rep = islands.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
        F.sum("span_len").cast("bigint").alias("dup_tokens"),
    )
    return (
        base.join(rep, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("dup_tokens", F.lit(0)).cast("double")
                    / F.col("n_tokens").cast("double"),
                    6,
                )
            )
            .alias("dup_fraction"),
        )
    )


def span_scrub(df: DataFrame, id_col: str, text_col: str, l: int = 8) -> DataFrame:
    """APPLY the Lee et al. span report (r9): remove every token covered by a
    duplicated length-`l` window and reassemble the surviving text — the
    masking pass `duplicate_spans` only measures. Same gram discipline (one
    position explode, one hash-keyed occurrence window); the marked-position
    set explodes each duplicated window into its l covered positions (volume
    ≤ l × duplicated grams, linear), survivors re-assemble per document with
    an ordered array fold (positions are unique so the sort is total). The
    report row is (doc_id, n_tokens, kept_tokens, scrubbed_md5) — the hash
    stands in for the rewritten text so the result stays bounded and
    cross-engine comparable."""
    from pyspark.sql import Window

    from movie_genre_data_pipeline_spark.functions.text import tokens

    if l < 1:
        raise ValueError(f"l must be >= 1, got {l}")
    toks = df.select(F.col(id_col).alias("doc"), tokens(text_col).alias("__toks"))
    base = toks.select("doc", F.size("__toks").cast("bigint").alias("n_tokens"))
    grams = (
        toks.filter(F.size("__toks") >= l)
        .select(
            "doc",
            "__toks",
            F.explode(F.sequence(F.lit(1), F.size("__toks") - F.lit(l - 1))).alias(
                "i"
            ),
        )
        .select(
            "doc",
            "i",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice("__toks", F.col("i"), l))), 1, 12
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("h48"),
        )
    )
    occ = F.count(F.lit(1)).over(Window.partitionBy("h48"))
    dup = grams.withColumn("occ", occ).filter(F.col("occ") >= 2)
    marked = dup.select(
        "doc",
        F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(l - 1))).alias("p"),
    ).distinct()
    pos = toks.select(
        "doc", F.posexplode("__toks").alias("p0", "tok")
    ).select("doc", (F.col("p0") + F.lit(1)).alias("p"), "tok")
    kept = pos.join(marked, ["doc", "p"], "left_anti")
    scrub = kept.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            )
        ).alias("scrubbed_md5"),
    )
    return base.join(scrub, "doc", "left").select(
        F.col("doc").alias("doc_id"),
        "n_tokens",
        F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("kept_tokens"),
        F.coalesce(F.col("scrubbed_md5"), F.md5(F.lit(""))).alias("scrubbed_md5"),
    )
