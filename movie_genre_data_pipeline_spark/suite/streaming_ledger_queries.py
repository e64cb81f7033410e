"""Continuous model-fitting & text-ledger streaming twins (r7-r10
wave), split out of streaming_queries.py (r15, VERDICT r14 #6). Each
twin streams its source through suite/_twin.run_twin. Streaming
OLS/ridge Gram ledgers, EWMA, gold-mart IVM, importance weights,
duplicate spans, trainset funnel, PCA moments, surprisal, BM25 postings,
AMS, Heaps, packing, RRF, Zipf, shard balance, retention policy,
k-anonymity, entropy, and pHash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.streaming.ledger import fold_ledger
from movie_genre_data_pipeline_spark.suite import QuerySpec
from movie_genre_data_pipeline_spark.suite._twin import run_twin, workspace
from movie_genre_data_pipeline_spark.suite.cdc_queries import Q_K_ANONYMITY_ORACLE
from movie_genre_data_pipeline_spark.suite.curation_queries import (
    _surprisal_filter_oracle,
)
from movie_genre_data_pipeline_spark.suite.dedup_queries import _duplicate_spans_oracle
from movie_genre_data_pipeline_spark.suite.multimodal_queries import (
    Q_MEDIA_SHARD_BALANCE_ORACLE,
    _phash_oracle,
)
from movie_genre_data_pipeline_spark.suite.pipeline_queries import (
    Q_GOLD_LANGUAGE_REVENUE_IVM_ORACLE,
)
from movie_genre_data_pipeline_spark.suite.sampling_queries import (
    Q_FEAT_MUTUAL_INFO_ORACLE,
    Q_SAMPLE_PACK_EFFICIENCY_ORACLE,
    _feat_ols_oracle,
    _feat_ridge_oracle,
    _importance_select_oracle,
    _pca_oracle,
    _trainset_funnel_oracle,
)
from movie_genre_data_pipeline_spark.suite.sketch_queries import Q_AMS_JOIN_SIZE_ORACLE
from movie_genre_data_pipeline_spark.suite.text_queries import (
    Q_BIGRAM_SURPRISAL_ORACLE,
    Q_BM25_TOPK_ORACLE,
    Q_HEAPS_VOCAB_GROWTH_ORACLE,
    Q_JS_DIVERGENCE_ORACLE,
    Q_RRF_FUSION_ORACLE,
    Q_UNIGRAM_ENTROPY_ORACLE,
    Q_ZIPF_FIT_ORACLE,
)
from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
    Q_RETENTION_POLICY_ORACLE,
    Q_TS_EWMA_ORACLE,
)

QUERIES: dict[str, QuerySpec] = {}

# -- continuous model fitting: streaming OLS via the Gram ledger (r7) -------------------
def q_stream_ols_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The always-current regression readout: each micro-batch appends its
    PARTIAL Gram/moment row (exact-integer sums over just that batch's
    orders) to a ledger; the reader folds by component-wise re-sum and runs
    the shared Cramer solve on the fold. Additive integer state makes the
    fold batch-split- and order-independent, so the continuous fit equals the
    batch fit bit-for-bit and SHARES the batch oracle verbatim — the simplest
    possible streaming-ML state: d²+d numbers per batch, no state store."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        ols_gram,
        ols_solve_micro,
    )
    from movie_genre_data_pipeline_spark.suite import load

    base = workspace("stream_ols_")
    ledger = f"{base}/ledger"
    o = load(spark, sf_dir, "orders")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        ols_gram(batch_df, "x1", "x2", "y").write.mode("append").parquet(ledger)

    run_twin(
        o.select(
            (F.col("o_orderkey") % 180 + 60).cast("bigint").alias("x1"),
            (F.col("o_custkey") % 25).cast("bigint").alias("x2"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
        ),
        apply_batch,
        base,
    )

    folded = fold_ledger(
        spark.read.parquet(ledger),
        [],
        ["n_rows", "sx1", "sx2", "sy", "s11", "s12", "s22", "s1y", "s2y"],
    )
    return ols_solve_micro(folded)


QUERIES["stream_ols_normal_eq"] = QuerySpec(q_stream_ols_normal_eq, _feat_ols_oracle())


def q_stream_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous exponential smoothing — the first RECENCY-WEIGHTED member
    of the streaming-ledger family, and the one whose fold is inherently
    ORDER-SENSITIVE (unlike the additive/presence ledgers): batches must
    arrive in time order, which the twin guarantees by streaming one
    time-range bucket per single-batch run, in order —
    "in-order delivery" is the contract a log-compacted topic or
    time-partitioned landing zone provides in production. State per series
    is BOUNDED: the (EWMA_LAGS−1)-row value tail (the only history the next
    batch's lag window needs), the running global row count (so the
    full-window rn≥16 rule matches the batch query), and the additive
    digest (n/min/max/last). Each batch prepends the carried tail, runs the
    SAME 16-lag integer window, digests only its own full-window rows, and
    writes back the new tail. The final digest equals the batch smoother
    bit-for-bit — shares ts_ewma_events' oracle verbatim."""
    from movie_genre_data_pipeline_spark.fsutil import vacuum_generations
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        _EWMA_FP_SQL,
        _EWMA_OVER,
        EWMA_LAGS,
    )

    base_dir = workspace("stream_ts_ewma_")
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    # event_id is assigned in ts order in the fixture tables, so id-range
    # buckets are time-range buckets
    cuts = base.selectExpr(
        "percentile_approx(event_id, 0.34) AS c1",
        "percentile_approx(event_id, 0.67) AS c2",
    ).collect()[0]
    buckets = (
        F.col("event_id") <= cuts["c1"],
        (F.col("event_id") > cuts["c1"]) & (F.col("event_id") <= cuts["c2"]),
        F.col("event_id") > cuts["c2"],
    )

    gen = {"n": 0}
    empty_tail = spark.createDataFrame(
        [], "event_type string, ts timestamp, event_id bigint, v bigint, base_rn bigint"
    )
    empty_digest = spark.createDataFrame(
        [],
        "event_type string, n_points bigint, ewma_min_fp bigint,"
        " ewma_max_fp bigint, ewma_last_fp bigint, last_rn bigint",
    )
    empty_tail.write.parquet(f"{base_dir}/tail_0")
    empty_digest.write.parquet(f"{base_dir}/digest_0")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        tail = spark.read.parquet(f"{base_dir}/tail_{gen['n']}")
        digest = spark.read.parquet(f"{base_dir}/digest_{gen['n']}")
        # global row offset per series = max base_rn carried on the tail
        merged = tail.unionByName(
            batch_df.withColumn("base_rn", F.lit(None).cast("bigint"))
        )
        smoothed = merged.selectExpr(
            "event_type",
            "ts",
            "event_id",
            "v",
            "base_rn",
            f"{_EWMA_FP_SQL} AS ewma_fp",
            f"ROW_NUMBER() {_EWMA_OVER} AS local_rn",
        )
        # rebase to global row numbers: tail rows carry their global rn
        offset = smoothed.groupBy("event_type").agg(
            F.coalesce(F.max("base_rn"), F.lit(0)).alias("off"),
            F.coalesce(F.count("base_rn"), F.lit(0)).alias("n_tail"),
        )
        glob = smoothed.join(F.broadcast(offset), "event_type").withColumn(
            "rn", F.col("local_rn") - F.col("n_tail") + F.col("off")
        )
        fresh = glob.filter(F.col("base_rn").isNull())
        contrib = fresh.filter(F.col("rn") >= EWMA_LAGS).groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("ewma_fp").cast("bigint").alias("ewma_min_fp"),
            F.max("ewma_fp").cast("bigint").alias("ewma_max_fp"),
            F.expr("MAX_BY(ewma_fp, rn)").cast("bigint").alias("ewma_last_fp"),
            F.max("rn").cast("bigint").alias("last_rn"),
        )
        folded = (
            digest.unionByName(contrib)
            .groupBy("event_type")
            .agg(
                F.sum("n_points").cast("bigint").alias("n_points"),
                F.min("ewma_min_fp").cast("bigint").alias("ewma_min_fp"),
                F.max("ewma_max_fp").cast("bigint").alias("ewma_max_fp"),
                F.expr("MAX_BY(ewma_last_fp, last_rn)")
                .cast("bigint")
                .alias("ewma_last_fp"),
                F.max("last_rn").cast("bigint").alias("last_rn"),
            )
        )
        from pyspark.sql import Window

        wdesc = Window.partitionBy("event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        new_tail = (
            glob.withColumn("__k", F.row_number().over(wdesc))
            .filter(F.col("__k") <= EWMA_LAGS - 1)
            .select("event_type", "ts", "event_id", "v", F.col("rn").alias("base_rn"))
        )
        gen["n"] += 1
        new_tail.write.parquet(f"{base_dir}/tail_{gen['n']}")
        folded.write.parquet(f"{base_dir}/digest_{gen['n']}")
        vacuum_generations(base_dir, "tail", keep=2)
        vacuum_generations(base_dir, "digest", keep=2)

    # one single-batch run per time-range bucket, in time order
    for i, cond in enumerate(buckets):
        run_twin(base.filter(cond), apply_batch, f"{base_dir}/feed_{i}", 1)
    return spark.read.parquet(f"{base_dir}/digest_{gen['n']}").select(
        "event_type", "n_points", "ewma_min_fp", "ewma_max_fp", "ewma_last_fp"
    )


QUERIES["stream_ts_ewma"] = QuerySpec(q_stream_ts_ewma, Q_TS_EWMA_ORACLE)


def q_stream_ridge_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The regularization path maintained continuously at ZERO extra state:
    the per-batch partial-Gram ledger stream_ols_normal_eq appends already
    contains everything any λ needs — the λ grid explodes the FOLDED Gram on
    read and the shared Cramer expressions solve each penalized system as a
    projection. Refitting the whole path after new data costs one
    ledger-sized re-sum, never a data rescan; shares feat_ridge_path's batch
    oracle verbatim."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        ols_gram,
        ols_solve_micro,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        RIDGE_LAMBDAS,
    )

    base = workspace("stream_ridge_")
    ledger = f"{base}/ledger"
    o = load(spark, sf_dir, "orders")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        ols_gram(batch_df, "x1", "x2", "y").write.mode("append").parquet(ledger)

    run_twin(
        o.select(
            (F.col("o_orderkey") % 180 + 60).cast("bigint").alias("x1"),
            (F.col("o_custkey") % 25).cast("bigint").alias("x2"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
        ),
        apply_batch,
        base,
    )

    folded = fold_ledger(
        spark.read.parquet(ledger),
        [],
        ["n_rows", "sx1", "sx2", "sy", "s11", "s12", "s22", "s1y", "s2y"],
    )
    lam = folded.select(
        F.explode(
            F.array(*[F.lit(int(l)).cast("bigint") for l in RIDGE_LAMBDAS])
        ).alias("lam"),
        "*",
    )
    penalized = lam.select(
        "lam",
        "n_rows",
        "sx1",
        "sx2",
        "sy",
        (F.col("s11") + F.col("lam")).alias("s11"),
        "s12",
        (F.col("s22") + F.col("lam")).alias("s22"),
        "s1y",
        "s2y",
    )
    return ols_solve_micro(penalized, group_cols=("lam",))


QUERIES["stream_ridge_path"] = QuerySpec(q_stream_ridge_path, _feat_ridge_oracle())


# -- continuous refresh of the second gold mart (r8) -----------------------------------
def q_stream_gold_language_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming language-mart refresh — the scalar-FK twin of
    `stream_gold_ivm`: the CDC feed (inserts, deletes, reprices, and
    language MOVES) arrives as arbitrary micro-batches and foreachBatch folds
    each batch's signed contributions into the persisted additive state
    (versioned parquet generations). Additive integral state ⇒ the fold is
    batch-split- and order-independent and the final mart equals the batch
    rebuild bit-for-bit — shares gold_language_revenue_ivm's oracle
    verbatim."""
    from movie_genre_data_pipeline_spark.operators.cdc import snapshot_diff
    from movie_genre_data_pipeline_spark.plans.gold import (
        LANGUAGE,
        apply_delta,
        build_state,
        finalize,
    )
    from movie_genre_data_pipeline_spark.suite.pipeline_queries import (
        _gold_language_dim,
        _gold_language_movies,
    )

    base_dir = workspace("stream_gold_lang_ivm_")
    base = _gold_language_movies(spark, sf_dir)
    dim_df = _gold_language_dim(spark, sf_dir)
    snap_a = base.filter(F.col("Id") % 101 != 0)
    snap_b = (
        base.filter(F.col("Id") % 97 != 0)
        .withColumn(
            "Revenue",
            F.when(
                F.col("Id") % 13 == 0,
                F.expr(
                    "CAST((CAST(ROUND(Revenue * 100) AS BIGINT) * 11 + 5) DIV 10 AS DOUBLE) / 100.0"
                ),
            ).otherwise(F.col("Revenue")),
        )
        .withColumn(
            "Language_Id",
            F.when(
                F.col("Id") % 11 == 0,
                ((F.col("Language_Id") + 1) % 5).cast("INTEGER"),
            ).otherwise(F.col("Language_Id")),
        )
    )
    changes = snapshot_diff(
        snap_a, snap_b, ["Id"], ["Revenue", "Budget", "RunTime", "Language_Id"]
    ).filter(F.col("change_type") != "unchanged")

    gen = {"n": 0}
    build_state(LANGUAGE, snap_a, dim_df).write.parquet(
        f"{base_dir}/state_0"
    )
    dim = dim_df.localCheckpoint(eager=True)  # reused every micro-batch

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from movie_genre_data_pipeline_spark.fsutil import vacuum_generations

        prev = spark.read.parquet(f"{base_dir}/state_{gen['n']}")
        nxt = apply_delta(LANGUAGE, prev, batch_df, dim)
        gen["n"] += 1
        nxt.write.parquet(f"{base_dir}/state_{gen['n']}")
        vacuum_generations(base_dir, "state", keep=2)

    run_twin(changes, apply_batch, base_dir, 3)
    state = spark.read.parquet(f"{base_dir}/state_{gen['n']}")
    return finalize(LANGUAGE, state)


QUERIES["stream_gold_language_ivm"] = QuerySpec(
    q_stream_gold_language_ivm, Q_GOLD_LANGUAGE_REVENUE_IVM_ORACLE
)


def q_stream_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained DSIR selection: each micro-batch of documents
    appends three ADDITIVE partials — the doc dimension, its (doc, bucket)
    term postings, and its bucket-model counts — and the readout folds them
    into the identical per-source selection report the batch query computes
    (shares `_importance_select_oracle` verbatim). Additivity does the work:
    bucket counts and postings are exact integer sums, so the fold is
    batch-split- and order-independent, and the model stays current without
    ever re-scanning history. The one non-incremental step is the log-ratio
    table — recomputed per readout, but it's ≤ n_buckets rows, so the
    refresh costs O(buckets), not O(corpus)."""
    from movie_genre_data_pipeline_spark.functions.sampling import (
        dsir_bucket_model,
        dsir_fold_scores,
        dsir_postings,
        dsir_term_buckets,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import DSIR_BUCKETS

    b = DSIR_BUCKETS
    base = workspace("stream_dsir_")
    led_doc, led_tf, led_bkt = f"{base}/docs", f"{base}/tf", f"{base}/buckets"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select("doc_id", "source").write.mode("append").parquet(led_doc)
        terms = dsir_term_buckets(
            batch_df, "doc_id", "text", (F.col("lang") == "en"), b
        )
        dsir_postings(terms).write.mode("append").parquet(led_tf)
        dsir_bucket_model(terms).write.mode("append").parquet(led_bkt)

    run_twin(d.select("doc_id", "text", "lang", "source"), apply_batch, base)

    buckets = fold_ledger(spark.read.parquet(led_bkt), ["bucket"], ["raw_c", "tgt_c"])
    tf = fold_ledger(spark.read.parquet(led_tf), ["doc_id", "bucket"], ["tf"])
    scored = dsir_fold_scores(tf, buckets, b).select("doc_id", "logw_micro")
    rep = (
        spark.read.parquet(led_doc)
        .join(scored, "doc_id", "left")
        .select(
            "source",
            F.coalesce("logw_micro", F.lit(0)).cast("bigint").alias("logw_micro"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("logw_micro") > 0, F.lit(1)).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_selected"),
            F.sum(
                F.when(F.col("logw_micro") > 0, F.col("logw_micro")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("sel_logw_micro"),
        )
    )
    return rep.select(
        "source",
        "n_docs",
        "n_selected",
        F.round(F.col("n_selected").cast("double") / F.col("n_docs"), 6).alias(
            "sel_rate"
        ),
        F.when(
            F.col("n_selected") > 0,
            F.round(
                F.col("sel_logw_micro").cast("double")
                / F.lit(1e6)
                / F.col("n_selected"),
                6,
            ),
        ).alias("avg_sel_logw"),
    )


QUERIES["stream_importance_weights"] = QuerySpec(
    q_stream_importance_weights, _importance_select_oracle()
)


def _span_gram_postings(batch_df: DataFrame, l: int) -> DataFrame:
    """(doc, i, h48): one length-`l` token-window posting per position — the
    append-only FACT a micro-batch contributes to a span-dedup ledger. Pure
    per-document projection (computable at arrival); the corpus-global
    occurrence decision folds over the accumulated postings at readout
    (functions/dedup.duplicate_spans_from_grams). Same md5-48-bit window
    hash as the batch operator, so ledger readouts share its oracle."""
    from movie_genre_data_pipeline_spark.functions.text import tokens

    toks = batch_df.select(
        F.col("doc_id").alias("doc"), tokens("text").alias("__toks")
    )
    return (
        toks.filter(F.size("__toks") >= l)
        .select(
            "doc",
            "__toks",
            F.explode(
                F.sequence(F.lit(1), F.size("__toks") - F.lit(l - 1))
            ).alias("i"),
        )
        .select(
            "doc",
            "i",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice("__toks", F.col("i"), l))),
                    1,
                    12,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("h48"),
        )
    )


def q_stream_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous span-level dedup (verdict r8 #7) — the streaming twin of
    dedup_duplicate_spans, decomposed by the suite's streaming rule:
    scan-local per-row stats (token counts) decide at ARRIVAL; the
    corpus-global gram-occurrence statistic appends additive FACTS (the
    (doc, i, h48) window postings) and decides at READOUT. Each micro-batch
    appends its doc-dim rows and gram postings; the readout runs the
    occurrence window + gaps-and-islands merge over the accumulated ledger
    (functions/dedup.duplicate_spans_from_grams) and emits the IDENTICAL
    per-document report as the batch operator — shared oracle verbatim,
    micro-batch-split invariance pinned in
    tests/test_stream_split_invariance.py."""
    from movie_genre_data_pipeline_spark.functions.dedup import (
        duplicate_spans_from_grams,
    )
    from movie_genre_data_pipeline_spark.functions.text import token_count
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.dedup_queries import DUP_SPAN_L

    base = workspace("stream_spans_")
    led_doc, led_gram = f"{base}/docs", f"{base}/grams"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(
            "doc_id", token_count("text").alias("n_tokens")
        ).write.mode("append").parquet(led_doc)
        _span_gram_postings(batch_df, DUP_SPAN_L).write.mode("append").parquet(
            led_gram
        )

    run_twin(d.select("doc_id", "text"), apply_batch, base)

    docs = spark.read.parquet(led_doc)
    return duplicate_spans_from_grams(
        spark.read.parquet(led_gram),
        docs.select(F.col("doc_id").alias("doc"), "n_tokens"),
        DUP_SPAN_L,
    )


QUERIES["stream_duplicate_spans"] = QuerySpec(
    q_stream_duplicate_spans, _duplicate_spans_oracle()
)


def q_stream_trainset_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous curation: the whole trainset funnel maintained from
    append-only ledgers. Each micro-batch of documents appends (a) its doc
    ledger row — doc_id, whitespace token count, and the scan-local quality
    score (both pure per-doc projections, computable the moment the doc
    arrives); (b) its length-6 gram postings (doc, i, h48); and (c) the two
    DSIR partials (term postings + bucket-model counts). The readout folds
    the ledgers — occurrence window + island merge over the gram postings,
    bucket-model ratios over the DSIR partials — rebuilds the scored flags,
    and emits the IDENTICAL 7-row funnel manifest as the batch query
    (shared oracle verbatim). Corpus-global statistics (gram occurrence,
    bucket models) are exactly the parts a per-batch filter CANNOT decide;
    storing their additive facts and deciding at readout is what makes the
    continuous funnel equal the batch funnel bit-for-bit."""
    from movie_genre_data_pipeline_spark.functions.dedup import (
        duplicate_spans_from_grams,
    )
    from movie_genre_data_pipeline_spark.functions.sampling import (
        dsir_bucket_model,
        dsir_fold_scores,
        dsir_postings,
        dsir_term_buckets,
    )
    from movie_genre_data_pipeline_spark.functions.text import (
        quality_score,
        token_count,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        DSIR_BUCKETS,
        FUNNEL_DSIR_MIN_MICRO,
        FUNNEL_DUP_MAX,
        FUNNEL_QUALITY_MIN,
        _funnel_report,
    )

    b = DSIR_BUCKETS
    base = workspace("stream_funnel_")
    led_doc, led_gram = f"{base}/docs", f"{base}/grams"
    led_tf, led_bkt = f"{base}/tf", f"{base}/buckets"
    d = load(spark, sf_dir, "documents")

    L = 6

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(
            "doc_id",
            token_count("text").alias("n_tokens"),
            quality_score("text").alias("quality"),
        ).write.mode("append").parquet(led_doc)
        _span_gram_postings(batch_df, L).write.mode("append").parquet(led_gram)
        terms = dsir_term_buckets(
            batch_df, "doc_id", "text", (F.col("lang") == "en"), b
        )
        dsir_postings(terms).write.mode("append").parquet(led_tf)
        dsir_bucket_model(terms).write.mode("append").parquet(led_bkt)

    run_twin(d.select("doc_id", "text", "lang"), apply_batch, base)

    docs = spark.read.parquet(led_doc)
    spans = duplicate_spans_from_grams(
        spark.read.parquet(led_gram),
        docs.select(F.col("doc_id").alias("doc"), "n_tokens"),
        L,
    ).select("doc_id", "dup_fraction")
    buckets = fold_ledger(spark.read.parquet(led_bkt), ["bucket"], ["raw_c", "tgt_c"])
    tf = fold_ledger(spark.read.parquet(led_tf), ["doc_id", "bucket"], ["tf"])
    w = dsir_fold_scores(tf, buckets, b)
    scored = (
        docs.join(spans, "doc_id")
        .join(w.select("doc_id", "logw_micro"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("dup_fraction") < F.lit(FUNNEL_DUP_MAX)).alias("s2"),
            (
                (F.col("dup_fraction") < F.lit(FUNNEL_DUP_MAX))
                & (F.col("quality") >= F.lit(FUNNEL_QUALITY_MIN))
            ).alias("s3"),
            (
                (F.col("dup_fraction") < F.lit(FUNNEL_DUP_MAX))
                & (F.col("quality") >= F.lit(FUNNEL_QUALITY_MIN))
                & (
                    F.coalesce("logw_micro", F.lit(0))
                    > F.lit(FUNNEL_DSIR_MIN_MICRO)
                )
            ).alias("s4"),
        )
        .localCheckpoint(eager=False)
    )
    from movie_genre_data_pipeline_spark.suite.sampling_queries import _funnel_report

    return _funnel_report(scored)


QUERIES["stream_trainset_funnel"] = QuerySpec(
    q_stream_trainset_funnel, _trainset_funnel_oracle()
)


def q_stream_pca_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained PCA: each micro-batch appends its partial
    exact-integer moment row (n, Σx_i, Σx_i·x_j — the d²-sized ledger the
    covariance derives from); the reader folds by component-wise re-sum and
    runs the identical scan-free power iterations, so the continuous top
    component equals the batch fit bit-for-bit and shares feat_pca_power's
    oracle verbatim. The cheapest possible streaming-ML state: 15 numbers
    per batch."""
    from movie_genre_data_pipeline_spark.functions.regression import (
        PCA_D,
        pca_moments,
        pca_power_from_moments,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        _PCA_FEATS,
        PCA_ITERS,
    )

    base = workspace("stream_pca_")
    ledger = f"{base}/ledger"
    o = load(spark, sf_dir, "orders")

    cols = [n for n, _ in _PCA_FEATS]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        pca_moments(batch_df, cols).write.mode("append").parquet(ledger)

    run_twin(
        o.selectExpr(
            *[f"CAST({expr} AS BIGINT) AS {name}" for name, expr in _PCA_FEATS]
        ),
        apply_batch,
        base,
    )

    names = [f"s{i}" for i in range(1, PCA_D + 1)] + [
        f"s{i}{j}" for i in range(1, PCA_D + 1) for j in range(i, PCA_D + 1)
    ]
    folded = fold_ledger(spark.read.parquet(ledger), [], ["n_rows", *names])
    return pca_power_from_moments(folded, iters=PCA_ITERS)


QUERIES["stream_pca_moments"] = QuerySpec(q_stream_pca_moments, _pca_oracle())


def q_stream_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous bigram-LM scoring (r9) — the ledger twin of
    text_bigram_surprisal under the suite's streaming decomposition: a
    document's bigram and unigram frequencies are pure per-row projections
    (computable at ARRIVAL), but the MODEL they score against — corpus bigram
    counts, left-context totals, the unigram distribution — is corpus-global,
    so each micro-batch appends its additive count FACTS and the conditional
    probabilities fold at READOUT (functions/text.bigram_surprisal_from_counts,
    the same tail the batch query runs). Shared oracle verbatim; split
    invariance pinned in tests/test_stream_split_invariance.py."""
    from movie_genre_data_pipeline_spark.functions.text import (
        bigram_surprisal_from_counts,
    )
    from movie_genre_data_pipeline_spark.suite import load

    base = workspace("stream_bigram_")
    led_bf, led_uni = f"{base}/bf", f"{base}/uni"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        bigram_ledger_append(batch_df, led_bf, led_uni)

    run_twin(d.select("doc_id", "text"), apply_batch, base)

    bf, uni = bigram_ledger_counts(spark, led_bf, led_uni)
    return bigram_surprisal_from_counts(bf, uni)


QUERIES["stream_bigram_surprisal"] = QuerySpec(
    q_stream_bigram_surprisal, Q_BIGRAM_SURPRISAL_ORACLE
)


def q_stream_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained BM25 ranking (r9) — the retrieval index a RAG
    platform keeps fresh as documents land: a document's term postings and
    length are pure per-row projections (decided at ARRIVAL), while df, the
    corpus totals, and therefore every score are corpus-global (decided at
    READOUT from the folded ledgers). Each micro-batch appends its
    (doc, term, tf) postings for the query's terms and its (doc, dl) length
    rows; the readout folds by SUM and runs the identical scoring tail as
    the batch ranker (text_queries.bm25_from_counts) — shared oracle
    verbatim, split invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load

    base = workspace("stream_bm25_")
    led_tf, led_dl = f"{base}/tf", f"{base}/dl"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        bm25_append_postings(batch_df, led_tf, led_dl)

    run_twin(d.select("doc_id", "text"), apply_batch, base)

    return bm25_fold_ledgers(spark, led_tf, led_dl)


def bm25_append_postings(batch_df: DataFrame, led_tf: str, led_dl: str) -> None:
    """One micro-batch's additive BM25 facts: (doc, term, tf) postings for
    the query terms and (doc, dl) length rows, appended to the two parquet
    ledgers. Module-level (not a closure) so the compaction test can replay
    the exact production append path."""
    from movie_genre_data_pipeline_spark.suite.text_queries import BM25_TERMS

    docs = alpha_token_docs(batch_df)
    docs.select(
        "doc_id", F.size("__a").cast("bigint").alias("dl")
    ).write.mode("append").parquet(led_dl)
    (
        docs.select("doc_id", F.explode("__a").alias("term"))
        .filter(F.col("term").isin(list(BM25_TERMS)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .write.mode("append")
        .parquet(led_tf)
    )


def bm25_ledger_counts(
    spark: SparkSession, led_tf: str, led_dl: str
) -> tuple[DataFrame, DataFrame]:
    """(tf, dl) count tables folded by SUM from the append ledgers — the
    shared readout input for every ranker over these postings (BM25 and the
    RRF fusion). A pure function of ledger ROWS: file layout is irrelevant,
    which is what makes small-file compaction of a live ledger safe (pinned
    by tests/test_compact.py's mid-stream compaction test)."""
    tf = fold_ledger(spark.read.parquet(led_tf), ["doc_id", "term"], ["tf"])
    dl = fold_ledger(spark.read.parquet(led_dl), ["doc_id"], ["dl"])
    return tf, dl


def bm25_fold_ledgers(spark: SparkSession, led_tf: str, led_dl: str) -> DataFrame:
    """Fold the append ledgers and run the identical scoring tail as the
    batch ranker (text_queries.bm25_from_counts)."""
    from movie_genre_data_pipeline_spark.suite.text_queries import bm25_from_counts

    tf, dl = bm25_ledger_counts(spark, led_tf, led_dl)
    return bm25_from_counts(tf, dl)


QUERIES["stream_bm25_topk"] = QuerySpec(q_stream_bm25_topk, Q_BM25_TOPK_ORACLE)


def q_stream_ams_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained AMS join-size estimate (r9) — the sketch that
    makes this ledger family complete for an optimizer: each micro-batch
    appends its REPS-sized signed-sum partials (Z is a plain sum, the most
    additive fact there is) plus its per-user frequency partials for the
    audit column; the readout folds by component-wise re-sum and publishes
    the identical estimate row as the batch query (shared oracle verbatim,
    split-invariance gated). State per batch: AMS_REPS rows per side + the
    touched users."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sketch_queries import (
        AMS_REPS,
        _ams_signs,
    )

    base = workspace("stream_ams_")
    led_z, led_f = f"{base}/z", f"{base}/f"
    ev = load(spark, sf_dir, "events")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        both = batch_df.filter(F.col("event_type").isin("view", "purchase"))
        (
            both.select("event_type", F.posexplode(_ams_signs()).alias("j0", "sgn"))
            .groupBy("event_type", (F.col("j0") + F.lit(1)).alias("j"))
            .agg(F.sum("sgn").cast("bigint").alias("z"))
            .write.mode("append")
            .parquet(led_z)
        )
        both.groupBy("event_type", "user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("f")
        ).write.mode("append").parquet(led_f)

    run_twin(ev.select("event_id", "user_id", "event_type"), apply_batch, base)

    z = fold_ledger(spark.read.parquet(led_z), ["event_type", "j"], ["z"])
    zr = z.filter(F.col("event_type") == "view").select("j", F.col("z").alias("z_r"))
    zs = z.filter(F.col("event_type") == "purchase").select(
        "j", F.col("z").alias("z_s")
    )
    est = (
        zr.join(zs, "j")
        .agg(F.sum(F.col("z_r") * F.col("z_s")).cast("bigint").alias("prod_sum"))
        .selectExpr(
            f"CAST({AMS_REPS} AS BIGINT) AS reps",
            f"CAST(prod_sum AS DOUBLE) / {AMS_REPS} AS est_join_size",
        )
    )
    f = fold_ledger(spark.read.parquet(led_f), ["event_type", "user_id"], ["f"])
    views = f.filter(F.col("event_type") == "view").select(
        "user_id", F.col("f").alias("fr")
    )
    purch = f.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("f").alias("fs")
    )
    true_sz = views.join(purch, "user_id").agg(
        F.sum(F.col("fr") * F.col("fs")).cast("bigint").alias("true_join_size")
    )
    return est.crossJoin(F.broadcast(true_sz)).selectExpr(
        "reps",
        "est_join_size",
        "true_join_size",
        "CAST(ROUND((est_join_size - CAST(true_join_size AS DOUBLE))"
        " / CAST(true_join_size AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT)"
        " AS rel_err_micro",
    )


QUERIES["stream_ams_join_size"] = QuerySpec(
    q_stream_ams_join_size, Q_AMS_JOIN_SIZE_ORACLE
)


def alpha_token_docs(batch_df: DataFrame) -> DataFrame:
    """(doc_id, __a) with the LOWERCASE ALPHA tokens — the shared tokenize
    projection of every text-ledger append (bigram LM, BM25, Heaps, RRF).
    alpha_tokens is the one definition in functions/text.py, so ledger facts
    are bit-identical to the batch builders and the shared oracles by
    construction, on ANY text (case/digits/punct)."""
    from movie_genre_data_pipeline_spark.functions.text import alpha_tokens

    return batch_df.select("doc_id", alpha_tokens("text").alias("__a"))


def bigram_ledger_append(batch_df: DataFrame, led_bf: str, led_uni: str) -> None:
    """One micro-batch's additive bigram-LM facts — (doc_id, w1, w2, bf)
    bigram counts and (w2, cu) unigram counts — appended to the two parquet
    ledgers. Module-level (not a closure) so the four consumers
    (stream_bigram_surprisal, stream_surprisal_filter and their readout
    folds) share ONE definition; drift between copies would ship
    oracle-green because both engines run the same string (VERDICT r10 #5)."""
    from movie_genre_data_pipeline_spark.functions.text import bigram_pairs

    docs = alpha_token_docs(batch_df)
    bg = bigram_pairs("__a")
    (
        docs.select("doc_id", F.explode(bg).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("bf"))
        .write.mode("append")
        .parquet(led_bf)
    )
    (
        docs.select(F.explode("__a").alias("w2"))
        .groupBy("w2")
        .agg(F.count(F.lit(1)).alias("cu"))
        .write.mode("append")
        .parquet(led_uni)
    )


def bigram_ledger_counts(
    spark: SparkSession, led_bf: str, led_uni: str
) -> tuple[DataFrame, DataFrame]:
    """(bf, uni) count tables folded by SUM from the append ledgers — the
    shared readout input for bigram_surprisal_from_counts. A pure function
    of ledger ROWS (file layout irrelevant), like bm25_ledger_counts."""
    bf = fold_ledger(spark.read.parquet(led_bf), ["doc_id", "w1", "w2"], ["bf"])
    uni = fold_ledger(spark.read.parquet(led_uni), ["w2"], ["cu"])
    return bf, uni


def q_stream_surprisal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous CCNet-style quality filtering (r9) — the twin of
    curate_surprisal_filter under the arrival/readout rule: a document's
    bigram/unigram count facts and its source land at arrival; the LM the
    filter scores against is corpus-global, so every keep/drop decision
    folds at READOUT from the accumulated ledgers
    (text.bigram_surprisal_from_counts → threshold → per-source report).
    This is the honest form of a streaming perplexity filter: the model
    keeps LEARNING as data lands, so early documents are re-judged under
    the final model — batch ≡ continuous bit-for-bit, shared oracle
    verbatim, split-invariance gated."""
    from movie_genre_data_pipeline_spark.functions.text import (
        bigram_surprisal_from_counts,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.curation_queries import (
        SURPRISAL_KEEP_MAX,
    )

    base = workspace("stream_surp_")
    led_bf, led_uni, led_src = f"{base}/bf", f"{base}/uni", f"{base}/srcdim"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        bigram_ledger_append(batch_df, led_bf, led_uni)
        batch_df.select("doc_id", "source").write.mode("append").parquet(led_src)

    run_twin(d.select("doc_id", "text", "source"), apply_batch, base)

    bf, uni = bigram_ledger_counts(spark, led_bf, led_uni)
    scored = bigram_surprisal_from_counts(bf, uni)
    srcdim = spark.read.parquet(led_src)
    keep = F.col("avg_surprisal") < F.lit(SURPRISAL_KEEP_MAX)
    return (
        scored.join(srcdim, "doc_id")
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


QUERIES["stream_surprisal_filter"] = QuerySpec(
    q_stream_surprisal_filter, _surprisal_filter_oracle()
)


def q_stream_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous vocabulary-growth curve (r9) — two decompositions the other
    ledgers don't exercise: (a) the type ledger folds by MIN (each batch
    appends every term's lowest doc_id; first-occurrence = min-merge, the
    min-fold sibling of the HLL max-fold), and (b) even the BUCKETING is a
    readout decision — a bucket is ⌊id·8/(max_id+1)⌋ of the FINAL corpus, so
    the whole curve legitimately re-buckets as data lands, and min-doc-id per
    term maps to min-bucket because the bucket function is monotone in id.
    Batch ≡ continuous bit-for-bit; shares the batch oracle verbatim;
    split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.text_queries import HEAPS_BUCKETS

    base = workspace("stream_heaps_")
    led_term, led_doc = f"{base}/terms", f"{base}/docs"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs_b = alpha_token_docs(batch_df)
        docs_b.select("doc_id", F.explode("__a").alias("term")).groupBy(
            "term"
        ).agg(F.min("doc_id").alias("first_doc")).write.mode("append").parquet(
            led_term
        )
        # EVERY document appends a (doc_id, n_tokens) row — n_tokens may be 0
        # (digits/punct/non-Latin text tokenizes to empty). The doc ledger is
        # the readout's source of n_ids = MAX(doc_id)+1, and the batch query
        # plus shared oracle take that MAX over ALL documents; deriving it
        # from exploded-token rows would shift every bucket boundary whenever
        # the max-id document has no [a-z] run (ADVICE r9, medium).
        docs_b.select(
            "doc_id", F.size("__a").cast("bigint").alias("n_tokens")
        ).write.mode("append").parquet(led_doc)

    run_twin(d.select("doc_id", "text"), apply_batch, base)

    from pyspark.sql import Window

    docs = fold_ledger(spark.read.parquet(led_doc), ["doc_id"], ["n_tokens"])
    terms = (
        spark.read.parquet(led_term)
        .groupBy("term")
        .agg(F.min("first_doc").alias("first_doc"))
    )
    mx = docs.agg((F.max("doc_id") + F.lit(1)).cast("bigint").alias("n_ids"))
    bucket_of = (
        f"CAST(FLOOR(CAST({{col}} * {HEAPS_BUCKETS} AS DOUBLE)"
        " / CAST(n_ids AS DOUBLE)) AS BIGINT)"
    )
    # zero-token docs exist in the ledger ONLY to pin n_ids; the batch
    # per-bucket aggregate sees buckets that own >=1 token, so drop them
    # before bucketing (a bucket of only zero-token docs must emit no row)
    per_bucket = (
        docs.filter(F.col("n_tokens") > 0)
        .crossJoin(F.broadcast(mx))
        .selectExpr(f"{bucket_of.format(col='doc_id')} AS bucket", "n_tokens")
        .groupBy("bucket")
        .agg(F.sum("n_tokens").cast("bigint").alias("n_tokens"))
    )
    new_types = (
        terms.crossJoin(F.broadcast(mx))
        .selectExpr(f"{bucket_of.format(col='first_doc')} AS bucket")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_types"))
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


QUERIES["stream_heaps_vocab_growth"] = QuerySpec(
    q_stream_heaps_vocab_growth, Q_HEAPS_VOCAB_GROWTH_ORACLE
)


def q_stream_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous packing audit (r10) — the streaming twin of
    sample_pack_efficiency under the suite's decomposition rule: a document's
    token count is a pure per-row projection (decided at ARRIVAL), but its
    CHUNK is not — chunk_id depends on the running token total of every
    lower-id document in the same language, so packing is a READOUT decision.
    Each micro-batch appends (lang, doc_id, n_tokens) facts; the readout
    folds by SUM and runs the identical pack-window + audit tail as the
    batch query (sampling_queries.pack_efficiency_from_counts) — shared
    oracle verbatim, split invariance gated."""
    from movie_genre_data_pipeline_spark.functions.text import token_count
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        pack_efficiency_from_counts,
    )

    base = workspace("stream_pack_")
    led = f"{base}/toks"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(
            "lang", "doc_id", token_count("text").alias("n_tokens")
        ).write.mode("append").parquet(led)

    run_twin(d.select("doc_id", "text", "lang"), apply_batch, base)

    t = fold_ledger(spark.read.parquet(led), ["lang", "doc_id"], ["n_tokens"])
    return pack_efficiency_from_counts(t)


QUERIES["stream_pack_efficiency"] = QuerySpec(
    q_stream_pack_efficiency, Q_SAMPLE_PACK_EFFICIENCY_ORACLE
)


def q_stream_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained hybrid retrieval (r10) — the RRF fusion of the
    BM25 and query-likelihood rankers over the SAME postings ledgers the
    continuous BM25 index already appends (bm25_append_postings: per-batch
    (doc,term,tf) + (doc,dl) arrival facts). Both rankers, both top-k lists,
    and the fused ordering are READOUT decisions over the folded counts
    (text_queries.rrf_fusion_from_counts — the identical tail the batch
    query runs). Shared oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        rrf_fusion_from_counts,
    )

    base = workspace("stream_rrf_")
    led_tf, led_dl = f"{base}/tf", f"{base}/dl"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        bm25_append_postings(batch_df, led_tf, led_dl)

    run_twin(d.select("doc_id", "text"), apply_batch, base)

    tf, dl = bm25_ledger_counts(spark, led_tf, led_dl)
    return rrf_fusion_from_counts(tf, dl)


QUERIES["stream_rrf_fusion"] = QuerySpec(q_stream_rrf_fusion, Q_RRF_FUSION_ORACLE)


def q_stream_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous Zipf rank-frequency fit (r10) — the simplest possible
    member of the ledger family (per-batch unigram count facts, SUM fold)
    feeding the same top-K + micro-nat OLS tail as the batch query
    (text_queries.zipf_fit_from_counts): rank, both logs, and the fitted
    line are all READOUT decisions, so the slope legitimately keeps moving
    as the corpus grows. Shared oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        zipf_fit_from_counts,
    )

    base = workspace("stream_zipf_")
    led = f"{base}/counts"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            alpha_token_docs(batch_df)
            .select(F.explode("__a").alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .write.mode("append")
            .parquet(led)
        )

    run_twin(d.select("doc_id", "text"), apply_batch, base)

    counts = fold_ledger(spark.read.parquet(led), ["term"], ["cnt"])
    return zipf_fit_from_counts(counts)


QUERIES["stream_zipf_fit"] = QuerySpec(q_stream_zipf_fit, Q_ZIPF_FIT_ORACLE)


def q_stream_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous blob shard-placement audit (r10) — the multimodal family's
    first streaming member: a blob's shard is a pure md5 function of its id
    (decided at ARRIVAL), so each micro-batch appends its (shard, n_media,
    total_bytes) partials and the always-current balance report folds by SUM
    at readout (multimodal_queries.shard_balance_from_facts — the identical
    tail the batch audit runs). Shared oracle verbatim; split-invariance
    gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.multimodal_queries import (
        media_shard_facts,
        shard_balance_from_facts,
    )

    base = workspace("stream_shard_")
    led = f"{base}/facts"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        media = batch_df.select(
            F.col("doc_id").alias("media_id"),
            F.col("text").cast("binary").alias("payload"),
        )
        media_shard_facts(media).write.mode("append").parquet(led)

    run_twin(d.select("doc_id", "text"), apply_batch, base)

    return shard_balance_from_facts(spark.read.parquet(led))


QUERIES["stream_shard_balance"] = QuerySpec(
    q_stream_shard_balance, Q_MEDIA_SHARD_BALANCE_ORACLE
)


def q_stream_retention_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous retention-policy (TTL) audit (r11, VERDICT r10 #7) — the
    governance family's streaming member: a row's day bucket and user key are
    pure projections (decided at ARRIVAL), while the retention horizon —
    max event time minus RETENTION_DAYS — is corpus-global, so expiry is a
    READOUT decision that legitimately re-judges every day partition as later
    data lands. Each micro-batch appends (d_bucket, user_id, n_rows) partials
    (the COUNT DISTINCT forces the user key into the fact grain — SUM-fold
    then count rows) plus a 1-row max-ts fact (MAX fold, the HLL-style
    sibling of the Heaps MIN fold). Readout folds and runs the identical
    tail as the batch audit (timeseries_queries.retention_from_counts).
    Shared oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.operators.timeseries import epoch_micros
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        retention_day_user_facts,
        retention_from_counts,
    )

    base = workspace("stream_retention_")
    led_day, led_mx = f"{base}/day", f"{base}/mx"
    e = load(spark, sf_dir, "events")

    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        retention_day_user_facts(batch_df).write.mode("append").parquet(led_day)
        batch_df.agg(
            F.max(epoch_micros("ts")).cast("bigint").alias("mx_us")
        ).write.mode("append").parquet(led_mx)

    run_twin(e.select("user_id", "ts"), apply_batch, base)

    per_user = fold_ledger(
        spark.read.parquet(led_day), ["d_bucket", "user_id"], ["n_rows"]
    )
    mx = spark.read.parquet(led_mx).agg(
        F.max("mx_us").cast("bigint").alias("mx_us")
    )
    return retention_from_counts(per_user, mx)


QUERIES["stream_retention_policy"] = QuerySpec(
    q_stream_retention_policy, Q_RETENTION_POLICY_ORACLE
)


def q_stream_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous k-anonymity audit (r11) — the governance family's second
    ledger twin: a row's quasi-identifier key (nation x segment x balance
    band) is a pure projection (decided at ARRIVAL), while the at-risk
    verdict g_size < k is corpus-global — a group under k in an early batch
    may clear the bar as later rows land, so every group is re-judged at
    READOUT over the SUM-folded cardinality ledger. Each micro-batch appends
    its (QI, g_size) partials (cdc_queries.k_anonymity_group_facts); the
    readout folds and runs the identical segment rollup
    (cdc_queries.k_anonymity_from_groups). Shared oracle verbatim;
    split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.cdc_queries import (
        k_anonymity_from_groups,
        k_anonymity_group_facts,
    )

    base = workspace("stream_kanon_")
    led = f"{base}/groups"
    c = load(spark, sf_dir, "customer")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        k_anonymity_group_facts(batch_df).write.mode("append").parquet(led)

    run_twin(
        c.select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"),
        apply_batch,
        base,
    )

    folded = fold_ledger(
        spark.read.parquet(led), ["c_nationkey", "c_mktsegment", "bal_band"], ["g_size"]
    )
    return k_anonymity_from_groups(folded)


QUERIES["stream_k_anonymity"] = QuerySpec(q_stream_k_anonymity, Q_K_ANONYMITY_ORACLE)


def q_stream_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous corpus-diversity report (r11) — the entropy/Simpson twin
    over the SAME (term, cnt) unigram ledger the continuous Zipf fit
    appends: counts are pure additive facts (decided at ARRIVAL), while
    both diversity statistics are functions of the FINAL distribution, so
    they fold at READOUT (text_queries.entropy_from_counts — the identical
    tail the batch query runs). Shared oracle verbatim; split-invariance
    gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        entropy_from_counts,
    )

    base = workspace("stream_entropy_")
    led = f"{base}/counts"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            alpha_token_docs(batch_df)
            .select(F.explode("__a").alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .write.mode("append")
            .parquet(led)
        )

    run_twin(d.select("doc_id", "text"), apply_batch, base)

    counts = fold_ledger(spark.read.parquet(led), ["term"], ["cnt"])
    return entropy_from_counts(counts)


QUERIES["stream_unigram_entropy"] = QuerySpec(
    q_stream_unigram_entropy, Q_UNIGRAM_ENTROPY_ORACLE
)


def q_stream_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained image near-dup index (r11) — the multimodal
    family's second streaming member: a blob's dHash fingerprint is a pure
    per-row projection (decided at ARRIVAL — the expensive decode+hash runs
    exactly once per blob), while near-dup PAIRING is corpus-global (a new
    image can collide with one that landed hours ago), so banding, candidate
    joins, and hamming verdicts all run at READOUT over the accumulated
    fingerprint ledger (multimodal.phash_near_dup_pairs — the identical tail
    the batch query runs; ids are unique across batches so the ledger fold
    is plain union). Shared oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.functions.multimodal import (
        phash_fingerprints,
        phash_near_dup_pairs,
    )
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.multimodal_queries import (
        PHASH_BANDS,
        PHASH_MAX_HAMMING,
    )

    base = workspace("stream_phash_")
    led = f"{base}/fps"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        media = batch_df.select(
            F.col("doc_id").alias("media_id"),
            F.col("text").cast("binary").alias("payload"),
        )
        phash_fingerprints(media, fake_decode=True).write.mode(
            "append"
        ).parquet(led)

    run_twin(d.select("doc_id", "text"), apply_batch, base)

    pairs = phash_near_dup_pairs(
        spark.read.parquet(led),
        max_hamming=PHASH_MAX_HAMMING,
        bands=PHASH_BANDS,
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


QUERIES["stream_phash_dedup"] = QuerySpec(q_stream_phash_dedup, _phash_oracle())


def q_stream_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained mutual information (r11) — the feature-
    relevance statistic kept fresh as facts land: a row's contingency cell
    (priority, status) is a pure projection (decided at ARRIVAL), while MI,
    both marginals, and the entropies are functions of the FINAL joint
    distribution, so everything folds at READOUT from the SUM-folded cell
    ledger (sampling_queries.mutual_info_from_cells — the identical tail
    the batch query runs). Shared oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.sampling_queries import (
        mutual_info_from_cells,
    )

    base = workspace("stream_mi_")
    led = f"{base}/cells"
    o = load(spark, sf_dir, "orders")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(
                F.col("o_orderpriority").alias("x"),
                F.col("o_orderstatus").alias("y"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
            .write.mode("append")
            .parquet(led)
        )

    run_twin(o.select("o_orderpriority", "o_orderstatus"), apply_batch, base)

    cells = fold_ledger(spark.read.parquet(led), ["x", "y"], ["n_xy"])
    return mutual_info_from_cells(cells)


QUERIES["stream_mutual_info"] = QuerySpec(
    q_stream_mutual_info, Q_FEAT_MUTUAL_INFO_ORACLE
)


def q_stream_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-monitored corpus mixing (r11) — the JS-divergence matrix
    kept fresh as documents land: a document's (source, term) counts are
    pure projections (decided at ARRIVAL), while every pairwise divergence
    is a function of the FINAL per-source distributions, so the whole
    matrix re-derives at READOUT from the SUM-folded count ledger
    (text_queries.js_divergence_from_counts — the identical tail the batch
    query runs). Shared oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        js_divergence_from_counts,
    )

    base = workspace("stream_js_")
    led = f"{base}/counts"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # join-free: source rides the projection (the batch query's shape) —
        # re-attaching it by doc_id self-join cost a shuffle per micro-batch
        # (r11 review)
        from movie_genre_data_pipeline_spark.functions.text import alpha_tokens

        (
            batch_df.select("source", F.explode(alpha_tokens("text")).alias("term"))
            .groupBy("source", "term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .write.mode("append")
            .parquet(led)
        )

    run_twin(d.select("doc_id", "text", "source"), apply_batch, base)

    counts = fold_ledger(spark.read.parquet(led), ["source", "term"], ["c"])
    return js_divergence_from_counts(counts)


QUERIES["stream_js_divergence"] = QuerySpec(
    q_stream_js_divergence, Q_JS_DIVERGENCE_ORACLE
)
