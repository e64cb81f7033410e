"""Streaming twins of the r15 experimentation/audit wave: continuously
maintained CUPED readout, Cohen's kappa, the Benford screen, the Ljung-Box
whiteness test, and per-stratum Wilson intervals. Each follows the house
additive-fact ledger shape: every micro-batch appends SUM-foldable partials
decided at ARRIVAL (a row's arm / confusion cell / first digit / hour / "is
short" flag is a pure function of that row), the readout folds the ledger
and runs the IDENTICAL batch report helper, and the oracle is the batch
oracle VERBATIM — so tests/test_stream_split_invariance.py can prove the
answer is independent of how arrival was batched. Ledger grains are
dimension-bounded (live customers for CUPED — the designed live-key shape —
4 confusion cells, 9 digits, calendar hours, |langs|), so readout cost never
grows with history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.streaming.ledger import fold_ledger
from movie_genre_data_pipeline_spark.suite import QuerySpec
from movie_genre_data_pipeline_spark.suite._twin import run_twin, workspace
from movie_genre_data_pipeline_spark.suite.experiment_queries import (
    Q_BENFORD_ORACLE,
    Q_CUPED_ORACLE,
    Q_KAPPA_ORACLE,
    Q_WILSON_ORACLE,
    _raking_oracle,
)
from movie_genre_data_pipeline_spark.suite.timeseries_queries import Q_TS_LJUNG_ORACLE

QUERIES: dict[str, QuerySpec] = {}


def q_stream_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained CUPED A/B readout (r15): each micro-batch
    appends per-customer (pre_cents, post_cents) partials — a customer's
    period bucket and cents are ARRIVAL decisions, so the unit facts
    SUM-fold across batches — while arm assignment, the pooled moments,
    theta, and the adjusted means all re-derive at READOUT (theta legitimately
    sharpens as more units land; re-deriving it is the point of maintaining
    the ledger at unit grain). Shares the batch oracle verbatim;
    split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.experiment_queries import (
        cuped_report_from_units,
        cuped_units_from_orders,
    )

    base = workspace("stream_cuped_")
    led = f"{base}/units"
    o = load(spark, sf_dir, "orders")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        cuped_units_from_orders(batch_df).write.mode("append").parquet(led)

    run_twin(
        o.select(
            F.col("o_custkey").cast("bigint"),
            F.col("o_orderdate").cast("timestamp"),
            F.col("o_totalprice").cast("double"),
        ),
        apply_batch,
        base,
    )

    units = fold_ledger(spark.read.parquet(led), ["c"], ["pre_cents", "post_cents"])
    return cuped_report_from_units(units)


QUERIES["stream_cuped_adjustment"] = QuerySpec(
    q_stream_cuped_adjustment, Q_CUPED_ORACLE
)


def q_stream_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained rater-agreement audit (r15): each document's
    confusion cell is decided at ARRIVAL (both flags are pure functions of
    the row), the four cell counts SUM-fold, and po / pe / kappa re-derive
    at READOUT. Shares the batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.experiment_queries import (
        kappa_cells_from_documents,
        kappa_report_from_cells,
    )

    base = workspace("stream_kappa_")
    led = f"{base}/cells"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        kappa_cells_from_documents(batch_df).write.mode("append").parquet(led)

    run_twin(d.select("text", "n_chars"), apply_batch, base)

    cells = fold_ledger(spark.read.parquet(led), ["flag_a", "flag_b"], ["cnt"])
    return kappa_report_from_cells(cells)


QUERIES["stream_cohens_kappa"] = QuerySpec(q_stream_cohens_kappa, Q_KAPPA_ORACLE)


def q_stream_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained Benford screen (r15): an amount's first
    significant digit is an ARRIVAL decision over exact cents, the nine
    digit counts SUM-fold, and the observed-vs-expected micro shares
    re-derive at READOUT against the baked-in log10(1+1/d) literals.
    Shares the batch oracle verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.experiment_queries import (
        benford_digits_from_orders,
        benford_report_from_digits,
    )

    base = workspace("stream_benford_")
    led = f"{base}/digits"
    o = load(spark, sf_dir, "orders")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        benford_digits_from_orders(batch_df).write.mode("append").parquet(led)

    run_twin(o.select(F.col("o_totalprice").cast("double")), apply_batch, base)

    digits = fold_ledger(spark.read.parquet(led), ["digit"], ["cnt"])
    return benford_report_from_digits(digits)


QUERIES["stream_benford_screen"] = QuerySpec(q_stream_benford_screen, Q_BENFORD_ORACLE)


def q_stream_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained whiteness test (r15): per-batch HOURLY count
    partials SUM-fold (an event's hour is an ARRIVAL decision — the same
    ledger the ACF twin maintains), while the dense spine, the 12 lag
    pairings, every r_k, and the n(n+2)-scaled Q statistic re-derive at
    READOUT — a zero-filled outage hour stays a real 0 whichever micro-batch
    its neighbors arrived in. Shares the batch oracle verbatim;
    split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        hourly_event_counts,
        ljung_box_from_counts,
    )

    base = workspace("stream_ljung_")
    led = f"{base}/counts"
    ev = load(spark, sf_dir, "events")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        hourly_event_counts(batch_df).write.mode("append").parquet(led)

    run_twin(ev.select("ts", "event_id"), apply_batch, base)

    counts = fold_ledger(spark.read.parquet(led), ["hour_id"], ["cnt"])
    return ljung_box_from_counts(counts)


QUERIES["stream_ljung_box"] = QuerySpec(q_stream_ljung_box, Q_TS_LJUNG_ORACLE)


def q_stream_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained per-language defect CIs (r15): a document's
    stratum and "is short" flag are ARRIVAL decisions, the per-language
    (n, s) pairs SUM-fold, and the Wilson bounds re-derive at READOUT —
    intervals legitimately tighten as volume lands. Shares the batch oracle
    verbatim; split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.experiment_queries import (
        wilson_facts_from_documents,
        wilson_report_from_facts,
    )

    base = workspace("stream_wilson_")
    led = f"{base}/facts"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        wilson_facts_from_documents(batch_df).write.mode("append").parquet(led)

    run_twin(d.select("lang", "n_chars"), apply_batch, base)

    facts = fold_ledger(spark.read.parquet(led), ["lang"], ["n", "s"])
    return wilson_report_from_facts(facts)


QUERIES["stream_wilson_ci"] = QuerySpec(q_stream_wilson_ci, Q_WILSON_ORACLE)


def q_stream_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained raking weights (r15): a document's
    (lang, source) cell is an ARRIVAL decision, the grid counts SUM-fold,
    and the ENTIRE IPF trajectory — targets, every half-step fold, every
    quantized rescale — re-derives at READOUT (the fixed point depends on
    the final margins, so re-running it is the only exact streaming form;
    the CUSUM precedent). Shares the batch oracle verbatim;
    split-invariance gated."""
    from movie_genre_data_pipeline_spark.suite import load
    from movie_genre_data_pipeline_spark.suite.experiment_queries import (
        raking_cells_from_documents,
        raking_report_from_cells,
    )

    base = workspace("stream_raking_")
    led = f"{base}/cells"
    d = load(spark, sf_dir, "documents")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        raking_cells_from_documents(batch_df).write.mode("append").parquet(led)

    run_twin(d.select("lang", "source"), apply_batch, base)

    cells = fold_ledger(spark.read.parquet(led), ["lang", "source"], ["n"])
    return raking_report_from_cells(cells)


QUERIES["stream_raking_ipf"] = QuerySpec(q_stream_raking_ipf, _raking_oracle())
