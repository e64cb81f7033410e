"""streaming/ledger.py — the GC CADENCE hook (VERDICT r13 #3).

`compact_ledger` proved the fold-and-swap algebra (test_ledger_compact.py);
this file proves the cadence that wires it into real appenders:

- `maybe_compact_ledger` fires iff the shard pile is past `max_files`, and
  keeps the pile bounded across continued appends;
- the heaviest REAL ledger — the DSIR postings/bucket-model triple behind
  every stream AUC/KS/PSI/lift twin (`_dsir_labeled_from_stream`) — produces
  a bit-identical labeled readout with GC enabled vs disabled;
- the MAX monoid variant (freshness last-seen / HLL-register-shaped ledgers)
  is exact under compact-then-append, same as SUM.
"""

from __future__ import annotations

from pathlib import Path

from movie_genre_data_pipeline_spark.streaming.ledger import (
    compact_ledger,
    fold_ledger,
    ledger_file_count,
    maybe_compact_ledger,
)

SF_DIR = "/root/testdata/sf0.001"


def _files(path: str) -> int:
    return sum(1 for p in Path(path).rglob("*.parquet") if p.is_file())


def _append(spark, path: str, rows, n_shards: int = 3) -> None:
    df = spark.createDataFrame(rows, "k bigint, v bigint")
    df.repartition(n_shards).write.mode("append").parquet(path)


def test_cadence_fires_only_past_threshold(spark, tmp_path):
    path = str(tmp_path / "led")
    _append(spark, path, [(i % 4, i) for i in range(20)])  # 3 shards
    assert ledger_file_count(path) == 3

    # at/below threshold: a no-op (False), pile untouched
    assert maybe_compact_ledger(spark, path, ["k"], ["v"], max_files=3) is False
    assert _files(path) == 3

    # past threshold: fires (True) and shrinks the pile
    _append(spark, path, [(i % 4, 10 * i) for i in range(20)])  # now 6 shards
    assert maybe_compact_ledger(spark, path, ["k"], ["v"], max_files=3) is True
    assert _files(path) <= 3

    # the cadence loop keeps the pile bounded while appends continue: the
    # pile never exceeds max_files + shards-per-batch between checks
    for step in range(4):
        _append(spark, path, [(i % 4, step + i) for i in range(10)])
        maybe_compact_ledger(spark, path, ["k"], ["v"], max_files=3)
        assert _files(path) <= 3 + 3

    # readout equality against a from-scratch append-only mirror
    mirror = str(tmp_path / "mirror")
    _append(spark, mirror, [(i % 4, i) for i in range(20)])
    _append(spark, mirror, [(i % 4, 10 * i) for i in range(20)])
    for step in range(4):
        _append(spark, mirror, [(i % 4, step + i) for i in range(10)])
    fold = lambda p: sorted(  # noqa: E731
        (r["k"], r["v"])
        for r in fold_ledger(spark.read.parquet(p), ["k"], ["v"]).collect()
    )
    assert fold(path) == fold(mirror)


def test_dsir_twin_readout_identical_with_gc_disabled(spark, monkeypatch):
    """The AUC-twin front half (`_dsir_labeled_from_stream`) runs its ledger
    GC mid-stream at DSIR_GC_MAX_FILES=2, so compaction fires inside the
    4-batch availableNow pass (the spy run in SCALE.md measured it firing at
    batch 3 on both the postings and bucket ledgers). Exactness contract:
    the labeled (doc_id, source, y, logw_micro) frame every stream AUC/KS/
    PSI/lift readout consumes must be IDENTICAL with the GC stubbed out."""
    import movie_genre_data_pipeline_spark.streaming.ledger as L
    import movie_genre_data_pipeline_spark.suite.streaming_eval_queries as sq

    def run():
        df = sq._dsir_labeled_from_stream(spark, SF_DIR, "gc_gate_")
        return sorted(map(tuple, df.collect()))

    fired: list[bool] = []
    real = L.maybe_compact_ledger

    def spy(spark_, path, key_cols, sum_cols, max_files=64, agg="sum"):
        ran = real(spark_, path, key_cols, sum_cols, max_files=max_files, agg=agg)
        fired.append(ran)
        return ran

    monkeypatch.setattr(L, "maybe_compact_ledger", spy)
    with_gc = run()
    assert any(fired), "GC never fired — the cadence is dormant at test scale"

    monkeypatch.setattr(
        L, "maybe_compact_ledger", lambda *a, **k: False
    )  # append-only twin
    without_gc = run()

    assert with_gc == without_gc
    assert len(with_gc) == spark.read.parquet(f"{SF_DIR}/documents.parquet").count()


def test_max_monoid_compact_then_append(spark, tmp_path):
    """Freshness/HLL-shaped ledgers fold by MAX, not SUM; MAX re-associates,
    so compact-then-append must equal append-only there too."""
    path, plain = str(tmp_path / "mx"), str(tmp_path / "mx_plain")
    prefix = [(i % 5, i * 7 % 13) for i in range(40)]
    suffix = [(i % 3, 100 - i) for i in range(15)]
    for chunk in (prefix[:20], prefix[20:]):
        _append(spark, path, chunk)
        _append(spark, plain, chunk)
    compact_ledger(spark, path, ["k"], ["v"], agg="max")
    _append(spark, path, suffix)
    _append(spark, plain, suffix)
    fold = lambda p: sorted(  # noqa: E731
        (r["k"], r["v"])
        for r in fold_ledger(spark.read.parquet(p), ["k"], ["v"], "max").collect()
    )
    assert fold(path) == fold(plain)
    # dtype preserved: MAX of bigint stays bigint in the compacted generation
    assert dict(spark.read.parquet(path).dtypes)["v"] == "bigint"


def test_compaction_width_clamped_to_max_files(spark, tmp_path):
    """r14 ADVICE #3: with live-key cardinality above the session's shuffle
    width, the compacted generation must still land AT OR BELOW the caller's
    max_files — otherwise a small-max_files caller stays past threshold after
    every compaction and re-folds the whole ledger on every batch (unbounded
    write amplification). Steady state: once compaction fires, the next
    cadence check on an unchanged pile is a no-op."""
    path = str(tmp_path / "wide")
    # 500 distinct keys >> any sane shard width, so pre-clamp this wrote one
    # file per non-empty hash partition (up to 32) and never got under 2.
    _append(spark, path, [(i, i) for i in range(500)], n_shards=4)
    assert maybe_compact_ledger(spark, path, ["k"], ["v"], max_files=2) is True
    assert _files(path) <= 2
    # unchanged pile at/below threshold: the cadence loop is quiescent
    assert maybe_compact_ledger(spark, path, ["k"], ["v"], max_files=2) is False
    # and the fold is still exact over all 500 live keys
    folded = fold_ledger(spark.read.parquet(path), ["k"], ["v"]).collect()
    assert sorted((r["k"], r["v"]) for r in folded) == [(i, i) for i in range(500)]
