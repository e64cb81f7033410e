"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON
line: {"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
"sf": ...}.

The stdout line stays SMALL on purpose (VERDICT r08 #2): the driver captures
only the output tail, and every BENCH_r0N.json since r2 carried "parsed": null
because the old line also embedded per-query samples + drift detail and outgrew
the capture. The full detail — both samples per query, the drift-control runs,
and drift-normalized ratios against the previous run — is written to
BENCH_DETAIL.json alongside the repo instead.

Each query is executed to completion (noop-sink over every result row/column)
and timed wall-clock. First query pays JVM/session warmup; a warmup no-op runs
first so per-query numbers reflect steady state.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "flagship_revenue_by_flag_status",
    "tpch_q1",
    "star_join",
    "window_topk_per_group",
    "quarantine_clean",
    "merge_status_update",
    "explode_array",
    "from_json_props",
    "sessionize",
    "tumbling_window",
    # north-star extension hot paths (VERDICT r01 #5): one representative per
    # family so regressions in dedup/similarity/text/streaming get caught
    "dedup_minhash_lsh",
    "sim_topk_ivf",
    "text_tfidf_topk",
    "stream_tumbling_window",
    # r2: the composed curation pipeline (Gopher filter -> dedup -> decontam ->
    # mixture -> chunking) — guards the whole curation family's hot path at once
    "curate_corpus_pipeline",
    # r2: data-layout representative (Morton bit math + hash agg, no sort)
    "layout_zorder_stats",
    # r4: sketch (HLL grid agg), weighted sampling (window top-k), and the
    # windowed SCD2 history builder
    "sketch_hll_distinct",
    "sample_weighted_reservoir",
    "merge_scd2",
    # r5 (VERDICT r04 #6): regression-track the hot-key-replicated join and
    # the KMV pairwise-overlap estimator
    "skew_salted_join",
    "sketch_kmv_vocab_overlap",
    # r5: single-scan rule report and the snapshot-derived change feed —
    # cheap aggregates guarding the quality/CDC families
    "dq_expectations",
    "cdc_snapshot_diff",
    # r6: the gold star mart and its CDC-incremental refresh — the medallion
    # completion and the IVM hot path
    "gold_genre_revenue",
    "gold_genre_revenue_ivm",
    # r6: basket-key self-join pair mining (output bounded by basket sizes)
    # and the seasonal-naive backtest (lag window + hash agg) — one guard per
    # new family. ER is gated at sf0.01 only: the fixture's fixed token
    # vocabulary makes its blocks grow with SF (documented in
    # suite/entity_queries.py), so it would measure the fixture, not the plan.
    "mine_brand_pairs",
    "ts_seasonal_naive_backtest",
    # r7: the reworked IVFADC (panel-evaluated, sqrt(n) cells, sample-trained
    # Lloyd) — benchable now that the r6 superlinear all-queries scan is gone
    # (53.3s at sf0.1 in r6; the panel protocol is the FAISS benchmark shape)
    "sim_pq_ivfadc",
    # r7: the scale-safe ER configuration IS benchable at sf0.1 (unlike the
    # fixed-vocabulary er_union_recall fixture): open entity space + purge
    # keeps candidates Θ(n). And one guard for the model-fitting family —
    # the all-pairs correlation screen (one map-side-combined aggregate).
    "er_purged_recall",
    "feat_corr_matrix",
    # r7: join-view IVM (churn-sized broadcast deltas against the view)
    "cdc_join_ivm",
    # r8: er_union_recall is benchable now that its token passes carry
    # max_pair_volume purging (31.7s → ~2.5s at sf0.1 — the fixed-vocabulary
    # blocks that made it measure the fixture are capped); and the second
    # gold mart's IVM hot path (scalar-FK signed-delta fold)
    "er_union_recall",
    "gold_language_revenue_ivm",
    # r8 second wave: one guard per new family — DSIR selection (bucket-sized
    # model + one doc-keyed shuffle), span-level dedup (gram window + island
    # merge, no pairwise join), and the IRLS classifier (iters × Gram scan)
    "sample_importance_select",
    "dedup_duplicate_spans",
    "feat_logreg_recovery",
    # r8 capstone: the composed curation funnel (spans + quality + DSIR +
    # split + pack behind one barrier) — guards the composition's plan
    "curate_trainset_funnel",
    # r9: BM25 retrieval scoring — guards the tokenize-once/df-window plan
    # (and with it the text-retrieval family's two-scan shape)
    "text_bm25_topk",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from movie_genre_data_pipeline_spark.session import build_session, codegen_compiles
    from movie_genre_data_pipeline_spark.suite import all_queries

    spark = build_session(app_name="mgdp-bench")
    specs = all_queries()

    # warmup: exercise scan + hash-agg + shuffle + codegen paths so the first
    # timed query reflects steady state, not one-time JIT/classloading
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()

    # Two samples per query, report the BEST and carry both — so single-run
    # environmental skew can't masquerade as a regression (VERDICT r05 #8:
    # r5's "1.31x slowdown" turned out to be host drift, proven by re-running
    # the r4 commit verbatim in the r6 environment at the same 1.3x).
    # Per sample, the generated classes Spark compiled afresh (codegen cache
    # misses): a second sample that still compiles is paying for eviction.
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    compiles: dict[str, list[int]] = {}
    for name in HEADLINE:
        if name not in specs:
            continue
        runs = []
        compiles[name] = []
        for _ in range(2):
            c0 = codegen_compiles(spark)
            t0 = time.time()
            df = specs[name].fn(spark, sf_dir)
            # noop sink: computes every row/column of the result (a bare
            # count() would let Catalyst prune projections and under-measure)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
            compiles[name].append(codegen_compiles(spark) - c0)
        samples[name] = runs
        timings[name] = min(runs)
    total = round(sum(timings.values()), 3)

    # Drift control (VERDICT r7 #8): a FIXED workload that never touches repo
    # code or fixture files — spark.range -> hash shuffle -> aggregate. Its
    # round-over-round movement measures the HOST (r5 and r7 both showed
    # uniform ~1.3x "regressions" that were pure environment); divide any
    # cross-round query ratio by the drift-control ratio before concluding a
    # real regression.
    drift_runs = []
    for _ in range(3):
        t0 = time.time()
        (
            spark.range(0, 20_000_000, 1, 32)
            .selectExpr("id % 1000 AS k", "id AS v")
            .groupBy("k")
            .sum("v")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        drift_runs.append(round(time.time() - t0, 3))

    # Second anchor (VERDICT r10 #4): the shuffle anchor tracks executor CPU,
    # but half the headline set is DRIVER-latency bound (plan round-trips,
    # job scheduling) and the two host properties move independently — r10's
    # normalized band swung 0.55<->1.77 on unchanged queries because one
    # anchor corrected for the other's axis. 40 tiny jobs per run measure the
    # scheduler/driver round-trip with negligible executor work.
    latency_runs = []
    for _ in range(3):
        t0 = time.time()
        for _ in range(40):
            spark.range(1).count()
        latency_runs.append(round(time.time() - t0, 3))

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full detail goes to a sidecar file, NOT stdout. Before overwriting,
    # read the previous run's detail (committed per round) and publish
    # drift-normalized cross-round ratios: query_ratio / drift_ratio, so a
    # uniform host slowdown (the proven r5/r7 failure mode) reads as ~1.0
    # for every query instead of masquerading as a regression (VERDICT r08 #6).
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    drift_best = min(drift_runs)
    latency_best = min(latency_runs)
    # Baseline = the COMMITTED detail (git HEAD), not whatever run last landed
    # on disk (shared helper — tools/bench_common.py). Run bench BEFORE
    # committing the new detail so HEAD still carries the previous round's.
    from tools.bench_common import committed_baseline

    prev_text = committed_baseline(detail_path.parent, "BENCH_DETAIL.json")
    detail: dict = {
        # Two anchors (r10 lesson): shuffle-CPU and driver-latency move
        # INDEPENDENTLY between hosts, so each query's cross-round ratio is
        # reported raw plus normalized under BOTH. A real regression deviates
        # under both normalizations; a swing that one anchor fully explains
        # is environment.
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "queries": timings,
        "samples": samples,
        "codegen_compiles": compiles,
        "drift_control": {
            "workload": "range20M-mod1000-hashagg",
            "runs": drift_runs,
            "best": drift_best,
        },
        "latency_control": {
            "workload": "40x range(1).count() driver round-trips",
            "runs": latency_runs,
            "best": latency_best,
        },
    }
    if prev_text:
        try:
            prev = json.loads(prev_text)
            prev_drift = prev.get("drift_control", {}).get("best")
            prev_lat = prev.get("latency_control", {}).get("best")
            prev_q = prev.get("queries", {})
            if prev_drift and prev.get("sf") == sf_val:
                drift_ratio = drift_best / prev_drift
                # every published ratio derives from the UNROUNDED quotient
                # and rounds once at publication — rounding raw first would
                # leak quantization into the normalized band (r11 review)
                raw = {
                    n: t / prev_q[n]
                    for n, t in timings.items()
                    if n in prev_q and prev_q[n] > 0
                }
                detail["vs_prev"] = {
                    "drift_ratio": round(drift_ratio, 3),
                    "raw_ratios": {n: round(r, 3) for n, r in raw.items()},
                    "normalized_ratios": {
                        n: round(r / drift_ratio, 3) for n, r in raw.items()
                    },
                }
                if prev_lat:
                    lat_ratio = latency_best / prev_lat
                    detail["vs_prev"]["latency_ratio"] = round(lat_ratio, 3)
                    detail["vs_prev"]["latency_normalized_ratios"] = {
                        n: round(r / lat_ratio, 3) for n, r in raw.items()
                    }
        except (json.JSONDecodeError, OSError, ZeroDivisionError):
            pass
    detail_path.write_text(json.dumps(detail, indent=1) + "\n")

    # The stdout contract: ONE compact final line the driver can always parse.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
