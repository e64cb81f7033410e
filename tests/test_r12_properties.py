"""Property-based tests (hypothesis) for the r12 wave's algebraic laws —
random tiny inputs through the REAL report helpers (the r15/r14/r13
discipline): information measures vanish exactly on independent or
identical inputs, rank statistics are transform-invariant, effective
sample size saturates on uniform weights, and decompositions conserve
their totals."""

from __future__ import annotations

import math

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# Example budget (r16, VERDICT r15 #1): the sweeps' aggregate runtime
# blew the driver's pytest wall-clock budget at max_examples=6-8. The
# DEFAULT run keeps every law executing but at 1 example (a smoke of
# the sweep); the round-close slow pass re-runs the full sweep with
# MGDP_HYPO_EXAMPLES restored (committed log).
FAST = settings(
    max_examples=int(os.environ.get("MGDP_HYPO_EXAMPLES", "1")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@FAST
@given(
    strata=st.lists(
        st.tuples(st.integers(1, 30), st.integers(1, 10**4)),
        min_size=1,
        max_size=4,
    )
)
def test_ess_saturates_on_uniform_weights_and_is_bounded(spark, strata):
    """Uniform weights give ESS exactly n (Kish), any weights give
    ESS <= n, and scaling every weight by 10 leaves ESS unchanged
    (the estimator is scale-free)."""
    from movie_genre_data_pipeline_spark.suite.sampling_eval_queries import (
        ess_report_from_facts,
    )

    def report(rows):
        df = spark.createDataFrame(
            rows, "lang string, n_docs bigint, sum_w bigint, sum_w2 bigint"
        )
        return {r["lang"]: r for r in ess_report_from_facts(df).collect()}

    uniform = [
        (f"u{i}", n, n * w, n * w * w) for i, (n, w) in enumerate(strata)
    ]
    got = report(uniform)
    for i, (n, _) in enumerate(strata):
        assert got[f"u{i}"]["ess_micro"] == n * 1_000_000
        assert got[f"u{i}"]["ess_ratio_micro"] == 1_000_000

    ragged = [
        (f"r{i}", 2, w + 1 + w2, (w + 1) ** 2 + w2**2)
        for i, (w, w2) in enumerate(
            (a, b) for (a, b) in strata
        )
    ]
    got_r = report(ragged)
    scaled = report(
        [(lang, n, 10 * sw, 100 * sw2) for lang, n, sw, sw2 in ragged]
    )
    for lang, r in got_r.items():
        assert r["ess_micro"] <= 2 * 1_000_000 + 1
        assert abs(scaled[lang]["ess_micro"] - r["ess_micro"]) <= 1


@FAST
@given(
    rows=st.lists(
        st.tuples(st.booleans(), st.integers(-10**5, 10**5)),
        min_size=2,
        max_size=30,
    ).filter(
        lambda r: any(y for y, _ in r) and any(not y for y, _ in r)
    )
)
def test_pr_auc_monotone_invariance(spark, rows):
    """Average precision is a rank statistic: an affine score transform
    leaves the whole report bit-identical, and AP always lands in
    [prevalence - 1, 1e6] (AP of a random ranker is the prevalence)."""
    from movie_genre_data_pipeline_spark.suite.sampling_eval_queries import (
        pr_auc_report_from_labeled,
    )

    def report(rws):
        df = spark.createDataFrame(rws, "y boolean, logw_micro bigint")
        return pr_auc_report_from_labeled(df).collect()[0]

    base = report(rows)
    moved = report([(y, 7 * s + 11) for y, s in rows])
    assert tuple(base) == tuple(moved)
    # AP >= prevalence holds only IN EXPECTATION over random rankers — a
    # worse-than-random ranking legitimately goes below (hypothesis found
    # [(F,0),(T,0),(T,-1)]: prevalence 2/3, AP 7/12) — so the sound bounds
    # are strict positivity (>= one positive exists) and the ceiling.
    assert 0 < base["ap_micro"] <= 1_000_000


@FAST
@given(
    pos=st.sets(st.integers(1, 10**5), min_size=1, max_size=12),
    neg=st.lists(st.integers(-(10**5), -1), min_size=1, max_size=12),
)
def test_pr_auc_saturates_on_perfect_separation(spark, pos, neg):
    """Distinct positive scores all above every negative is AP exactly 1."""
    from movie_genre_data_pipeline_spark.suite.sampling_eval_queries import (
        pr_auc_report_from_labeled,
    )

    rows = [(True, s) for s in pos] + [(False, s) for s in neg]
    df = spark.createDataFrame(rows, "y boolean, logw_micro bigint")
    assert pr_auc_report_from_labeled(df).collect()[0]["ap_micro"] == 1_000_000


@FAST
@given(
    counts=st.lists(st.integers(0, 300), min_size=4, max_size=40),
    shift=st.integers(1, 10**4),
)
def test_acf_ladder_is_shift_invariant(spark, counts, shift):
    """Every rung's autocorrelation is a Pearson r over lag pairs, so
    adding a constant rate to every hour leaves the whole ladder
    bit-identical (the exact-integer central moments cancel the shift)."""
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        acf_report_from_counts,
    )

    def ladder(vals):
        df = spark.createDataFrame(
            list(enumerate(vals)), "hour_id bigint, cnt bigint"
        )
        return {
            r["lag_hours"]: (r["n_pairs"], r["r_micro"])
            for r in acf_report_from_counts(df).collect()
        }

    assert ladder(counts) == ladder([c + shift for c in counts])


@FAST
@given(
    counts=st.lists(st.integers(0, 500), min_size=1, max_size=60),
    const=st.integers(1, 100),
)
def test_seasonal_decompose_conserves_and_flattens(spark, counts, const):
    """The bucket fold conserves both the hour count (the full spine) and
    the event total, and a constant series over whole days has every
    seasonal index exactly 1."""
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        seasonal_decompose_from_counts,
    )

    def report(vals):
        df = spark.createDataFrame(
            list(enumerate(vals)), "hour_id bigint, cnt bigint"
        )
        return seasonal_decompose_from_counts(df).collect()

    got = report(counts)
    assert sum(r["n_hours"] for r in got) == len(counts)
    assert sum(r["n_events"] for r in got) == sum(counts)

    flat = report([const] * 48)
    assert len(flat) == 24
    for r in flat:
        assert r["n_hours"] == 2
        assert r["seasonal_index_micro"] == 1_000_000


@FAST
@given(
    k=st.integers(1, 12),
    c=st.integers(1, 10**6),
)
def test_entropy_uniform_is_ln_k_and_degenerate_is_zero(spark, k, c):
    """A one-type corpus has Shannon entropy exactly 0, and k types of
    equal count land on ln(k) within the two per-term quantizations."""
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        entropy_from_counts,
    )

    def report(rows):
        df = spark.createDataFrame(
            [(f"t{i}", n) for i, n in enumerate(rows)], "term string, cnt bigint"
        )
        return entropy_from_counts(df).collect()[0]

    single = report([c])
    assert single["entropy_micro"] == 0

    uniform = report([c] * k)
    assert abs(uniform["entropy_micro"] - round(math.log(k) * 1e6)) <= 2


@FAST
@given(
    vocab=st.dictionaries(
        st.sampled_from([f"w{i}" for i in range(12)]),
        st.tuples(st.integers(0, 200), st.integers(0, 200)),
        min_size=1,
        max_size=12,
    ).filter(
        lambda d: sum(a for a, _ in d.values()) > 0
        and sum(b for _, b in d.values()) > 0
    )
)
def test_js_divergence_symmetry_and_self_zero(spark, vocab):
    """JS is symmetric (swapping the two sources is bit-identical) and
    exactly 0 between a distribution and itself."""
    from movie_genre_data_pipeline_spark.suite.text_queries import (
        js_divergence_from_counts,
    )

    def js(rows):
        df = spark.createDataFrame(rows, "source string, term string, c bigint")
        r = js_divergence_from_counts(df).collect()[0]
        return (r["n_terms"], r["js_micro"])

    fwd = [("a", t, x) for t, (x, _) in vocab.items() if x > 0] + [
        ("b", t, y) for t, (_, y) in vocab.items() if y > 0
    ]
    rev = [("b", t, x) for t, (x, _) in vocab.items() if x > 0] + [
        ("a", t, y) for t, (_, y) in vocab.items() if y > 0
    ]
    assert js(fwd) == js(rev)

    mirror = [("a", t, x) for t, (x, _) in vocab.items() if x > 0] + [
        ("b", t, x) for t, (x, _) in vocab.items() if x > 0
    ]
    assert js(mirror)[1] == 0


@FAST
@given(
    row_m=st.lists(st.integers(1, 30), min_size=2, max_size=4),
    col_m=st.lists(st.integers(1, 30), min_size=2, max_size=4),
)
def test_mutual_info_zero_on_product_tables_and_transpose_swap(
    spark, row_m, col_m
):
    """An exact independence table has MI exactly 0, and transposing any
    table preserves MI while swapping the two marginal entropies."""
    from movie_genre_data_pipeline_spark.suite.sampling_eval_queries import (
        mutual_info_from_cells,
    )

    prod = [
        (f"r{i}", f"c{j}", a * b)
        for i, a in enumerate(row_m)
        for j, b in enumerate(col_m)
    ]
    df = spark.createDataFrame(prod, "x string, y string, n_xy bigint")
    r = mutual_info_from_cells(df).collect()[0]
    assert r["mi_micro"] == 0

    skew = [(x, y, n + (3 if x == "r0" and y == "c0" else 0)) for x, y, n in prod]
    a = mutual_info_from_cells(
        spark.createDataFrame(skew, "x string, y string, n_xy bigint")
    ).collect()[0]
    b = mutual_info_from_cells(
        spark.createDataFrame(
            [(y, x, n) for x, y, n in skew], "x string, y string, n_xy bigint"
        )
    ).collect()[0]
    assert a["mi_micro"] == b["mi_micro"]
    assert (a["h_x_micro"], a["h_y_micro"]) == (b["h_y_micro"], b["h_x_micro"])


@FAST
@given(
    n_pos=st.integers(1, 1000),
    n_neg=st.integers(1, 1000),
    cells=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 500)),
        min_size=2,
        max_size=6,
    ),
)
def test_woe_single_bin_is_zero_and_iv_nonnegative(spark, n_pos, n_neg, cells):
    """A single-bin feature carries no information: its smoothed WoE and
    IV are exactly 0; and on any multi-bin table IV never goes negative
    (each bin's share gap and log-odds share a sign).

    Domain note: a feature whose rows are ALL one class (t_pos = 0 or
    t_neg = 0) has share 0 for the empty class in every bin: the share
    spell guards the division, which raises under Spark 4 ANSI. The
    sweep covers it explicitly: `pos_only` holds the drawn positives with
    no negatives, one-bin `neg_only` the reverse (WoE and IV exactly 0),
    and `multi` stays two-class through its (1, 1) anchor cell."""
    from movie_genre_data_pipeline_spark.suite.sampling_eval_queries import (
        woe_iv_report_from_cells,
    )

    rows = [("solo", "only", n_pos, n_neg)] + [
        ("multi", f"b{i}", p, q) for i, (p, q) in enumerate(cells)
    ] + [("multi", "anchor", 1, 1)] + [
        ("pos_only", f"b{i}", p, 0) for i, (p, _) in enumerate(cells)
    ] + [("neg_only", "only", 0, n_neg)]
    df = spark.createDataFrame(
        rows, "feature string, x string, n_pos bigint, n_neg bigint"
    )
    got = {r["feature"]: r for r in woe_iv_report_from_cells(df).collect()}
    solo = got["solo"]
    assert solo["woe_min_micro"] == 0
    assert solo["woe_max_micro"] == 0
    assert solo["iv_micro"] == 0
    assert got["multi"]["iv_micro"] >= 0
    assert (
        got["multi"]["woe_min_micro"]
        <= got["multi"]["woe_max_micro"]
    )
    assert got["pos_only"]["n_neg"] == 0
    assert got["pos_only"]["iv_micro"] >= 0
    neg_only = got["neg_only"]
    assert (neg_only["n_pos"], neg_only["iv_micro"]) == (0, 0)
    assert neg_only["woe_min_micro"] == neg_only["woe_max_micro"] == 0
