"""r16 pins for the brute_force_top_k kernel hardening (ADVICE r15 medium/low
+ VERDICT r15 #7): bounded per-cell emission, NULL-cell join semantics, and
value equivalence of the in-kernel top-k cut against the emit-everything form.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.functions.similarity import (
    QUADRATIC_GUARD_ROWS,
    _make_score_cell,
    brute_force_top_k,
)


def _cell_pdf(n: int, d: int, seed: int = 3) -> pd.DataFrame:
    rng = random.Random(seed)
    return pd.DataFrame(
        {
            "vid": list(range(n)),
            "v": [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(n)],
        }
    )


def test_kernel_emission_bounded_not_quadratic():
    """The kernel emits ~c·(k + ties) rows, NOT c·(c−1): the ADVICE r15 medium
    finding (a 100k-row guard-ceiling cell would otherwise materialize ~10^10
    pairs in one pandas frame)."""
    c = 800
    out = _make_score_cell(1)(_cell_pdf(c, 8))
    # distinct random vectors: ties within the 2e-6 margin are rare; allow a
    # generous 4 candidates per row — far below the c−1 = 799 of full emission
    assert len(out) <= 4 * c, len(out)
    # every row keeps AT LEAST its k candidates
    assert out.groupby("vid").size().min() >= 1


def test_kernel_cut_preserves_final_topk_exactly():
    """Rounded-window top-k over the kernel's bounded emission == top-k over
    full emission (the 2e-6 margin proof), on a fixture dense with rounding
    ties: quantized vectors so distinct pairs collide at 6dp."""
    rng = random.Random(11)
    n, d, k = 120, 4, 2
    # coarse quantization -> many exact duplicate vectors -> exact tie scores
    vecs = [
        [round(rng.uniform(-1, 1), 1) for _ in range(d)] for _ in range(n)
    ]
    pdf = pd.DataFrame({"vid": list(range(n)), "v": vecs})
    cut = _make_score_cell(k)(pdf)

    # full emission reference with the same index-order folds
    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def fold_norm(a):
        acc = 0.0
        for x in a:
            acc = acc + x * x
        return math.sqrt(acc)

    def topk(rows):
        # (round desc, neighbor asc) like the Spark window; python round
        # differences don't matter for the SET comparison below because both
        # sides round identically here
        out = {}
        from collections import defaultdict

        by_vid = defaultdict(list)
        for vid, nb, raw in rows:
            by_vid[vid].append((round(raw, 6), nb))
        for vid, cands in by_vid.items():
            cands.sort(key=lambda t: (-t[0], t[1]))
            out[vid] = cands[:k]
        return out

    full = []
    for i in range(n):
        ni = fold_norm(vecs[i])
        for j in range(n):
            if i == j:
                continue
            full.append((i, j, fold_dot(vecs[i], vecs[j]) / (ni * fold_norm(vecs[j]))))
    cut_rows = list(zip(cut["vid"], cut["neighbor"], cut["cos_raw"]))
    assert topk(full) == topk(cut_rows)
    # and the cut actually cut something on this tie-dense fixture
    assert len(cut_rows) < len(full)


def test_kernel_nonfinite_rows_fall_back_to_full_emission():
    """Zero-norm vectors make 0/0 = NaN scores. Non-finite candidates are
    always kept (NaN crosses Arrow as NULL and sorts last); the top-k cut
    runs over each row's finite scores only, and a row with fewer than k
    finite scores keeps every finite candidate."""
    pdf = pd.DataFrame(
        {
            "vid": [0, 1, 2, 3],
            "v": [[1.0, 0.0], [0.0, 0.0], [0.5, 0.5], [0.9, 0.1]],
        }
    )
    out = _make_score_cell(1)(pdf)
    by_vid = out.groupby("vid").size()
    # vids 0, 2, 3: the NaN candidate (vid 1) plus their finite top-1;
    # vid 1: no finite score at all, so all 3 NaN candidates
    assert by_vid.to_dict() == {0: 2, 1: 3, 2: 2, 3: 2}, by_vid.to_dict()


def test_null_partition_cells_produce_no_pairs(spark):
    """NULL partition values keep producing NO neighbors — the pre-r15
    equi-join semantics, pinned (ADVICE r15 low: the bare groupBy would pool
    all NULL-cell rows into one giant pair-producing group)."""
    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [0.9, 0.1], "a"),
        (3, [1.0, 0.0], None),
        (4, [0.9, 0.1], None),
        (5, [0.5, 0.5], None),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label string")
    got = brute_force_top_k(df, "vec_id", "embedding", k=1, partition_col="label")
    out = {(r["vid"], r["neighbor"]) for r in got.collect()}
    assert out == {(1, 2), (2, 1)}, out


def test_quadratic_guard_ceiling_is_single_task_safe():
    """Pin the guard ceiling against the kernel's single-task budget (ADVICE
    r15 medium): at QUADRATIC_GUARD_ROWS rows the V matrix is c·d doubles and
    the blocked score matrix is capped, so the one-task quadratic path is
    memory-flat (compute remains O(c²·d) — the documented opt-in price)."""
    c, d = QUADRATIC_GUARD_ROWS, 64
    v_bytes = c * d * 8
    block = max(1, min(1024, 8_000_000 // c))
    block_bytes = block * c * 8
    assert v_bytes <= 64 * 2**20, "guard ceiling outgrew the V-matrix budget"
    assert block_bytes <= 80 * 2**20, "score-matrix block outgrew its budget"


def test_kernel_small_cells_emit_everything():
    """c−1 <= k keeps every candidate (no partition call on degenerate rows)."""
    out = _make_score_cell(5)(_cell_pdf(4, 3))
    assert len(out) == 4 * 3
    out1 = _make_score_cell(1)(_cell_pdf(1, 3))
    assert len(out1) == 0
