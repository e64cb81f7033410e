"""Embedding similarity search (north star): brute-force cosine top-k as the exact
baseline, bucketed variants (IVF-style partition pruning, and sign-LSH) as the
scale path.

Scale design:
- Brute force is O(n²·d) — correct but only viable as the rerank/verification
  stage or on small n. It broadcasts the smaller side; the dot products run as
  JVM higher-order functions (zip_with + aggregate), no Python in the loop.
- IVF-style: vectors are pre-assigned to coarse cells (here: the fixture's
  `label` column stands in for a k-means assignment); top-k only scans the query's
  cell → the cross-product shrinks by ~n_cells× and the join is an equi-join on
  the cell id — a plain shuffle-hash join Catalyst handles.
- Sign-LSH: b deterministic hyperplanes (seeded from md5, reproducible everywhere)
  → b-bit bucket signature; only same-bucket vectors are compared. Recall is
  tunable by b; multiplying tables (multiple hash tables) trades compute for
  recall as usual.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Element-wise dot product over array columns (JVM-side fold in array order —
    deterministic, and bit-identical to DuckDB's sequential list fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


# Above this many rows, an unpartitioned brute-force pass is a cross join the
# cluster cannot absorb (O(n²·d)); callers must either supply `partition_col`
# (the IVF shape) or opt in explicitly for a known-bounded rerank stage.
# The unpartitioned path runs the r15 numpy kernel in ONE task (cell = lit(0))
# — guard-bounded, and since r16 the kernel's memory is flat in the cell size:
# the (block × c) score matrix is capped (~64 MB), the V matrix at the guard
# ceiling is c·d doubles (~51 MB at d=64), and the EMITTED frame is bounded by
# c·(k + rounding ties) rows, not c² (see _make_score_cell). Compute is still
# O(c²·d) on that one task — the price the explicit allow_quadratic opt-in
# buys, same as the pre-r15 streamed self-join paid across the cluster.
QUADRATIC_GUARD_ROWS = 100_000


def _make_score_cell(k: int):
    """Per-cell pair-scoring kernel for `brute_force_top_k` (module-level so
    tests can drive it directly on pandas frames). Emits, per query row, ONLY
    the candidates that can still reach the final rounded top-k:

    - cosines accumulate in ascending index order — one elementwise float64
      op at a time, the exact op sequence of the sequential zip_with/aggregate
      folds the kernel replaced (vectorized.py bit-exactness contract), then
      one division by the norm product: the raw ratio is bit-identical and
      ROUND(.., 6) stays a Spark expression downstream.
    - cut safety (vs Spark ROUND semantics): ROUND(x, 6) is HALF_UP on the
      shortest-decimal form of x, so |round(x) − x| <= 5e-7 + ulp. Keeping
      every candidate with raw >= kth_raw − 2e-6 (kth_raw = the row's k-th
      largest raw cosine) means any dropped y has
      round(y) <= y + 5e-7 + ulp < kth_raw − 5e-7 − ulp <= round(t) for each
      of the k kept top-raw candidates t — strictly below k rounded scores,
      so y can never enter the rounded top-k under any (cos desc, id asc)
      tie-break, and every threshold tie IS kept. The downstream window sees
      every contender it saw before the cut, with identical values.
    - non-finite scores (a zero-norm vector gives 0/0 = NaN) are handled per
      entry: every valid non-finite candidate is kept (NaN crosses the Arrow
      boundary as NULL and sorts last in the desc window), and the k-th
      largest raw cosine is taken over the row's finite scores only — -inf
      when fewer than k are finite, so every finite candidate is kept.
    """
    import numpy as np
    import pandas as pd

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        c = len(pdf)
        if c < 2:
            return pd.DataFrame(
                {
                    "vid": pdf["vid"].iloc[0:0],
                    "neighbor": pdf["vid"].iloc[0:0],
                    "cos_raw": np.empty(0, dtype=np.float64),
                }
            )
        V = np.array(list(pdf["v"]), dtype=np.float64)
        d = V.shape[1]
        vids = pdf["vid"].to_numpy()
        sq = np.zeros(c, dtype=np.float64)
        for i in range(d):
            sq += V[:, i] * V[:, i]
        nn = np.sqrt(sq)
        outs = []
        # block the row axis so per-task transient memory stays bounded:
        # the (block × c) score matrix is capped at ~64 MB however large the
        # cell is (the guard-gated quadratic path admits up to
        # QUADRATIC_GUARD_ROWS rows in ONE group when unpartitioned)
        block = max(1, min(1024, 8_000_000 // c))
        col_idx = np.arange(c)[None, :]
        for lo in range(0, c, block):
            hi = min(lo + block, c)
            D = np.zeros((hi - lo, c), dtype=np.float64)
            for i in range(d):
                D += V[lo:hi, i, None] * V[None, :, i]
            R = D / (nn[lo:hi, None] * nn[None, :])
            valid = np.arange(lo, hi)[:, None] != col_idx  # exclude self
            if c - 1 > k:
                finite = np.isfinite(R)
                # k-th largest FINITE score per row (ascending index c-k);
                # -inf when the row has fewer than k finite scores, which
                # keeps every finite candidate
                rv = np.where(valid & finite, R, -np.inf)
                thr = np.partition(rv, c - k, axis=1)[:, c - k]
                keep = valid & (~finite | (R >= thr[:, None] - 2e-6))
            else:
                keep = valid
            rows, cols = np.nonzero(keep)
            outs.append(
                pd.DataFrame(
                    {
                        "vid": vids[rows + lo],
                        "neighbor": vids[cols],
                        "cos_raw": R[rows, cols],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    return score_cell


def brute_force_top_k(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 1,
    partition_col: str | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors per vector (excluding self), with rounded-score
    + id tie-breaking so results are total-order deterministic.

    `partition_col` turns this into the IVF-style variant: neighbors are only
    sought within the same partition value (coarse cell), which is the 100 TB
    shape — an equi-join on the cell instead of a full cross join.

    Without `partition_col` this is the documented EXACT BASELINE / rerank stage
    only: above `QUADRATIC_GUARD_ROWS` input rows it raises unless
    `allow_quadratic=True`, so the O(n²) path can't be reached by accident at
    scale (VERDICT r03 #7). The guard costs one count job (column-pruned to
    nothing by Catalyst — a metadata-cheap scan).
    """
    if partition_col is None and not allow_quadratic:
        n_rows = df.count()
        if n_rows > QUADRATIC_GUARD_ROWS:
            raise ValueError(
                f"brute_force_top_k without partition_col is O(n²) and got "
                f"{n_rows} rows (> {QUADRATIC_GUARD_ROWS}). Pass partition_col "
                f"(IVF cell) for the scale path, or allow_quadratic=True for an "
                f"explicitly bounded exact/rerank pass."
            )
    # Pair scoring runs as a per-cell Arrow/numpy kernel (r15, guide §4.2):
    # the join + interpreted zip_with/aggregate folds priced every pair at
    # ~d lambda evaluations (sim_topk_ivf measured ~13M of them at sf0.1).
    # The kernel accumulates each dot product and each norm in ascending
    # index order — one elementwise float64 op at a time, the exact op
    # sequence of the sequential folds it replaces (the vectorized.py
    # bit-exactness contract) — then divides dot by the norm product with
    # the same two IEEE ops, so the unrounded ratio is bit-identical and
    # ROUND(.., 6) stays a Spark expression. Each DIRECTED pair (a, b),
    # a != b, is emitted once; the symmetric value is the same elementwise
    # product fold either way, exactly like the old mirror-explode.
    #
    # r16 (ADVICE r15): the kernel no longer EMITS all c·(c−1) directed
    # pairs — per query row it keeps only candidates that can still reach
    # the final rounded top-k, so per-cell output is bounded by
    # c·(k + rounding ties) instead of c², and a single giant/unpartitioned
    # cell can no longer materialize ~c² rows in one pandas frame.
    # Safety of the cut (proved against Spark's ROUND semantics):
    # ROUND(x, 6) is HALF_UP on the shortest-decimal form of x, so
    # |round(x) − x| <= 5e-7 + ulp. Keep every candidate with
    # raw >= kth_raw − 2e-6 (kth_raw = the row's k-th largest raw cosine).
    # Any dropped y has raw < kth_raw − 2e-6, hence
    # round(y) <= y + 5e-7 + ulp < kth_raw − 5e-7 − ulp <= round(t) for each
    # of the k kept top-raw candidates t — STRICTLY below k rounded scores,
    # so y can never enter the rounded top-k under any (cos desc, id asc)
    # tie-break. Ties at the threshold are all kept, so the downstream
    # window sees every contender it saw before, with identical values.
    vid_type = df.schema[id_col].dataType.simpleString()
    base = df.select(
        F.col(id_col).alias("vid"),
        _as_double(vec_col).alias("v"),
        (F.col(partition_col) if partition_col else F.lit(0)).alias("cell"),
    )
    if partition_col is not None:
        # NULL cells produce NO pairs — the pre-r15 equi-join semantics
        # (NULL == NULL is false). The r15 groupBy silently pooled NULL-cell
        # rows into one group; pin the join behaviour instead (ADVICE r15).
        base = base.filter(F.col("cell").isNotNull())

    score_cell = _make_score_cell(k)
    scored = base.groupBy("cell").applyInPandas(
        score_cell, schema=f"vid {vid_type}, neighbor {vid_type}, cos_raw double"
    ).select("vid", "neighbor", F.round(F.col("cos_raw"), 6).alias("cos_sim"))
    w = Window.partitionBy("vid").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("vid", "neighbor", "cos_sim", "rnk")
    )


def similar_pair_counts(
    df: DataFrame, id_col: str, vec_col: str, label_col: str, threshold: float = 0.8
) -> DataFrame:
    """Per-cell count of vector pairs with cosine >= threshold (embedding-cosine
    near-dup detection, aggregated — the dedup-decision statistic)."""
    base = df.select(
        F.col(id_col).alias("vid"),
        _as_double(vec_col).alias("v"),
        F.col(label_col).alias("cell"),
    ).withColumn("n", norm(F.col("v")))  # once per vector, not per pair
    a = base.alias("a")
    b = base.alias("b")
    pairs = a.join(
        b, on=[F.col("a.cell") == F.col("b.cell"), F.col("a.vid") < F.col("b.vid")]
    )
    return (
        pairs.select(
            F.col("a.cell").alias("cell"),
            F.round(
                dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_similar_pairs"))
    )


def hyperplanes(dim: int, n_planes: int, seed: str = "mgdp") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5)^dim, seeded via md5 —
    reproducible across engines and sessions (no RNG state)."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()
            row.append(int(h[:8], 16) / float(2**32) - 0.5)
        planes.append(row)
    return planes


def sign_matrix(k: int, dim: int, seed: str = "mgdp-jl") -> list[list[int]]:
    """Deterministic ±1 projection matrix (k rows × dim), seeded via md5 parity —
    the Achlioptas/JL database-friendly random projection, with the matrix a
    reproducible constant instead of RNG state: both the Spark plan and the
    generated SQL oracle embed the SAME literal rows, so sign portability is
    structural, not probabilistic."""
    return [
        [
            1 if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1
            for i in range(dim)
        ]
        for j in range(k)
    ]


def project_signed(vec_col: str | Column, signs: list[list[int]]) -> Column:
    """array<bigint> of len(signs): the signed-sum random projection of a
    QUANTIZED vector column (functions/kmeans.quantize_vectors — integral
    doubles) — proj[j] = Σ_i signs[j][i]·v[i]. The fold stays in double
    (signed sums of ±1e6-scale integrals stay ≪ 2^53, exact in any order) and
    each component publishes as BIGINT so downstream squared distances run in
    exact 64-bit integer arithmetic (they exceed 2^53). One literal matrix
    node + k zip_with folds, scan-local, no shuffle: the d→k reduction every
    downstream ANN/dedup pass then enjoys."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    srows = F.lit(signs)
    return F.transform(
        srows,
        lambda srow: F.aggregate(
            F.zip_with(v, srow, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).cast("bigint"),
    )


def lsh_bucket(vec_col: str | Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id (0 .. 2^b - 1) from `planes` (int). Vectors with the same
    bucket are candidate neighbors."""
    v = _as_double(vec_col)
    bucket = F.lit(0)
    for j, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(v, lit_plane) >= 0, F.lit(2**j)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket.cast("int")


def lsh_top_k(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 1,
    n_planes: int = 4,
) -> DataFrame:
    """ANN top-k: sign-LSH bucketing then exact cosine within buckets. The bucket
    column is just a partition key — at scale this is brute_force_top_k with
    partition_col=bucket, i.e. one equi-join shuffle instead of a cross join."""
    planes = hyperplanes(dim, n_planes)
    bucketed = df.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(vec_col, planes).alias("bucket")
    )
    return brute_force_top_k(bucketed, id_col, vec_col, k, partition_col="bucket")


def lsh_top_k_multi(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 1,
    n_planes: int = 4,
    n_tables: int = 3,
) -> DataFrame:
    """Multi-table sign-LSH ANN top-k: T independent hash tables (different
    seeded hyperplane sets), candidate pairs unioned across tables, then ONE
    exact rerank over the distinct candidates. Recall rises with T (a vector
    pair collides if it shares a bucket in ANY table) at T× bucketing cost —
    the standard recall/compute dial. Each table's pairing is an equi-join on
    its bucket id; the union/distinct is one extra shuffle on the pair key."""
    cands = None
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed=f"mgdp:{t}")
        bucketed = df.select(
            F.col(id_col).alias("vid"), lsh_bucket(vec_col, planes).alias("bucket")
        )
        a = bucketed.alias("a")
        b = bucketed.alias("b")
        pairs_t = a.join(
            b,
            on=[F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.vid") != F.col("b.vid")],
        ).select(F.col("a.vid").alias("vid"), F.col("b.vid").alias("neighbor"))
        cands = pairs_t if cands is None else cands.unionByName(pairs_t)
    cands = cands.distinct()

    vecs = df.select(
        F.col(id_col).alias("vid"), _as_double(vec_col).alias("v")
    ).withColumn("n", norm(F.col("v")))
    scored = (
        cands.join(vecs, "vid")
        .join(
            vecs.select(
                F.col("vid").alias("neighbor"),
                F.col("v").alias("nv"),
                F.col("n").alias("nn"),
            ),
            "neighbor",
        )
        .select(
            "vid",
            "neighbor",
            F.round(dot(F.col("v"), F.col("nv")) / (F.col("n") * F.col("nn")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("vid").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("vid", "neighbor", "cos_sim", "rnk")
    )


# -- scalar quantization -----------------------------------------------------------
def quantize_int8(
    df: DataFrame, id_col: str, vec_col: str, levels: int = 255
) -> DataFrame:
    """Per-vector min-max scalar quantization to `levels` integer codes (the
    int8-compression pass that cuts an embedding store's footprint ~4x before
    ANN serving): code_i = round((x_i - mn) / scale), scale = (mx - mn)/(levels-1).

    Output per vector: mn/mx (6dp), the md5 digest of the code sequence (pins the
    exact codes portably), and the mean absolute reconstruction error (6dp) of
    dequantize(code) = code*scale + mn — the quality metric that decides whether
    int8 is safe for the downstream ANN index.

    Scale: pure per-row higher-order functions — zero shuffle, scan-pipelined;
    constant vectors (mx == mn) get scale 1 so codes are all 0 and error 0.
    Numeric discipline: inputs are cast to double, round() operands are
    non-negative (so HALF_UP == half-away-from-zero on every engine), and the
    error is a sequential array-order fold — bit-identical to the SQL oracle's
    list fold."""
    v = _as_double(vec_col)
    mn, mx = F.array_min(v), F.array_max(v)
    scale = F.when(mx > mn, (mx - mn) / F.lit(float(levels - 1))).otherwise(F.lit(1.0))
    codes = F.transform(v, lambda x: F.round((x - mn) / scale).cast("bigint"))
    recon_err = F.aggregate(
        F.zip_with(v, codes, lambda x, q: F.abs(x - (q * scale + mn))),
        F.lit(0.0),
        lambda acc, e: acc + e,
    ) / F.size(v)
    return df.select(
        F.col(id_col),
        F.round(mn, 6).alias("v_min"),
        F.round(mx, 6).alias("v_max"),
        F.md5(F.concat_ws(",", codes.cast("array<string>"))).alias("codes_digest"),
        F.round(recon_err, 6).alias("mean_abs_err"),
    )


def mmr_greedy(
    shortlist: DataFrame, k: int, w_rel: int, w_div: int
) -> DataFrame:
    """Greedy Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR'98) over a per-query candidate shortlist, on squared-L2 distances:
    pick the candidate minimizing w_rel*d_rel - w_div*d_min_to_selected each
    round (relevance pulls toward the query, the min-distance term pushes
    away from what's already picked). Expects (vid, neighbor, d_rel, vb)
    rows — vid the query id, d_rel the candidate's distance to it, vb the
    candidate vector — and returns k rows per query:
    (vid, sel_rank, neighbor, d_rel, d_div) with d_div = -1 on the first
    pick (nothing selected yet) and the min squared distance to the selected
    set afterwards.

    Integer weights over integral-double distances keep every marginal score
    exact, so ties (broken on neighbor id) and therefore the whole greedy
    trajectory are reproducible bit-for-bit by a SQL replay. Degenerate law
    (pinned in tests/test_similarity.py): w_div=0 reduces the selection to
    the plain top-k by (d_rel, neighbor).

    Scale shape: the K-1 greedy rounds unroll into chained joins against the
    latest 1-row-per-query pick — each round broadcast-sized work over the
    C-row-per-query shortlist, no shuffle wider than the per-query window."""

    def sqd(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    w_first = Window.partitionBy("vid").orderBy(
        F.col("d_rel").asc(), F.col("neighbor").asc()
    )
    pick = (
        shortlist.withColumn("__rn", F.row_number().over(w_first))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    outs = [
        pick.select(
            "vid",
            F.lit(1).alias("sel_rank"),
            "neighbor",
            "d_rel",
            F.lit(-1).cast("double").alias("d_div"),
        )
    ]
    cur = shortlist
    have_mind = False
    for t in range(2, k + 1):
        prev = pick.select(
            "vid", F.col("neighbor").alias("__pn"), F.col("vb").alias("__pv")
        )
        stepped = cur.join(prev, "vid").filter(F.col("neighbor") != F.col("__pn"))
        d_new = sqd(F.col("vb"), F.col("__pv"))
        mind = F.least(F.col("mind"), d_new) if have_mind else d_new
        cur = stepped.select("vid", "neighbor", "d_rel", "vb", mind.alias("mind"))
        have_mind = True
        w_t = Window.partitionBy("vid").orderBy(
            (F.col("d_rel") * w_rel - F.col("mind") * w_div).asc(),
            F.col("neighbor").asc(),
        )
        pick = (
            cur.withColumn("__rn", F.row_number().over(w_t))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        outs.append(
            pick.select(
                "vid",
                F.lit(t).alias("sel_rank"),
                "neighbor",
                "d_rel",
                F.col("mind").alias("d_div"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res
