"""K-means (Lloyd's) over an embedding column — the trained-centroid version of
the IVF coarse quantizer (`similarity.py` uses the fixture's `label` as a stand-in
cell id; this module learns real cells).

Spark shape: per iteration, ONE equi-free assignment pass (centroids travel as
one broadcast matrix row — no shuffle) + ONE groupBy(cluster) partial
aggregate (map-side combined). Centroids live on the driver (k·d doubles — tiny);
the data never leaves executors.

Determinism: init is k-means|| free — centroids seed from the k lowest-id vectors
(deterministic everywhere); ties in nearest-centroid break toward the lower
cluster index. Vectors are quantized to integral doubles first
(`quantize_vectors`), whose cluster sums are exact in any accumulation order, so
every centroid is reproducible bit-for-bit and the fits are SQL-oracled (see
`kmeans_fit_exact`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sq_dist_col(vec_col, cent_col):
    """Squared L2 between two array columns — sequential index-order fold."""
    return F.aggregate(
        F.zip_with(vec_col, cent_col, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sq_dist(vec_col, centroid: list[float]):
    return _sq_dist_col(vec_col, F.lit([float(x) for x in centroid]))


def _cent_lit(centroids: list[list[float]]):
    """The whole centroid matrix as an array<array<double>> literal column.
    NOTE: PySpark's lit(list) still EXPANDS element-wise into O(k·d) Catalyst
    nodes — fine for the PQ codebooks (m·k·dsub is a constant ~512), but for
    an nlist=⌈√n⌉ coarse quantizer the per-use plan-build/analysis cost grows
    with the corpus. Those paths ship the matrix as broadcast DATA instead:
    `with_centroid_matrix` below."""
    return F.lit([[float(x) for x in c] for c in centroids])


def with_centroid_matrix(
    df: DataFrame, centroids: list[list[float]], col: str = "__cm"
) -> DataFrame:
    """Attach the centroid matrix as ONE array<array<double>> COLUMN via a
    broadcast single-row cross join — the scale-correct carrier for a grown
    coarse quantizer (r7): the expression tree stays constant-size however
    large nlist gets, the k·d doubles move as broadcast data (exactly like a
    broadcast dim), and there is still no shuffle on the fact side. The
    higher-order-function arithmetic over the column (transform + zip_with
    index-order folds) is bit-identical to the literal form."""
    spark = df.sparkSession
    row = [[[float(x) for x in c] for c in centroids]]
    cm = spark.createDataFrame([row], f"{col}: array<array<double>>")
    return df.crossJoin(F.broadcast(cm))


def _dists_col(vec_col, cm_col):
    """array<double> of squared distances from `vec_col` to every centroid in
    the matrix column `cm_col`, index-ordered."""
    return F.transform(cm_col, lambda c: _sq_dist_col(vec_col, c))


def assign_clusters(
    df: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """(id, cluster, sq_dist): nearest centroid per vector (ties → lower index).
    No shuffle: centroids travel as one broadcast matrix row; the fact side
    stays a single projection stage."""
    out = (
        with_centroid_matrix(
            df.select(
                F.col(id_col).alias("vid"),
                F.col(vec_col).cast("array<double>").alias("__v"),
            ),
            centroids,
        )
        .withColumn("__d", _dists_col(F.col("__v"), F.col("__cm")))
        .withColumn("cluster", F.expr("array_position(__d, array_min(__d))").cast("int") - 1)
        .withColumn("sq_dist", F.expr("array_min(__d)"))
    )
    return out.select("vid", "cluster", "sq_dist")


# -- cross-engine-exact variant (oracled) -----------------------------------------
def quantize_vectors(df: DataFrame, id_col: str, vec_col: str, scale: float = 1e6):
    """(vid, vq): components rounded to integral doubles round(x*scale).
    Integral doubles < 2^53 sum EXACTLY in IEEE arithmetic regardless of
    accumulation order — the property that makes `kmeans_fit_exact`'s centroid
    sums run-order independent and therefore SQL-oracle-able."""
    return df.select(
        F.col(id_col).alias("vid"),
        F.expr(
            f"transform(cast({vec_col} as array<double>), x -> round(x * {scale}))"
        ).alias("vq"),
    )


def kmeans_fit_exact(
    quantized: DataFrame, k: int, iterations: int
) -> list[list[float]]:
    """Lloyd's over quantized integral vectors with run-order-independent
    arithmetic — every number here is reproducible
    bit-for-bit by a SQL engine (see `suite/similarity_queries.py`'s
    `sim_kmeans_recall` oracle, which unrolls these exact iterations in DuckDB):

    - cluster sums: sums of integral doubles < 2^53 → exact, order-free;
    - centroids: one IEEE division sum/n → deterministic;
    - distances: sequential index-order fold of (x-c)^2 — the same fold
      DuckDB's list_aggregate computes;
    - init: the k lowest-vid vectors, cluster index in vid order;
    - fixed iteration count (no float-threshold early stop), empty clusters
      keep their previous centroid.

    Input: `quantize_vectors` output, cached by the caller if reused."""
    dim = len(quantized.first()["vq"])
    centroids = [r["vq"] for r in quantized.orderBy("vid").limit(k).collect()]
    for _ in range(iterations):
        # inline assignment (pure projection) — the previous assign_clusters +
        # join-back-on-vid shape paid a full key shuffle per iteration; the
        # numbers are bit-identical, only the plan changed (r6)
        assigned = with_centroid_matrix(quantized, centroids).withColumn(
            "__d", _dists_col(F.col("vq"), F.col("__cm"))
        ).withColumn(
            "cluster",
            F.expr("array_position(__d, array_min(__d))").cast("int") - 1,
        )
        agg = assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n"),
            F.array(*[F.sum(F.col("vq")[i]) for i in range(dim)]).alias("sums"),
        )
        rows = {r["cluster"]: r for r in agg.collect()}
        centroids = [
            [s / rows[c]["n"] for s in rows[c]["sums"]]
            if c in rows
            else centroids[c]
            for c in range(k)
        ]
    return centroids


def kmeans_fit_exact_local(
    rows: list[tuple[int, list[float]]], k: int, iterations: int
) -> list[list[float]]:
    """Driver-side Lloyd over an ALREADY-BOUNDED training sample — the
    arithmetic twin of `kmeans_fit_exact`, bit-identical by construction
    (pinned in tests/test_kmeans.py):

    - cluster sums: integral doubles < 2^53 sum exactly in any order, and
      Python float `+` is the same IEEE-754 add the JVM executes;
    - distances: sequential index-order fold of (x-c)*(x-c) — the same op
      sequence as the zip_with/aggregate fold;
    - init: the k lowest-vid rows; argmin ties break toward the lower index;
      empty clusters keep their previous centroid.

    Why it exists: the distributed loop costs one driver-coordinated job +
    one O(k·d) Catalyst tree PER ITERATION — pure overhead when the training
    set is a bounded sample (the FAISS protocol this suite follows: train on
    ≤512 vectors, assign the corpus once). Collect the sample, loop here,
    ship only the k·d centroid literals back into the plan."""
    ordered = sorted(rows, key=lambda r: r[0])
    centroids = [list(v) for _, v in ordered[:k]]
    dim = len(centroids[0])
    for _ in range(iterations):
        sums = [[0.0] * dim for _ in range(k)]
        counts = [0] * k
        for _, v in ordered:
            best, best_d = 0, None
            for c, cv in enumerate(centroids):
                d = 0.0
                for a, b in zip(v, cv):
                    d += (a - b) * (a - b)
                if best_d is None or d < best_d:
                    best, best_d = c, d
            counts[best] += 1
            s = sums[best]
            for i, a in enumerate(v):
                s[i] += a
        centroids = [
            [s / counts[c] for s in sums[c]] if counts[c] else centroids[c]
            for c in range(k)
        ]
    return centroids


def assign_local(
    rows: list[tuple[int, list[float]]], centroids: list[list[float]]
) -> list[tuple[int, int]]:
    """(vid, cluster) for already-collected rows — the driver-side twin of
    `assign_clusters` (same index-order distance fold, ties → lower index)."""
    out = []
    for vid, v in rows:
        best, best_d = 0, None
        for c, cv in enumerate(centroids):
            d = 0.0
            for a, b in zip(v, cv):
                d += (a - b) * (a - b)
            if best_d is None or d < best_d:
                best, best_d = c, d
        out.append((vid, best))
    return out


def kmeans_exact_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iterations: int,
    scale: float = 1e6,
) -> DataFrame:
    """(vid, cluster): learned-cell assignment from the exact-arithmetic fit —
    the coarse quantizer for an oracled IVF recall measurement."""
    q = quantize_vectors(df, id_col, vec_col, scale=scale).cache()
    centroids = kmeans_fit_exact(q, k, iterations)
    cells = assign_clusters(q, "vid", "vq", centroids).select("vid", "cluster")
    q.unpersist()
    return cells


def probe_cells(
    quantized: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(vid, cluster): each vector paired with its `nprobe` NEAREST centroid
    cells — the IVF multi-probe expansion (FAISS's nprobe knob). nprobe=1 is
    the home-cell assignment; raising it trades linearly more candidates for
    recall, and because the probed sets are supersets, recall is MONOTONE in
    nprobe (pinned by tests). Pure projection + explode: distances to the k
    centroid literals, lexicographic (dist, cluster) sort for deterministic
    ties, slice nprobe, explode — no join, no shuffle. `keep_cols` carries
    input columns (e.g. the vector itself) through the explode, so callers
    that need them don't pay a join back to the source frame."""
    if not 1 <= nprobe <= len(centroids):
        raise ValueError(f"nprobe must be in [1, {len(centroids)}], got {nprobe}")
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1)).cast("array<int>")
    pairs = F.zip_with(
        F.col("__cm"),
        idx,
        lambda c, i: F.struct(
            _sq_dist_col(F.col("vq"), c).alias("d"), i.alias("c")
        ),
    )
    probed = F.slice(F.array_sort(pairs), 1, nprobe)
    return with_centroid_matrix(quantized, centroids).select(
        "vid", *keep_cols, F.explode(probed).alias("__p")
    ).select("vid", *keep_cols, F.col("__p.c").alias("cluster"))


def two_level_index(
    centroids: list[list[float]],
    iterations: int = 2,
) -> tuple[list[list[float]], list[list[int]], list[list[list[float]]]]:
    """Group the nlist coarse centroids into ~sqrt(nlist) GROUPS — the
    hierarchical coarse quantizer that removes IVF's last superlinear term.

    Flat corpus assignment against nlist = ceil(sqrt(n)) cells costs
    n·nlist·d = n^1.5·d (the r7 scale residual documented in SCALE.md §12).
    Assigning first to one of g = ceil(sqrt(nlist)) group centers and then
    only among that group's cells costs n·(g + nlist/g)·d ≈ n·n^0.25·d —
    the same two-level trick as FAISS's IMI / hierarchical coarse quantizers.

    Everything stays driver-side and exact-arithmetic so a SQL oracle replays
    it bit-for-bit:
    - group-Lloyd inputs are the cell centroids RE-QUANTIZED to integral
      doubles via floor(cv + 0.5) (half-up — identical in Python and SQL,
      unlike Python's banker's round): integral sums are order-independent,
      so the group centers are replayable means;
    - group training and the cells→groups argmin reuse the local Lloyd twins
      (kmeans_fit_exact_local / assign_local: index-order folds, ties to the
      lower index);
    - groups that end up EMPTY are dropped (compacted in ascending group
      order), so stage-1 argmin never strands a vector in a memberless group.

    Returns (group_centers, cell_ids_by_group, cell_centroids_by_group), the
    latter two parallel and in ascending cell-id order within each group.
    """
    import math

    nlist = len(centroids)
    g = max(2, math.ceil(math.sqrt(nlist)))
    quant = [
        (cid, [math.floor(x + 0.5) for x in cv]) for cid, cv in enumerate(centroids)
    ]
    gcents = kmeans_fit_exact_local(quant, g, iterations)
    membership = assign_local(quant, gcents)
    ids_by_group: list[list[int]] = [[] for _ in range(g)]
    for cid, grp in membership:
        ids_by_group[grp].append(cid)
    kept = [gi for gi in range(g) if ids_by_group[gi]]
    gc = [gcents[gi] for gi in kept]
    gids = [sorted(ids_by_group[gi]) for gi in kept]
    gcvs = [[[float(x) for x in centroids[cid]] for cid in ids] for ids in gids]
    return gc, gids, gcvs


def assign_clusters_two_level(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    group_iterations: int = 2,
) -> DataFrame:
    """(vid, cluster, sq_dist): hierarchical nearest-cell assignment — argmin
    over ~sqrt(nlist) group centers, then argmin over only that group's cells.
    Same output contract as `assign_clusters` (the assignment RULE differs:
    a vector whose true nearest cell lives in a different group lands in its
    group's best cell instead — the standard hierarchical-quantizer trade,
    measured by the recall queries, replayed exactly by their oracles).

    Still a single shuffle-free projection: the group-center matrix and the
    per-group (ids, centroids) tables ride as ONE broadcast row; per vector
    the work is g + |cells in its group| index-order distance folds."""
    gc, gids, gcvs = two_level_index(centroids, group_iterations)
    spark = df.sparkSession
    carrier = spark.createDataFrame(
        [[
            [[float(x) for x in c] for c in gc],
            [[int(i) for i in ids] for ids in gids],
            [[[float(x) for x in cv] for cv in cvs] for cvs in gcvs],
        ]],
        "__gm: array<array<double>>, __gids: array<array<int>>, "
        "__gcvs: array<array<array<double>>>",
    )
    v = F.col("__v")
    gd = _dists_col(v, F.col("__gm"))
    gpos = F.expr("array_position(__gd, array_min(__gd))")
    sub_d = F.transform(F.col("__gcvs_sel"), lambda c: _sq_dist_col(v, c))
    out = (
        df.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .crossJoin(F.broadcast(carrier))
        .withColumn("__gd", gd)
        .withColumn("__gp", gpos)
        .withColumn("__gids_sel", F.expr("element_at(__gids, CAST(__gp AS INT))"))
        .withColumn("__gcvs_sel", F.expr("element_at(__gcvs, CAST(__gp AS INT))"))
        .withColumn("__d", sub_d)
        .withColumn(
            "__p", F.expr("array_position(__d, array_min(__d))").cast("int")
        )
        .withColumn("cluster", F.expr("element_at(__gids_sel, __p)"))
        .withColumn("sq_dist", F.expr("array_min(__d)"))
    )
    return out.select("vid", "cluster", "sq_dist")


def assign_local_two_level(
    rows: list[tuple[int, list[float]]],
    centroids: list[list[float]],
    group_iterations: int = 2,
) -> list[tuple[int, int]]:
    """(vid, cluster) for already-collected rows under the TWO-LEVEL rule —
    the driver-side twin of `assign_clusters_two_level` (same index-order
    distance folds, group ties to the lower kept-group index, cell ties to
    the lower cell id within the group). The residual IVFADC uses this to
    recenter its bounded codebook-training sample consistently with the
    distributed corpus assignment."""
    gc, gids, gcvs = two_level_index(centroids, group_iterations)
    out = []
    for vid, v in rows:
        bg, bd = 0, None
        for gi, gv in enumerate(gc):
            d = 0.0
            for a, b in zip(v, gv):
                d += (a - b) * (a - b)
            if bd is None or d < bd:
                bg, bd = gi, d
        bc, bd2 = gids[bg][0], None
        for cid, cv in zip(gids[bg], gcvs[bg]):
            d = 0.0
            for a, b in zip(v, cv):
                d += (a - b) * (a - b)
            if bd2 is None or d < bd2:
                bc, bd2 = cid, d
        out.append((vid, bc))
    return out
