"""Distributed graph analytics as DataFrame joins: fixed-point PageRank and
triangle counting. Third member of the graph toolkit next to the iterative
min-label connected components in functions/dedup.py (corpus dedup) — these are
the link-analysis shapes web-corpus curation uses for source quality weighting
(PageRank over the host graph; Common Crawl-scale pipelines weight documents by
host rank) and for community/spam structure signals (triangle density).

Spark shape / 100 TB notes:
- PageRank iteration = ONE join of the rank vector with the edge list on src +
  ONE groupBy(dst) sum — both shuffle on the node key, and co-partitioning the
  edge list by src (bucketing) makes the join exchange-free after the first
  iteration. Rank state is one row per node (vertices ≪ edges); the edge list
  is scanned once per iteration, never mutated. Fixed iteration count keeps
  the plan static (no driver-side convergence test over the data).
- Triangle counting uses the degree-ordered adjacency trick: orienting every
  undirected edge from the lexicographically smaller to the larger endpoint
  makes each triangle countable exactly once as wedge(a<b<c) + closing edge —
  two self-joins of the oriented edge list, no per-node neighborhood
  materialization.

Determinism contract (PageRank): ranks are FIXED-POINT integral doubles
(rank_fp ∈ [0, scale]); each iteration does
    contrib(u)  = floor(rank_fp(u) / outdeg(u))          -- one division+floor
    rank_fp(v)  = base + floor(d_num * sum(contrib) / d_den)
with sum over integral doubles (< 2^53 — exact, order-free) and
base = floor((d_den - d_num) * scale / d_den / n_nodes) computed once. Every
step is a correctly-rounded IEEE op on identical operands, so a SQL engine
replays the trajectory bit-for-bit — same idiom as kmeans_fit_exact. Dangling
mass (nodes with no out-edges) is dropped, not redistributed — declared
contract, mirrored by the oracle; ranks then sum to < scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.session import materialize


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    scale: float = 1e12,
    d_num: int = 85,
    d_den: int = 100,
) -> DataFrame:
    """(node, rank_fp, rank): fixed-point PageRank after `iterations` rounds.

    `edges` is a directed edge list; duplicate edges should be de-duplicated
    by the caller if multiplicity is not intended. `rank = rank_fp / scale` is
    the float view; `rank_fp` is the exact integral trajectory value.
    """
    # materialize the edge list ONCE: the graph is usually derived by an
    # expensive fact-side reduction (the suite's 5-way TPC-H join), and every
    # iteration references it — without a stage barrier each of the
    # `iterations` plans would re-execute that derivation. The checkpoint
    # truncates the lineage so iterations replan only dimension-sized joins.
    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")),
        eager=True,
    )
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct(),
        eager=True,
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        raise ValueError("pagerank over an empty graph")
    # explicit left-to-right division chain + floor — the exact expression the
    # SQL oracle computes, so both engines derive identical constants
    import math

    base = float(math.floor((d_den - d_num) * scale / d_den / n_nodes))
    init = float(math.floor(scale / n_nodes))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))

    ranks = nodes.withColumn("rank_fp", F.lit(init))
    for _ in range(iterations):
        contrib = (
            ranks.join(outdeg, ranks["node"] == outdeg["src"])
            .select(
                "src",
                F.floor(F.col("rank_fp") / F.col("outdeg"))
                .cast("double")
                .alias("contrib"),
            )
            .join(e, "src")
            .groupBy("dst")
            .agg(F.sum("contrib").alias("in_sum"))
        )
        # flat lineage per iteration: without this, iteration t's plan
        # re-executes iterations 1..t-1 (O(iter²) shuffles). Rank state is
        # one row per node — the checkpoint is vertex-sized.
        ranks = materialize(
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.floor(
                        F.lit(float(d_num))
                        * F.coalesce(F.col("in_sum"), F.lit(0.0))
                        / F.lit(float(d_den))
                    ).cast("double")
                ).alias("rank_fp"),
            ),
            eager=True,
        )
    return ranks.select(
        "node", "rank_fp", (F.col("rank_fp") / F.lit(scale)).alias("rank")
    )


def orient_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Canonical undirected edge set: (lo, hi) with lo < hi, distinct,
    self-loops dropped — the degree-ordered form triangle counting joins on."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    return e.select(
        F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
    ).distinct()


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """One row: (n_nodes, n_edges, n_triangles) of the undirected simple graph.

    wedge(a<b<c) from two joins of the oriented edge list, closed by a third
    equi-join — each triangle counted exactly once. All three joins are on
    node keys (shuffle- or broadcast-joinable); no neighborhood arrays, so
    skewed high-degree nodes cost |N(v)|² join rows, not driver memory."""
    # a checkpoint (not cache) so the shared oriented edge list is
    # materialized once for the three joins below but its blocks are released
    # by the ContextCleaner when the frame is GC'd — a plain cache() here
    # leaked executor storage across repeated calls in a long-lived session.
    und = materialize(orient_edges(edges, src, dst), eager=True)
    e1 = und.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = und.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = und.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = e1.join(e2, "b")
    tris = wedges.join(e3, ["a", "c"])
    nodes = und.select(F.col("lo").alias("n")).union(
        und.select(F.col("hi").alias("n"))
    )
    return tris.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles")).crossJoin(
        und.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    ).crossJoin(
        nodes.distinct().agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    ).select("n_nodes", "n_edges", "n_triangles")


def kcore_peel(
    edges: DataFrame, k: int, rounds: int, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, core_degree): nodes surviving `rounds` of k-core peeling on the
    undirected simple graph, with their degree among surviving edges.

    Each round removes every node of degree < k and all incident edges — the
    standard peeling; after enough rounds the survivor set IS the k-core
    (callers pin fixpoint with one extra round in tests). A fixed round count
    (not a convergence test) keeps the computation an unrollable, engine-
    replayable plan — the same determinism discipline as
    pagerank_fixed_point.

    Scale shape: a round is one degree aggregate (groupBy node over the
    current edge set, map-side combined) + two semi-joins to drop edges
    touching removed nodes. Edge state is checkpointed per round so
    lineage stays flat; state is O(|edges|), never per-round multiples."""
    active = materialize(orient_edges(edges, src, dst), eager=True)
    for _ in range(rounds):
        deg = (
            active.select(F.col("lo").alias("n"))
            .unionAll(active.select(F.col("hi").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n")
        active = materialize(
            active.join(keep.withColumnRenamed("n", "lo"), "lo", "left_semi")
            .join(keep.withColumnRenamed("n", "hi"), "hi", "left_semi")
            .select("lo", "hi"),
            eager=True,
        )
    return (
        active.select(F.col("lo").alias("node"))
        .unionAll(active.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .orderBy("node")
    )


def label_propagation(
    edges: DataFrame, rounds: int, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, label): synchronous label propagation (Raghavan et al. 2007)
    on the undirected simple graph — `rounds` rounds of every node adopting
    the MOST FREQUENT label among its neighbors (ties by smallest label),
    from singleton labels. The community-detection sibling of the min-label
    connected components in functions/dedup.duplicate_clusters: mode-consensus
    finds dense communities where min-propagation only finds connectivity —
    the web-graph spam/burst-cluster primitive.

    Determinism: synchronous updates (every round reads ONLY the previous
    round's labels) + the (count DESC, label ASC) tiebreak make the whole
    trajectory an unrollable, engine-replayable plan — the
    pagerank_fixed_point discipline; a fixed round count, not a convergence
    test.

    Scale shape: a round is one edge⋈label equi-join on the node key + one
    (node, label) count aggregate (map-side combined) + one per-node top-1
    window — all keyed on the node, so state is O(|edges|) per round and the
    per-round label frame is checkpointed to keep lineage flat."""
    from pyspark.sql import Window

    und = materialize(
        orient_edges(edges, src, dst)
        .selectExpr("lo AS e_src", "hi AS e_dst")
        .unionAll(
            orient_edges(edges, src, dst).selectExpr(
                "hi AS e_src", "lo AS e_dst"
            )
        ),
        eager=True,
    )
    labels = materialize(
        und.select(F.col("e_src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        eager=True,
    )
    for _ in range(rounds):
        counts = (
            und.join(
                labels.withColumnRenamed("node", "e_dst"), "e_dst"
            )
            .groupBy(F.col("e_src").alias("node"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("label").asc()
        )
        pick = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        labels = materialize(
            labels.join(pick, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            ),
            eager=True,
        )
    return labels.orderBy("node")


def local_triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, degree, n_tri): per-node degree and triangle membership over the
    undirected simple graph — the inputs of the local clustering coefficient
    (watts-strogatz) without materializing neighborhoods.

    Same degree-ordered wedge-close joins as triangle_count, but each closed
    triangle (a<b<c) is credited to ALL THREE corners before the per-node
    fold, so the count arrives via one explode of a 3-array — no second pass
    over the edge list. Skew cost is the same |N(v)|² join-row bound as the
    census; per-node state is two integers."""
    und = materialize(orient_edges(edges, src, dst), eager=True)
    e1 = und.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = und.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = und.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    tri_nodes = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    return deg.join(tri_nodes, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_tri"),
    )
