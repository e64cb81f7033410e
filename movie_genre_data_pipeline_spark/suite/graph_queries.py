"""Graph-analytics queries over the TPC-H nation trade graph (functions/graph.py):
fixed-point PageRank and triangle counting.

The graph: a directed edge (supplier nation → customer nation) exists when any
lineitem ships between them (self-trade excluded). Building it is itself a
scale-shaped workload — a 5-way join over lineitem/orders/customer/supplier/
nation that DISTINCT-reduces to at most |nations|² rows, with partial
aggregation collapsing the fact-side volume map-side before any shuffle; the
graph algorithms then run on the dimension-sized edge list. The same operators
run unchanged on a 100 TB host-link graph — rank state is one row per node and
each PageRank iteration is one join + one groupBy on the node key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.functions.graph import (
    pagerank_fixed_point,
    triangle_count,
)
from movie_genre_data_pipeline_spark.session import materialize
from movie_genre_data_pipeline_spark.suite import QuerySpec, load

PR_ITERS = 5
PR_SCALE = 1e12

_EDGES_SQL = """
  SELECT DISTINCT ns.n_name AS src, nc.n_name AS dst
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
  WHERE ns.n_name <> nc.n_name
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst")
    )
    return (
        li.select("l_orderkey", "l_suppkey")
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def q_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over nation trade flows — the source-quality-weighting shape
    (rank hosts by link structure, weight their documents). Fixed-point
    integral arithmetic end to end (functions/graph.py determinism contract),
    so the DuckDB oracle replays all 5 iterations bit-for-bit, including the
    integral rank_fp trajectory values themselves."""
    edges = _trade_edges(spark, sf_dir)
    pr = pagerank_fixed_point(edges, "src", "dst", iterations=PR_ITERS, scale=PR_SCALE)
    return pr.select(
        F.col("node").alias("nation"),
        F.col("rank_fp").cast("bigint").alias("rank_fp"),
        F.round("rank", 6).alias("rank"),
    )


def _pagerank_oracle() -> str:
    d_num, d_den = 85, 100
    parts = [
        f"edges AS ({_EDGES_SQL})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        "outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM edges GROUP BY src)",
        f"""r0 AS (SELECT node, FLOOR({PR_SCALE!r} / n) AS rank_fp
       FROM nodes CROSS JOIN nn)""",
    ]
    for t in range(1, PR_ITERS + 1):
        p = t - 1
        parts.append(
            f"""c{t} AS (SELECT e.dst, SUM(FLOOR(r.rank_fp / o.od)) AS in_sum
       FROM r{p} r JOIN outdeg o ON o.src = r.node
       JOIN edges e ON e.src = r.node
       GROUP BY e.dst),
r{t} AS (SELECT n.node,
                FLOOR({d_den - d_num} * {PR_SCALE!r} / {d_den} / nn.n)
                + FLOOR({d_num}.0 * COALESCE(c.in_sum, 0.0) / {d_den}.0)
                  AS rank_fp
         FROM nodes n CROSS JOIN nn LEFT JOIN c{t} c ON c.dst = n.node)"""
        )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT node AS nation,
       CAST(rank_fp AS BIGINT) AS rank_fp,
       ROUND(rank_fp / {PR_SCALE!r}, 6) AS rank
FROM r{PR_ITERS}
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the undirected trade graph — the degree-ordered
    two-join wedge-close plan; community/spam density structure at any edge
    cardinality (each triangle counted exactly once, no neighborhood
    materialization)."""
    return triangle_count(_trade_edges(spark, sf_dir), "src", "dst")


Q_TRIANGLE_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi FROM edges
),
nodes AS (SELECT lo AS n FROM und UNION SELECT hi FROM und),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM und e1
  JOIN und e2 ON e2.lo = e1.hi
  JOIN und e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
       n_triangles
FROM tri
"""


QUERIES: dict[str, QuerySpec] = {
    "graph_pagerank_trade": QuerySpec(q_pagerank_trade, _pagerank_oracle()),
    "graph_triangle_count": QuerySpec(q_triangle_count, Q_TRIANGLE_ORACLE),
}


# -- k-core of the strong-trade subgraph (r6) --------------------------------------------
KCORE_K = 6
KCORE_ROUNDS = 5


def q_kcore_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition over the STRONG-trade subgraph: weight every
    directed nation pair by distinct orders, keep the top third of edges by
    (weight, src, dst) — a rank cut, not an absolute threshold, so the
    subgraph stays comparable across scale tiers — then peel nodes of
    undirected degree < k for a fixed number of rounds
    (functions/graph.kcore_peel). The dense-community extraction used for
    spam/burst structure in web-graph curation; a round is one degree
    aggregate + two semi-joins, state O(|edges|)."""
    from pyspark.sql import Window

    from movie_genre_data_pipeline_spark.functions.graph import kcore_peel

    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    ns = n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src"))
    nc = n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst"))
    weighted = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(ns, s["s_nationkey"] == F.col("sk"))
        .join(nc, c["c_nationkey"] == F.col("ck"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count_distinct(o["o_orderkey"]).alias("wt"))
    )
    w = Window.orderBy(F.col("wt").desc(), "src", "dst")
    ranked = weighted.select(
        "src",
        "dst",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("total"),
    )
    strong = ranked.filter(F.col("rn") <= F.floor(F.col("total") / 3)).select(
        "src", "dst"
    )
    return kcore_peel(strong, k=KCORE_K, rounds=KCORE_ROUNDS)


def _kcore_oracle() -> str:
    head = f"""
WITH w AS MATERIALIZED (
  SELECT ns.n_name AS src, nc.n_name AS dst,
         COUNT(DISTINCT o.o_orderkey) AS wt
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
  WHERE ns.n_name <> nc.n_name
  GROUP BY 1, 2
),
ranked AS MATERIALIZED (
  SELECT src, dst,
         ROW_NUMBER() OVER (ORDER BY wt DESC, src, dst) AS rn,
         COUNT(*) OVER () AS total
  FROM w
),
e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi
  FROM ranked WHERE rn <= total // 3 AND src <> dst
)"""
    rounds = []
    prev = "e0"
    for r in range(KCORE_ROUNDS):
        rounds.append(
            f""",
d{r} AS MATERIALIZED (
  SELECT n, COUNT(*) AS d FROM (
    SELECT lo AS n FROM {prev} UNION ALL SELECT hi FROM {prev}
  ) GROUP BY n
),
s{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE d >= {KCORE_K}),
e{r + 1} AS MATERIALIZED (
  SELECT lo, hi FROM {prev}
  WHERE lo IN (SELECT n FROM s{r}) AND hi IN (SELECT n FROM s{r})
)"""
        )
        prev = f"e{r + 1}"
    tail = f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
  SELECT lo AS node FROM {prev} UNION ALL SELECT hi FROM {prev}
) GROUP BY node ORDER BY node
"""
    return head + "".join(rounds) + tail


QUERIES["graph_kcore_trade"] = QuerySpec(q_kcore_trade, _kcore_oracle())


# -- recursive-CTE transitive closure (r8) ------------------------------------------------
# Spark 4 supports WITH RECURSIVE natively — iteration INSIDE Catalyst, the
# SQL surface every warehouse reachability/hierarchy query uses. The whole
# statement below is ONE ANSI string executed VERBATIM by both engines
# (Spark over temp views, DuckDB over its views) — the strongest possible
# oracle form: not merely equivalent plans, the identical query text.
_REACH_SQL = f"""
WITH RECURSIVE edges AS ({_EDGES_SQL}),
r(node, hops) AS (
  SELECT (SELECT MIN(src) FROM edges), 0
  UNION ALL
  SELECT e.dst, r.hops + 1
  FROM r JOIN edges e ON e.src = r.node
  WHERE r.hops < 3
)
SELECT node, CAST(MIN(hops) AS BIGINT) AS min_hops
FROM r GROUP BY node
"""


def q_graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability over the nation trade graph via a NATIVE recursive
    CTE — shortest hop count from the lexicographically-first exporter to
    every nation reachable in ≤ 3 hops. The recursion runs on the
    dimension-sized edge list (≤ |nations|² rows after the fact-side
    DISTINCT reduction), so each recursive step is a broadcast-sized join
    however large the fact tables are; the hop cap bounds path blowup the
    way a production hierarchy query bounds depth."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_REACH_SQL)


QUERIES["graph_reachability"] = QuerySpec(q_graph_reachability, _REACH_SQL)


# -- community detection: synchronous label propagation (r12) -----------------------------
LPA_ROUNDS = 4
LPA_CUT_DEN = 6  # keep the top 1/6 of directed edges by weight — sparser than
# the kcore cut so real community structure (not one dense blob) survives


def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the STRONG-trade subgraph by synchronous
    label propagation (functions/graph.label_propagation): weight every
    directed nation pair by distinct orders, keep the top sixth of edges by
    (weight, src, dst) — the same rank-cut discipline as the kcore query,
    tightened so the surviving graph has genuine cluster structure — then 4
    rounds of mode-label consensus from singleton labels. The
    dense-community sibling of min-label connected components (dedup
    clustering): where CC answers "reachable?", LPA answers "densely tied?"
    — the web-graph spam/burst-community primitive. Deterministic end to
    end ((count DESC, label ASC) tiebreaks, synchronous rounds), so the
    DuckDB oracle replays the whole trajectory round for round."""
    from pyspark.sql import Window

    from movie_genre_data_pipeline_spark.functions.graph import (
        label_propagation,
    )

    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    ns = n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src"))
    nc = n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst"))
    weighted = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(ns, s["s_nationkey"] == F.col("sk"))
        .join(nc, c["c_nationkey"] == F.col("ck"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count_distinct(o["o_orderkey"]).alias("wt"))
    )
    w = Window.orderBy(F.col("wt").desc(), "src", "dst")
    ranked = weighted.select(
        "src",
        "dst",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("total"),
    )
    strong = ranked.filter(
        F.col("rn") <= F.floor(F.col("total") / LPA_CUT_DEN)
    ).select("src", "dst")
    return label_propagation(strong, rounds=LPA_ROUNDS)


def _lpa_oracle() -> str:
    head = f"""
WITH w AS MATERIALIZED (
  SELECT ns.n_name AS src, nc.n_name AS dst,
         COUNT(DISTINCT o.o_orderkey) AS wt
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
  WHERE ns.n_name <> nc.n_name
  GROUP BY 1, 2
),
ranked AS MATERIALIZED (
  SELECT src, dst,
         ROW_NUMBER() OVER (ORDER BY wt DESC, src, dst) AS rn,
         COUNT(*) OVER () AS total
  FROM ranked_src
),
e AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi
  FROM ranked WHERE rn <= total // {LPA_CUT_DEN}
),
u AS MATERIALIZED (
  SELECT lo AS e_src, hi AS e_dst FROM e
  UNION ALL SELECT hi, lo FROM e
),
l0 AS MATERIALIZED (
  SELECT DISTINCT e_src AS node, e_src AS label FROM u
)""".replace("ranked_src", "w")
    rounds = []
    prev = "l0"
    for r in range(1, LPA_ROUNDS + 1):
        rounds.append(
            f""",
c{r} AS MATERIALIZED (
  SELECT u.e_src AS node, l.label, COUNT(*) AS c
  FROM u JOIN {prev} l ON l.node = u.e_dst
  GROUP BY 1, 2
),
p{r} AS MATERIALIZED (
  SELECT node, label FROM c{r}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY node
                             ORDER BY c DESC, label ASC) = 1
),
l{r} AS MATERIALIZED (
  SELECT o.node, COALESCE(p.label, o.label) AS label
  FROM {prev} o LEFT JOIN p{r} p ON p.node = o.node
)"""
        )
        prev = f"l{r}"
    tail = f"""
SELECT node, label FROM {prev} ORDER BY node
"""
    return head + "".join(rounds) + tail


QUERIES["graph_label_propagation"] = QuerySpec(
    q_graph_label_propagation, _lpa_oracle()
)


# -- link prediction: Adamic-Adar over the supplier co-service graph (r13) ----------------
# The recommendation-shaped graph workload the family was missing: predict
# which SUPPLIER pairs are likely to co-serve, scored by Adamic-Adar
# (Σ_z 1/ln deg(z) over shared customers z — the classic link-prediction
# baseline that discounts promiscuous neighbors; Adamic & Adar 2003). The
# bipartite supplier→customer edge list comes from one lineitem⋈orders
# pass DISTINCT-reduced to the (supplier, customer) grain; pair generation
# is an EQUI-JOIN on the shared customer, never a supplier×supplier cross —
# and the one quadratic danger (a hot customer served by thousands of
# suppliers contributes deg² pairs) is handled with the LSH/ER family's
# honest-capping discipline: customers with deg > AA_DEG_CAP are EXCLUDED
# from pair generation (they carry almost no Adamic-Adar mass anyway —
# that is the point of the 1/ln weight) and the excluded count is
# published as an oracle-checked column, so the coverage trade is visible,
# not silent. Exactness: each neighbor's weight is quantized ONCE
# (FLOOR(1e6/ln(deg) + 0.5), deg ≥ 2 so ln > 0) and per-pair scores are
# exact integer sums; the top-20 readout uses the (score DESC, s1, s2)
# total order both engines share. Scale shape: one fact scan → distinct
# bipartite edges; deg is a customer-keyed count; pair volume ≤ cap ×
# |edges|; the readout is TakeOrderedAndProject, never a global sort.
AA_DEG_CAP = 64
AA_TOP = 20
_AA_W_MICRO = (
    "CAST(FLOOR(CAST(1000000 AS DOUBLE) / LN(CAST(deg AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    edges = (
        li.select("l_orderkey", "l_suppkey")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_suppkey").cast("bigint").alias("s"),
            F.col("o_custkey").cast("bigint").alias("c"),
        )
        .distinct()
    )
    deg = edges.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    kept = deg.filter(
        (F.col("deg") >= 2) & (F.col("deg") <= AA_DEG_CAP)
    ).selectExpr("c", "deg", f"{_AA_W_MICRO} AS w_micro")
    e2 = edges.join(kept, "c")
    a = e2.select(F.col("c"), F.col("s").alias("s1"), F.col("w_micro"))
    b = e2.select(F.col("c").alias("c2"), F.col("s").alias("s2"))
    pairs = a.join(b, (F.col("c") == F.col("c2")) & (F.col("s1") < F.col("s2")))
    scored = pairs.groupBy("s1", "s2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared"),
        F.sum("w_micro").cast("bigint").alias("aa_micro"),
    )
    scored = materialize(scored)
    stats = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs")
    ).crossJoin(
        F.broadcast(
            deg.agg(
                F.sum(F.when(F.col("deg") > AA_DEG_CAP, 1).otherwise(0))
                .cast("bigint")
                .alias("n_hot_excluded")
            )
        )
    )
    top = scored.orderBy(
        F.col("aa_micro").desc(), F.col("s1"), F.col("s2")
    ).limit(AA_TOP)
    return top.crossJoin(F.broadcast(stats)).select(
        "s1",
        "s2",
        "n_shared",
        "aa_micro",
        "n_candidate_pairs",
        "n_hot_excluded",
    )


Q_ADAMIC_ADAR_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT CAST(l.l_suppkey AS BIGINT) AS s,
         CAST(o.o_custkey AS BIGINT) AS c
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
deg AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
kept AS (
  SELECT c, deg, {_AA_W_MICRO} AS w_micro
  FROM deg WHERE deg >= 2 AND deg <= {AA_DEG_CAP}
),
e2 AS (SELECT e.c, e.s, k.w_micro FROM edges e JOIN kept k USING (c)),
pairs AS (
  SELECT a.s AS s1, b.s AS s2, a.w_micro
  FROM e2 a JOIN e2 b ON a.c = b.c AND a.s < b.s
),
scored AS (
  SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n_shared,
         CAST(SUM(w_micro) AS BIGINT) AS aa_micro
  FROM pairs GROUP BY 1, 2
),
stats AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM scored) AS n_candidate_pairs,
         (SELECT CAST(SUM(CASE WHEN deg > {AA_DEG_CAP} THEN 1 ELSE 0 END)
                      AS BIGINT) FROM deg) AS n_hot_excluded
)
SELECT s1, s2, n_shared, aa_micro, n_candidate_pairs, n_hot_excluded
FROM (SELECT * FROM scored
      ORDER BY aa_micro DESC, s1, s2 LIMIT {AA_TOP}) t
CROSS JOIN stats
"""


QUERIES["graph_adamic_adar"] = QuerySpec(q_graph_adamic_adar, Q_ADAMIC_ADAR_ORACLE)


# -- degree assortativity of the co-service graph (r13) -----------------------------------
# The mixing-structure readout next to the link predictor: do high-degree
# suppliers serve high-degree customers (assortative, r > 0) or do hubs
# attach to leaves (disassortative, r < 0 — the typical bipartite
# commerce/web shape, Newman 2002)? Computed as the Pearson correlation of
# the endpoint degrees ACROSS EDGES of the supplier–customer bipartite
# graph — the quantity that decides whether degree-targeted sampling or
# hub-first dedup will starve one side. Exactness: degrees are exact
# BIGINTs, the five moments are exact DECIMAL(38,0) sums (Σxy ~ E·d² passes
# 2^63 early), and r resolves through the SAME shared double expression the
# ACF ladder uses (_ACF_R_MICRO — one spell, every Pearson readout). Scale
# shape: edges stay data-sized end to end — two degree aggregates, two
# keyed joins back onto the edge list, one map-side-combined 1-row moment
# fold; no pairwise fan-out anywhere (contrast Adamic-Adar, which must cap).
def assortativity_from_edges(edges: DataFrame) -> DataFrame:
    """The mixing-coefficient tail over a DISTINCT (s, c) edge set, however
    accumulated (one batch reduction or a union-folded edge ledger) —
    shared by the batch query and the streaming twin."""
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        _ACF_R_MICRO,
    )

    edges = materialize(edges)
    sdeg = edges.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    cdeg = edges.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    joined = edges.join(sdeg, "s").join(cdeg, "c")
    sums = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    counts = sdeg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers")
    ).crossJoin(
        F.broadcast(
            cdeg.agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        )
    )
    return sums.crossJoin(F.broadcast(counts)).selectExpr(
        "n AS n_edges",
        "n_suppliers",
        "n_customers",
        f"{_ACF_R_MICRO} AS assortativity_micro",
    )


def q_graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    edges = (
        li.select("l_orderkey", "l_suppkey")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_suppkey").cast("bigint").alias("s"),
            F.col("o_custkey").cast("bigint").alias("c"),
        )
        .distinct()
    )
    return assortativity_from_edges(edges)


def _assortativity_oracle() -> str:
    from movie_genre_data_pipeline_spark.suite.timeseries_queries import (
        _ACF_R_MICRO,
    )

    return f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT CAST(l.l_suppkey AS BIGINT) AS s,
         CAST(o.o_custkey AS BIGINT) AS c
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
sdeg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS x FROM edges GROUP BY 1),
cdeg AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS y FROM edges GROUP BY 1),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
         SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
  FROM edges JOIN sdeg USING (s) JOIN cdeg USING (c)
),
counts AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sdeg) AS n_suppliers,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cdeg) AS n_customers
)
SELECT n AS n_edges, n_suppliers, n_customers,
       {_ACF_R_MICRO} AS assortativity_micro
FROM sums CROSS JOIN counts
"""


QUERIES["graph_degree_assortativity"] = QuerySpec(
    q_graph_degree_assortativity, _assortativity_oracle()
)


# -- harmonic centrality via all-pairs recursive BFS (r13) ---------------------------------
# The centrality that stays defined on DISCONNECTED graphs (Boldi & Vigna
# 2014): H(s) = Σ_{v≠s} 1/d(s,v), with unreachable nodes contributing an
# honest 0 instead of poisoning the sum the way closeness' Σd does. Like
# graph_reachability, the WHOLE statement is ONE ANSI string executed
# VERBATIM by both engines (Spark 4's native WITH RECURSIVE over temp
# views; DuckDB over its views) — the strongest oracle form. The recursion
# seeds EVERY node (all-pairs BFS) and the hop cap bounds path blowup; the
# frontier is the dimension-sized edge list (≤ |nations|² after the
# fact-side DISTINCT reduction), so all-pairs stays a broadcast-scale
# iteration however large the fact side grows — the same grain-bound
# argument as the k-core peel. Per-distance terms quantize once
# (FLOOR(1e6/d + 0.5), d a positive integer) and fold as BIGINTs.
_HARMONIC_SQL = f"""
WITH RECURSIVE edges AS ({_EDGES_SQL}),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
r(s, node, hops) AS (
  SELECT node, node, 0 FROM nodes
  UNION ALL
  SELECT r.s, e.dst, r.hops + 1
  FROM r JOIN edges e ON e.src = r.node
  WHERE r.hops < 3
),
m AS (
  SELECT s, node, CAST(MIN(hops) AS BIGINT) AS d
  FROM r GROUP BY s, node
)
SELECT s AS nation,
       CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_reached,
       CAST(SUM(CASE WHEN d > 0
            THEN CAST(FLOOR(1000000.0 / d + 0.5) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS harmonic_micro
FROM m
GROUP BY s
ORDER BY s
"""


def q_graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs BFS harmonic centrality over the nation trade graph — see
    _HARMONIC_SQL (one shared ANSI string, executed verbatim by both
    engines)."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_HARMONIC_SQL)


QUERIES["graph_harmonic_centrality"] = QuerySpec(
    q_graph_harmonic_centrality, _HARMONIC_SQL
)


# -- local clustering coefficients (r14) ---------------------------------------------------
# The transitivity profile of the trade graph: per-node Watts-Strogatz local
# clustering C(v) = 2·T(v)/(deg(v)·(deg(v)−1)) — how close each nation's
# trading neighborhood is to a clique. Community density structure at node
# grain (the census gives one number; spam/collusion screens want to know
# WHICH node sits in an abnormally closed neighborhood). Exactness: degree
# and per-node triangle membership are exact integers from the same
# degree-ordered wedge-close joins as graph_triangle_count; C quantizes once
# through one shared double division with the half-up spell (deg < 2 ⇒ 0 by
# convention — no wedges to close). Scale shape: the census joins' |N(v)|²
# bound; per-node state is two integers, and the node set here is nation-
# grain (the harmonic-centrality precedent — edges derive from one linear
# lineitem scan).
_LCC_MICRO = (
    "CASE WHEN degree < 2 THEN CAST(0 AS BIGINT)"
    " ELSE CAST(FLOOR(CAST(2000000 AS DOUBLE) * CAST(n_tri AS DOUBLE)"
    " / (CAST(degree AS DOUBLE) * CAST(degree - 1 AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT) END"
)


def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_genre_data_pipeline_spark.functions.graph import (
        local_triangle_counts,
    )

    counts = local_triangle_counts(_trade_edges(spark, sf_dir), "src", "dst")
    return counts.selectExpr(
        "node AS nation",
        "degree",
        "n_tri",
        f"{_LCC_MICRO} AS lcc_micro",
    ).orderBy("nation")


_CLUSTERING_SQL = f"""
WITH edges AS ({_EDGES_SQL}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi FROM edges
),
tris AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM und e1
  JOIN und e2 ON e2.lo = e1.hi
  JOIN und e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
),
tri_nodes AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
    SELECT a AS node FROM tris
    UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris
  ) GROUP BY 1
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT lo AS node FROM und UNION ALL SELECT hi FROM und
  ) GROUP BY 1
),
joined AS (
  SELECT d.node, d.degree,
         CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri
  FROM deg d LEFT JOIN tri_nodes t ON t.node = d.node
)
SELECT node AS nation, degree, n_tri, {_LCC_MICRO} AS lcc_micro
FROM joined ORDER BY nation
"""

QUERIES["graph_clustering_coeff"] = QuerySpec(
    q_graph_clustering_coeff, _CLUSTERING_SQL
)
