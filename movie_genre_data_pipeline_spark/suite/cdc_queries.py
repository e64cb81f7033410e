"""CDC / data-lifecycle queries (operators/cdc.py): snapshot diffing and
right-to-be-forgotten cascade purging — the change-feed and privacy-deletion
shapes a lakehouse serves, derived from plain snapshots with joins (no table
format required).

The "snapshots" are deterministic derivations of `orders` (a date-cut old
snapshot; a later-cut new snapshot with simulated corrections and deletions),
so both engines construct identical inputs and the classified diff is
oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.operators.cdc import purge_keys, snapshot_diff
from movie_genre_data_pipeline_spark.session import materialize
from movie_genre_data_pipeline_spark.suite import QuerySpec, load

OLD_CUT = "1999-01-01"
NEW_CUT = "2000-01-01"
CORRECT_MOD = 13  # orderkeys getting a price correction in the new snapshot
DELETE_MOD = 41  # old-snapshot orderkeys deleted in the new snapshot


def _snapshots(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    orders = load(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < F.lit(OLD_CUT).cast("timestamp")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        orders.filter(F.col("o_orderdate") < F.lit(NEW_CUT).cast("timestamp"))
        .filter(
            ~(
                (F.col("o_orderkey") % DELETE_MOD == 0)
                & (F.col("o_orderdate") < F.lit(OLD_CUT).cast("timestamp"))
            )
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % CORRECT_MOD == 0,
                F.round(F.col("o_totalprice") * 2, 2),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )
    return old, new


def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the change feed between two order snapshots: ONE full-outer join
    on the key + null-safe struct comparison classifies every key as
    inserted / deleted / updated / unchanged; the summary prices the feed
    (row counts + total price drift per class)."""
    old, new = _snapshots(spark, sf_dir)
    diff = snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(
            F.sum(
                F.coalesce(F.col("new_o_totalprice"), F.lit(0.0))
                - F.coalesce(F.col("old_o_totalprice"), F.lit(0.0))
            ),
            2,
        ).alias("price_drift"),
    )


Q_CDC_SNAPSHOT_DIFF_ORACLE = f"""
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderdate < TIMESTAMP '{OLD_CUT}'
),
new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % {CORRECT_MOD} = 0
              THEN ROUND(o_totalprice * 2, 2) ELSE o_totalprice END
           AS o_totalprice
  FROM orders
  WHERE o_orderdate < TIMESTAMP '{NEW_CUT}'
    AND NOT (o_orderkey % {DELETE_MOD} = 0
             AND o_orderdate < TIMESTAMP '{OLD_CUT}')
),
diff AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
              WHEN n.o_orderkey IS NULL THEN 'deleted'
              WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                   AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
              THEN 'unchanged'
              ELSE 'updated' END AS change_type,
         o.o_totalprice AS old_p, n.o_totalprice AS new_p
  FROM old o FULL OUTER JOIN new n USING (o_orderkey)
)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(COALESCE(new_p, 0) - COALESCE(old_p, 0)), 2) AS price_drift
FROM diff GROUP BY change_type
"""


# -- right-to-be-forgotten cascade ------------------------------------------------------
PURGE_MOD = 53  # custkeys filing deletion requests


def q_purge_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy deletion propagation: a tombstone set of customers cascades
    through orders (by custkey) into lineitem (by the purged orderkeys).
    The rewrite path is operators/cdc.py:purge_keys (anti/semi splits —
    pinned by pytest); the AUDIT here is the plan you'd run at 100 TB: each
    table scanned ONCE with a broadcast membership flag, kept/purged counted
    in the same hash aggregate (a kept-count + purged-count per table via
    separate anti/semi frames would re-scan every table twice). The
    tombstone and dead-order key sets are checkpointed once — request-sized
    and bounded by the purged-order count respectively."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    tomb = materialize(
        cust.filter(F.col("c_custkey") % PURGE_MOD == 0)
        .select("c_custkey"),
        eager=True,
    )
    _, dead = purge_keys(
        orders.select("o_orderkey", F.col("o_custkey").alias("c_custkey")),
        tomb,
        ["c_custkey"],
    )
    dead_orders = materialize(
        dead.select(F.col("o_orderkey").alias("l_orderkey")), eager=True
    )

    def audit(name: str, df: DataFrame, keys: DataFrame, key: str) -> DataFrame:
        flagged = df.join(
            F.broadcast(keys.withColumn("__dead", F.lit(1))), key, "left"
        )
        return flagged.agg(
            F.sum(F.when(F.col("__dead").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("__dead").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_purged"),
        ).select(F.lit(name).alias("table_name"), "n_kept", "n_purged")

    return (
        audit("customer", cust, tomb, "c_custkey")
        .unionByName(
            audit(
                "orders",
                orders.withColumnRenamed("o_custkey", "c_custkey"),
                tomb,
                "c_custkey",
            )
        )
        .unionByName(audit("lineitem", li, dead_orders, "l_orderkey"))
    )


Q_PURGE_CASCADE_ORACLE = f"""
WITH tomb AS (SELECT c_custkey FROM customer WHERE c_custkey % {PURGE_MOD} = 0),
dead_orders AS (
  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM tomb)
)
SELECT 'customer' AS table_name,
       CAST((SELECT COUNT(*) FROM customer
             WHERE c_custkey NOT IN (SELECT c_custkey FROM tomb)) AS BIGINT)
         AS n_kept,
       CAST((SELECT COUNT(*) FROM customer
             WHERE c_custkey IN (SELECT c_custkey FROM tomb)) AS BIGINT)
         AS n_purged
UNION ALL
SELECT 'orders',
       CAST((SELECT COUNT(*) FROM orders
             WHERE o_custkey NOT IN (SELECT c_custkey FROM tomb)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders
             WHERE o_custkey IN (SELECT c_custkey FROM tomb)) AS BIGINT)
UNION ALL
SELECT 'lineitem',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM dead_orders))
         AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey IN (SELECT o_orderkey FROM dead_orders))
         AS BIGINT)
"""


QUERIES: dict[str, QuerySpec] = {
    "cdc_snapshot_diff": QuerySpec(q_cdc_snapshot_diff, Q_CDC_SNAPSHOT_DIFF_ORACLE),
    "ops_purge_cascade": QuerySpec(q_purge_cascade, Q_PURGE_CASCADE_ORACLE),
}


# -- two-sided join-view IVM (r7) ---------------------------------------------------------
# The materialized-view counterpart to gold_genre_revenue_ivm's AGGREGATE IVM:
# maintain a fact⋈dim join view from change feeds on BOTH sides (the
# DBSP/Materialize delta-join rule) and prove it equals a from-scratch rebuild.
# Feeds are deterministic mod-classes; upserts and deletes are DISJOINT by
# construction (a key in both would be ambiguous — operator contract).
JV_REPRICE_MOD = 37  # fact-side updates: order repriced ×2 (exact in binary)
JV_DELETE_MOD = 41  # fact-side deletes
JV_MOVE_MOD = 13  # dim-side updates: customer reassigned to a new segment


def q_cdc_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental join-view maintenance (operators/cdc.py:maintain_join_view):
    retire-then-reinsert for fact upserts (re-derived against the CURRENT
    dim), broadcast anti-join for deletes, broadcast coalesce-overwrite for
    dim updates on the survivors. The oracle recomputes F'⋈D' from scratch —
    a DIFFERENT algorithm producing the identical row set is the law. Money
    stays in integer cents throughout (the r6 reprice lesson)."""
    from movie_genre_data_pipeline_spark.operators.cdc import maintain_join_view

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    facts = orders.select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    dim = customer.select("c_custkey", "c_mktsegment")
    view = facts.join(dim, "c_custkey").select(
        "o_orderkey", "c_custkey", "price_cents", "c_mktsegment"
    )
    fact_upserts = facts.filter(
        (F.col("o_orderkey") % JV_REPRICE_MOD == 0)
        & (F.col("o_orderkey") % JV_DELETE_MOD != 0)
    ).withColumn("price_cents", F.col("price_cents") * 2)
    fact_deletes = facts.filter(
        F.col("o_orderkey") % JV_DELETE_MOD == 0
    ).select("o_orderkey")
    dim_updates = dim.filter(F.col("c_custkey") % JV_MOVE_MOD == 0).select(
        "c_custkey", F.lit("REASSIGNED").alias("c_mktsegment")
    )
    return maintain_join_view(
        view,
        "o_orderkey",
        "c_custkey",
        fact_upserts,
        fact_deletes,
        dim,
        dim_updates,
    )


Q_CDC_JOIN_IVM_ORACLE = f"""
SELECT o.o_orderkey,
       c.c_custkey,
       CASE WHEN o.o_orderkey % {JV_REPRICE_MOD} = 0
            THEN 2 * CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
            ELSE CAST(ROUND(o.o_totalprice * 100) AS BIGINT) END AS price_cents,
       CASE WHEN c.c_custkey % {JV_MOVE_MOD} = 0
            THEN 'REASSIGNED' ELSE c.c_mktsegment END AS c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey % {JV_DELETE_MOD} <> 0
"""


QUERIES.update({
    "cdc_join_ivm": QuerySpec(q_cdc_join_ivm, Q_CDC_JOIN_IVM_ORACLE),
})


# -- k-anonymity audit (r10) --------------------------------------------------------------
# The privacy-governance sibling of ops_purge_cascade: BEFORE a customer
# extract ships to analysts/training, audit how identifiable its
# quasi-identifier combinations are. A row is "at risk" when its QI group
# (nation x market segment x account-balance band) holds fewer than
# K_ANONYMITY rows — the standard k-anonymity criterion (Sweeney 2002).
# Scale shape: one fact-sized map-side-combined groupBy on the QI key, then
# a segment-keyed rollup over the GROUP-cardinality table; nothing else
# touches the fact.
K_ANONYMITY = 5
_BAL_BAND = (
    "CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / CAST(1000 AS DOUBLE)) AS BIGINT)"
)


def k_anonymity_group_facts(customers: DataFrame) -> DataFrame:
    """(c_nationkey, c_mktsegment, bal_band, g_size) — the ADDITIVE fact
    grain of the k-anonymity audit: QI-group row counts SUM-fold across any
    batching, so the at-risk verdict (g_size < k) is a READOUT decision — a
    group under k at arrival may clear the bar as later rows land. Shared by
    the batch audit and its streaming ledger twin
    (streaming_queries.q_stream_k_anonymity)."""
    return (
        customers.selectExpr(
            "c_nationkey", "c_mktsegment", f"{_BAL_BAND} AS bal_band"
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("g_size"))
    )


def k_anonymity_from_groups(groups: DataFrame) -> DataFrame:
    """The segment-rollup readout tail over the (possibly SUM-folded) QI
    group-cardinality table."""
    at_risk = F.col("g_size") < K_ANONYMITY
    return (
        groups.groupBy("c_mktsegment")
        .agg(
            F.sum("g_size").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.min("g_size").cast("bigint").alias("min_group"),
            F.sum(F.when(at_risk, 1).otherwise(0))
            .cast("bigint")
            .alias("groups_at_risk"),
            F.sum(F.when(at_risk, F.col("g_size")).otherwise(0))
            .cast("bigint")
            .alias("rows_at_risk"),
        )
        .withColumn(
            "risk_micro",
            F.expr(
                "CAST(ROUND(CAST(rows_at_risk AS DOUBLE)"
                " / CAST(n_rows AS DOUBLE)"
                " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
            ),
        )
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return k_anonymity_from_groups(k_anonymity_group_facts(c))


Q_K_ANONYMITY_ORACLE = f"""
WITH groups AS (
  SELECT c_nationkey, c_mktsegment, {_BAL_BAND} AS bal_band,
         CAST(COUNT(*) AS BIGINT) AS g_size
  FROM customer GROUP BY 1, 2, 3
)
SELECT c_mktsegment,
       CAST(SUM(g_size) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(g_size) AS BIGINT) AS min_group,
       CAST(SUM(CASE WHEN g_size < {K_ANONYMITY} THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_at_risk,
       CAST(SUM(CASE WHEN g_size < {K_ANONYMITY} THEN g_size ELSE 0 END)
         AS BIGINT) AS rows_at_risk,
       CAST(ROUND(CAST(SUM(CASE WHEN g_size < {K_ANONYMITY} THEN g_size
                             ELSE 0 END) AS DOUBLE)
            / CAST(SUM(g_size) AS DOUBLE)
            * CAST(1000000 AS DOUBLE)) AS BIGINT) AS risk_micro
FROM groups GROUP BY c_mktsegment
"""


QUERIES.update({
    "ops_k_anonymity": QuerySpec(q_k_anonymity, Q_K_ANONYMITY_ORACLE),
})


# -- l-diversity audit (r11) ----------------------------------------------------------------
# k-anonymity's sibling criterion (Machanavajjhala et al. 2006): identity
# disclosure is not the only risk — a QI group can be large (k-anonymous)
# yet expose its members' SENSITIVE attribute if everyone in it shares one
# value. A group is l-diverse when its sensitive attribute (here the market
# segment) takes >= L distinct values. Same additive-fact shape as the
# k-anonymity audit one query up: the (QI, sensitive, n) cell counts are
# pure SUM folds, distinct-sensitive-per-group is a row count over the
# folded cell grain, and the at-risk verdict re-judges as data lands (a
# homogeneous early group usually diversifies with volume — the published
# per-nation report makes that visible across SFs). Scale: one fact-sized
# map-side-combined cell groupBy, one group rollup, one nation rollup.
L_DIVERSITY = 3


def l_diversity_cell_facts(customers: DataFrame) -> DataFrame:
    """(c_nationkey, bal_band, c_mktsegment, n_cell) — the additive fact
    grain: QI group x sensitive value."""
    return (
        customers.selectExpr(
            "c_nationkey", f"{_BAL_BAND} AS bal_band", "c_mktsegment"
        )
        .groupBy("c_nationkey", "bal_band", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cell"))
    )


def l_diversity_from_cells(cells: DataFrame) -> DataFrame:
    """The per-nation rollup over the (possibly SUM-folded) cell table."""
    groups = cells.groupBy("c_nationkey", "bal_band").agg(
        F.sum("n_cell").cast("bigint").alias("g_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    at_risk = F.col("n_distinct") < L_DIVERSITY
    return (
        groups.groupBy("c_nationkey")
        .agg(
            F.sum("g_rows").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.min("n_distinct").cast("bigint").alias("min_diversity"),
            F.sum(F.when(at_risk, 1).otherwise(0))
            .cast("bigint")
            .alias("groups_at_risk"),
            F.sum(F.when(at_risk, F.col("g_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_at_risk"),
        )
        .withColumn(
            "risk_micro",
            F.expr(
                "CAST(ROUND(CAST(rows_at_risk AS DOUBLE)"
                " / CAST(n_rows AS DOUBLE)"
                " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
            ),
        )
    )


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return l_diversity_from_cells(l_diversity_cell_facts(c))


Q_L_DIVERSITY_ORACLE = f"""
WITH cells AS (
  SELECT c_nationkey, {_BAL_BAND} AS bal_band, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_cell
  FROM customer GROUP BY 1, 2, 3
),
groups AS (
  SELECT c_nationkey, bal_band,
         CAST(SUM(n_cell) AS BIGINT) AS g_rows,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM cells GROUP BY 1, 2
)
SELECT c_nationkey,
       CAST(SUM(g_rows) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(n_distinct) AS BIGINT) AS min_diversity,
       CAST(SUM(CASE WHEN n_distinct < {L_DIVERSITY} THEN 1 ELSE 0 END)
         AS BIGINT) AS groups_at_risk,
       CAST(SUM(CASE WHEN n_distinct < {L_DIVERSITY} THEN g_rows ELSE 0 END)
         AS BIGINT) AS rows_at_risk,
       CAST(ROUND(CAST(SUM(CASE WHEN n_distinct < {L_DIVERSITY} THEN g_rows
                             ELSE 0 END) AS DOUBLE)
            / CAST(SUM(g_rows) AS DOUBLE)
            * CAST(1000000 AS DOUBLE)) AS BIGINT) AS risk_micro
FROM groups GROUP BY c_nationkey
"""

QUERIES.update({
    "ops_l_diversity": QuerySpec(q_l_diversity, Q_L_DIVERSITY_ORACLE),
})


# -- t-closeness audit (r12) ----------------------------------------------------------------
# The third standard privacy criterion (Li/Li/Venkatasubramanian 2007),
# completing the k-anonymity / l-diversity family: a QI group can be large
# AND diverse yet still leak — if its sensitive-attribute DISTRIBUTION skews
# far from the global one, membership itself updates an attacker's belief.
# A group is t-close when the distance between its sensitive distribution
# and the global distribution is <= t. The sensitive attribute here is the
# ORDERED account-balance band, so the canonical distance is the Earth
# Mover's Distance with unit adjacent-bin ground distance:
#   EMD = (1/(m-1)) * SUM_j | SUM_{i<=j} (P_i - Q_i) |
# — a prefix sum of probability differences. Exactness discipline: with
# P_i = g_i/G and Q_i = n_i/N, each difference is the exact integer
# (g_i*N - n_i*G) over the common denominator G*N; counts at 100 TB are
# ~1e12 so the products pass 2^63 — accumulate in DECIMAL(38,0) (HUGEINT in
# DuckDB, the r11 overflow lesson) and divide ONCE at micro-quantization.
# Scale shape: one fact-sized map-side-combined cell groupBy; everything
# after runs on the bounded QI-space x band-space lattice (|nations| x
# |segments| x |bands| rows regardless of data volume), with the global
# band distribution broadcast. The per-group window partitions on the QI
# key over ~a dozen band rows — bounded, never a single-task window.
T_CLOSENESS_MICRO = 200_000  # t = 0.20


def t_closeness_cell_facts(customers: DataFrame) -> DataFrame:
    """(c_nationkey, c_mktsegment, bal_band, n_cell) — the additive fact
    grain: QI group (nation x segment) x ordered sensitive band. Pure SUM
    folds across any batching; the distance verdict is a READOUT decision
    (distributions converge to the global one as volume lands). Shared by
    the batch audit and its streaming ledger twin."""
    return (
        customers.selectExpr(
            "c_nationkey", "c_mktsegment", f"{_BAL_BAND} AS bal_band"
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cell"))
    )


def t_closeness_from_cells(cells: DataFrame) -> DataFrame:
    """The per-nation rollup over the (possibly SUM-folded) cell table."""
    # cells feeds FOUR consumers (the global band distribution, the totals
    # through it, the group sizes, and the lattice's left-join side): one
    # barrier or the fact scan + cell aggregate re-run per consumer (the
    # plan audit counted 4 customer scans without it)
    cells = materialize(cells)
    glob = cells.groupBy("bal_band").agg(
        F.sum("n_cell").cast("bigint").alias("n_glob")
    )
    tot = glob.agg(
        F.sum("n_glob").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("m_bands"),
    )
    grp = cells.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n_cell").cast("bigint").alias("g_rows")
    )
    # full lattice: every group x every GLOBAL band (a group missing a band
    # contributes n_cell = 0 — skipping it would shift every later prefix
    # sum). glob/tot are band-bounded one-row/dozen-row frames: broadcast.
    lattice = (
        grp.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        .join(cells, ["c_nationkey", "c_mktsegment", "bal_band"], "left")
        .withColumn("n_cell", F.coalesce(F.col("n_cell"), F.lit(0)))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("bal_band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = lattice.withColumn(
        "cum",
        F.sum(
            F.expr(
                "CAST(n_cell AS DECIMAL(38,0)) * n_total"
                " - CAST(n_glob AS DECIMAL(38,0)) * g_rows"
            )
        ).over(w),
    )
    gemd = pref.groupBy(
        "c_nationkey", "c_mktsegment", "g_rows", "n_total", "m_bands"
    ).agg(F.sum(F.abs(F.col("cum"))).alias("emd_num"))
    scored = gemd.selectExpr(
        "c_nationkey",
        "c_mktsegment",
        "g_rows",
        # m_bands = 1 guard: a single-band corpus has zero transport distance
        # by definition and (m-1) would divide by zero (the Simpson lesson)
        "CASE WHEN m_bands > 1 THEN"
        " CAST(FLOOR(CAST(emd_num AS DOUBLE) * CAST(1000000 AS DOUBLE)"
        " / (CAST(m_bands - 1 AS DOUBLE) * CAST(g_rows AS DOUBLE)"
        " * CAST(n_total AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END AS emd_micro",
    )
    at_risk = F.col("emd_micro") > T_CLOSENESS_MICRO
    return (
        scored.groupBy("c_nationkey")
        .agg(
            F.sum("g_rows").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.max("emd_micro").cast("bigint").alias("max_emd_micro"),
            F.sum(F.when(at_risk, 1).otherwise(0))
            .cast("bigint")
            .alias("groups_at_risk"),
            F.sum(F.when(at_risk, F.col("g_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_at_risk"),
        )
        .withColumn(
            "risk_micro",
            F.expr(
                "CAST(ROUND(CAST(rows_at_risk AS DOUBLE)"
                " / CAST(n_rows AS DOUBLE)"
                " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
            ),
        )
    )


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return t_closeness_from_cells(t_closeness_cell_facts(c))


Q_T_CLOSENESS_ORACLE = f"""
WITH cells AS (
  SELECT c_nationkey, c_mktsegment, {_BAL_BAND} AS bal_band,
         CAST(COUNT(*) AS BIGINT) AS n_cell
  FROM customer GROUP BY 1, 2, 3
),
globd AS (
  SELECT bal_band, CAST(SUM(n_cell) AS BIGINT) AS n_glob
  FROM cells GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_glob) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS m_bands
  FROM globd
),
grp AS (
  SELECT c_nationkey, c_mktsegment, CAST(SUM(n_cell) AS BIGINT) AS g_rows
  FROM cells GROUP BY 1, 2
),
lattice AS (
  SELECT g.c_nationkey, g.c_mktsegment, g.g_rows, b.bal_band, b.n_glob,
         t.n_total, t.m_bands, COALESCE(c.n_cell, 0) AS n_cell
  FROM grp g CROSS JOIN globd b CROSS JOIN tot t
  LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
    AND c.c_mktsegment = g.c_mktsegment AND c.bal_band = b.bal_band
),
pref AS (
  SELECT c_nationkey, c_mktsegment, g_rows, n_total, m_bands,
         SUM(CAST(n_cell AS DECIMAL(38,0)) * n_total
             - CAST(n_glob AS DECIMAL(38,0)) * g_rows) OVER (
           PARTITION BY c_nationkey, c_mktsegment ORDER BY bal_band
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM lattice
),
gemd AS (
  SELECT c_nationkey, c_mktsegment, g_rows, n_total, m_bands,
         SUM(ABS(cum)) AS emd_num
  FROM pref GROUP BY 1, 2, 3, 4, 5
),
scored AS (
  SELECT c_nationkey, c_mktsegment, g_rows,
         CASE WHEN m_bands > 1 THEN
           CAST(FLOOR(CAST(emd_num AS DOUBLE) * CAST(1000000 AS DOUBLE)
             / (CAST(m_bands - 1 AS DOUBLE) * CAST(g_rows AS DOUBLE)
             * CAST(n_total AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS emd_micro
  FROM gemd
)
SELECT c_nationkey,
       CAST(SUM(g_rows) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MAX(emd_micro) AS BIGINT) AS max_emd_micro,
       CAST(SUM(CASE WHEN emd_micro > {T_CLOSENESS_MICRO} THEN 1 ELSE 0 END)
         AS BIGINT) AS groups_at_risk,
       CAST(SUM(CASE WHEN emd_micro > {T_CLOSENESS_MICRO} THEN g_rows ELSE 0
         END) AS BIGINT) AS rows_at_risk,
       CAST(ROUND(CAST(SUM(CASE WHEN emd_micro > {T_CLOSENESS_MICRO}
                             THEN g_rows ELSE 0 END) AS DOUBLE)
            / CAST(SUM(g_rows) AS DOUBLE)
            * CAST(1000000 AS DOUBLE)) AS BIGINT) AS risk_micro
FROM scored GROUP BY c_nationkey
"""

QUERIES.update({
    "ops_t_closeness": QuerySpec(q_t_closeness, Q_T_CLOSENESS_ORACLE),
})


# -- differentially-private count release (r13) --------------------------------------------
# The modern fourth member of the privacy family (k-anonymity / l-diversity
# / t-closeness audit WHETHER an extract is safe; DP RELEASES it safely):
# the (nation x market segment) customer marginal published under the
# epsilon-DP Laplace mechanism (Dwork et al. 2006) — each cell's true count
# gets Laplace(1/eps) noise and is post-processed to a nonnegative integer,
# the standard noisy-marginal release a data curator hands to analysts
# instead of raw counts. DETERMINISM CAVEAT, stated loudly: the noise here
# is a pure md5 hash of the CELL KEY through the Laplace inverse CDF — a
# deterministic TEST HARNESS that lets two engines (and the driver's
# oracle) replay the release bit-for-bit and lets the pytest verify the
# mechanism's shape (zero-centered, scale-1/eps, clamping). A production
# release draws from a CSPRNG and publishes ONLY (cell, released_n) — with
# a public seed the "noise" is removable and the release is NOT private
# (the multimodal fake-decode precedent: real plumbing, stubbed entropy).
# Exactness: u = (h48 + 0.5)/2^48 is strictly inside (0,1) and never
# exactly 0.5 (h48 is an integer), so sign/ln never hit an edge; the noise
# is quantized ONCE to integer micro with the FLOOR(x+0.5) half-up spell
# (Laplace noise is negative half the time — the ROUND divergence class),
# and the released integer is one shared double expression + GREATEST.
# Scale shape: one fact-sized map-side-combined groupBy to |cells| rows;
# noise/release are scan-local projections over the cell table.
DP_EPSILON_MICRO = 500_000  # eps = 0.5 => b = 1/eps = 2.0 (exact double)

_DP_U = (
    "(CAST(conv(substring(md5(concat(CAST(c_nationkey AS STRING), ':',"
    " c_mktsegment, ':dp')), 1, 12), 16, 10) AS BIGINT)"
    " + CAST(0.5 AS DOUBLE)) / CAST(281474976710656 AS DOUBLE)"
)
_DP_NOISE_MICRO = (
    "CAST(FLOOR(-CAST(2 AS DOUBLE) * SIGN(u - CAST(0.5 AS DOUBLE))"
    " * LN(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)"
    " * ABS(u - CAST(0.5 AS DOUBLE)))"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_DP_RELEASED = (
    "GREATEST(CAST(0 AS BIGINT),"
    " CAST(FLOOR(CAST(n AS DOUBLE)"
    " + CAST(noise_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT))"
)


def dp_marginal_facts(customers: DataFrame) -> DataFrame:
    """(c_nationkey, c_mktsegment, n) — the additive true-count grain.
    SUM-foldable, so the streaming twin appends these; the noise is a pure
    CELL-KEY hash, re-drawn identically at any readout (an arrival-
    independent decision — the same property the bootstrap weights use)."""
    return (
        customers.select(
            F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
            "c_mktsegment",
        )
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def dp_release_from_facts(facts: DataFrame) -> DataFrame:
    """The release tail over (possibly SUM-folded) true-count cells."""
    return (
        facts.selectExpr(
            "c_nationkey", "c_mktsegment", "n", f"{_DP_U} AS u"
        )
        .selectExpr(
            "c_nationkey",
            "c_mktsegment",
            "n",
            f"{_DP_NOISE_MICRO} AS noise_micro",
        )
        .selectExpr(
            "c_nationkey",
            "c_mktsegment",
            f"{_DP_RELEASED} AS released_n",
            "noise_micro",
            f"CAST({DP_EPSILON_MICRO} AS BIGINT) AS epsilon_micro",
        )
    )


def q_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return dp_release_from_facts(dp_marginal_facts(c))


Q_DP_RELEASE_ORACLE = f"""
WITH facts AS (
  SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
),
uu AS (
  SELECT c_nationkey, c_mktsegment, n,
         (CAST(concat('0x', substring(md5(c_nationkey || ':' ||
            c_mktsegment || ':dp'), 1, 12)) AS BIGINT)
          + CAST(0.5 AS DOUBLE)) / CAST(281474976710656 AS DOUBLE) AS u
  FROM facts
),
noisy AS (
  SELECT c_nationkey, c_mktsegment, n, {_DP_NOISE_MICRO} AS noise_micro
  FROM uu
)
SELECT c_nationkey, c_mktsegment, {_DP_RELEASED} AS released_n,
       noise_micro, CAST({DP_EPSILON_MICRO} AS BIGINT) AS epsilon_micro
FROM noisy
"""


QUERIES.update({
    "ops_dp_release": QuerySpec(q_dp_release, Q_DP_RELEASE_ORACLE),
})
