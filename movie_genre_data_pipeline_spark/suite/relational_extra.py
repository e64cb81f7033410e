"""Second wave of relational extensions (SURVEY.md §2.5/§2.7 north-star note).

More TPC-H-class shapes (existential join, two-sided nation volume, disjunctive
predicate joins, global-threshold anti-join) adapted to the reduced testdata
schemas (no l_commitdate / l_receiptdate / partsupp / c_phone — TESTDATA.md),
plus the aggregate and scalar-function families a reference user would expect
from a general engine: GROUPING SETS, min_by/max_by, string_agg, boolean and
bitwise aggregates, JSON / hash / math / regexp scalar functions.

All queries follow the suite discipline (suite/__init__.py): identical aliases
both sides, explicit BIGINT casts for counts, fixed-scale rounding for floating
aggregates, and total orderings wherever top-k cutoffs or arg-max tiebreaks
could differ between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.session import materialize
from movie_genre_data_pipeline_spark.suite import QuerySpec, load


# -- TPC-H Q4-style: order-priority checking (EXISTS → semi join) ---------------------
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders in one quarter with at least one late-shipping line (adapted
    existential predicate: l_shipdate > o_orderdate stands in for the missing
    l_commitdate < l_receiptdate). left_semi join carries the equi key plus the
    non-equi residual, so it stays a single shuffled hash semi-join — no
    decorrelation pass, no duplicate-then-distinct."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


Q_TPCH_Q4_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


# -- TPC-H Q7-style: volume shipping between two nations ------------------------------
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue flowing between supplier-nation and customer-nation pairs in both
    directions, per ship year. The two nation dims are broadcast; the fact-side
    joins shuffle on their keys; the pair filter rides the joined row (no
    post-join cross product)."""
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


Q_TPCH_Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       ROUND(SUM(volume), 2) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
           l_extendedprice * (1.0 - l_discount) AS volume
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


# -- TPC-H Q10-style: returned-item reporting (top 20 customers) ----------------------
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue lost to returns per customer over one quarter, top 20. Ordering is
    on the ROUNDED revenue with a key tiebreak so the cutoff is engine-stable."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


Q_TPCH_Q10_ORACLE = """
SELECT c_custkey, c_name, n_name,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# -- TPC-H Q12-style: priority class counts per line status ---------------------------
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-count aggregation over a fact-fact join (the Q12 shape with
    l_linestatus standing in for the missing l_shipmode): high- vs low-priority
    order counts per status for one ship year."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


Q_TPCH_Q12_ORACLE = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
"""


# -- TPC-H Q14-style: promotion revenue share -----------------------------------------
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of revenue from PROMO parts in one ship month — a ratio of two
    conditional sums over a fact⋈dim join. Both sums ride one aggregate; the
    ratio is rounded to 4dp so accumulation-order noise can't flip the hash."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    p = load(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0))
                / F.sum(disc),
                4,
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


Q_TPCH_Q14_ORACLE = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1.0 - l_discount)
                              ELSE 0.0 END)
             / SUM(l_extendedprice * (1.0 - l_discount)), 4) AS promo_revenue_pct,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
"""


# -- TPC-H Q19-style: disjunctive multi-predicate join --------------------------------
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs predicate spanning both join sides — the shape that defeats
    naive pushdown. The equi key still drives the join; the disjunction becomes
    a residual filter on joined rows (Catalyst also infers the partkey IN
    prefilter from the brand terms on the broadcast side)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#9")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(clause).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


Q_TPCH_Q19_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#9'  AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 40)
"""


# -- TPC-H Q22-style: global-average threshold + anti join ----------------------------
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wealthy-but-inactive customers per nation (c_nationkey stands in for the
    missing phone country code): acctbal above the global positive average AND
    no big-ticket order (>300k — the unfiltered variant is degenerate on this
    data: every wealthy customer has some order). The scalar average is a
    one-row broadcast cross join (what
    Catalyst builds for an uncorrelated scalar subquery); the threshold is
    rounded to 6dp on BOTH sides so avg() accumulation-order noise can't flip a
    borderline customer."""
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.round(F.avg("c_acctbal"), 6).alias("avg_bal"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, "c_custkey", "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


Q_TPCH_Q22_ORACLE = """
SELECT c_nationkey AS cntry,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT ROUND(AVG(c_acctbal), 6) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
GROUP BY c_nationkey
"""


# -- TPC-H Q8-style: national market share --------------------------------------------
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market share of one supplier nation within one region, per order year —
    the deepest reference-class join (6 tables + self-referencing nation dim
    used twice). A conditional-sum / sum ratio per group; both sums ride one
    aggregate. Region/nation dims broadcast; the ratio is rounded to 6dp."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n_cust = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


Q_TPCH_Q8_ORACLE = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       ROUND(SUM(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
             / SUM(l_extendedprice * (1.0 - l_discount)), 6) AS mkt_share,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
"""


# -- TPC-H Q13-style: customer order-count distribution -------------------------------
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of orders-per-customer INCLUDING zero-order customers — the
    left-outer-join + double-aggregation shape (count per customer, then count
    per count). The outer join preserves customers with no orders as count 0."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q_TPCH_Q13_ORACLE = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
    FROM customer LEFT OUTER JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
    GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


# -- TPC-H Q15-style: top supplier(s) by quarterly revenue ----------------------------
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue view per supplier over one quarter, then the supplier(s) whose
    revenue equals the maximum — the create-view + scalar-max-subquery shape.
    The scalar max is a global window over the ALREADY-AGGREGATED view
    (|suppliers| rows, not |lineitem|), so the fact table is scanned exactly
    ONCE — referencing the view twice (subquery form) would re-derive it and
    re-scan the fact (pinned in tests/test_plans.py). The per-supplier revenue
    is rounded to 2dp BEFORE the max comparison on both sides, so
    accumulation-order noise can't make the engines disagree on who is top."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    s = load(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    ranked = revenue.withColumn(
        "max_revenue", F.max("total_revenue").over(Window.partitionBy())
    )
    return (
        ranked.filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q_TPCH_Q15_ORACLE = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


# -- TPC-H Q21-style: sole returning supplier in multi-supplier orders ----------------
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the ONLY supplier with returned lines in orders
    involving 2+ suppliers (adapted: l_returnflag='R' stands in for the missing
    receipt-after-commit delay). Q21's EXISTS / NOT EXISTS double correlation is
    decorrelated into ONE per-order aggregate computing both distinct-supplier
    counts, then a filter — a single shuffle on the order key instead of two
    correlated re-scans of the fact."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_ret_supps"),
        F.min(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("sole_ret_supp"),
    )
    culprit_orders = per_order.filter(
        (F.col("n_supps") >= 2) & (F.col("n_ret_supps") == 1)
    )
    return (
        culprit_orders.join(s, F.col("sole_ret_supp") == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


Q_TPCH_Q21_ORACLE = """
WITH per_order AS (
    SELECT l_orderkey,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
             AS n_ret_supps,
           MIN(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS sole_ret_supp
    FROM lineitem GROUP BY l_orderkey
)
SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM per_order JOIN supplier ON sole_ret_supp = s_suppkey
WHERE n_supps >= 2 AND n_ret_supps = 1
GROUP BY s_suppkey, s_name
"""


# -- TPC-H Q2-style: groupwise-min supplier per part ----------------------------------
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier per part (adapted: the supplier-part relation comes
    from DISTINCT lineitem (partkey, suppkey) pairs — no partsupp table — and
    s_acctbal stands in for ps_supplycost). Q2's correlated min subquery is the
    groupwise-extremum shape: one distinct-pair aggregate, one min-struct
    aggregate with embedded unique tiebreak (suppkey), no join-back needed —
    the struct carries the payload columns out of the min."""
    pairs = (
        load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    best = (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .join(s, pairs.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("p_partkey", "p_name")
        .agg(
            F.min(
                F.struct(F.col("s_acctbal"), F.col("s_suppkey"), F.col("n_name"))
            ).alias("b")
        )
    )
    return best.select(
        "p_partkey",
        "p_name",
        F.round(F.col("b.s_acctbal"), 2).alias("supp_acctbal"),
        F.col("b.s_suppkey").alias("s_suppkey"),
        F.col("b.n_name").alias("n_name"),
    )


Q_TPCH_Q2_ORACLE = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ranked AS (
    SELECT p_partkey, p_name, s_acctbal, s_suppkey, n_name,
           ROW_NUMBER() OVER (PARTITION BY p_partkey
                              ORDER BY s_acctbal ASC, s_suppkey ASC) AS rk
    FROM pairs
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
)
SELECT p_partkey, p_name, ROUND(s_acctbal, 2) AS supp_acctbal, s_suppkey, n_name
FROM ranked WHERE rk = 1
"""


# -- TPC-H Q9-style: product-type profit per nation and year --------------------------
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit per supplier nation per order year for one product family
    (adapted: supply cost proxied by 0.5 * p_retailprice * quantity — no
    partsupp). Five-table join; the part filter (name LIKE) prunes the
    broadcast side before the fact join.

    FP discipline: the naive SUM(price*(1-disc) - 0.5*retail*qty) landed a
    group exactly on a half-cent rounding boundary, where accumulation-order
    noise flips the 2dp hash. So the summand is rebuilt from INTEGER-VALUED
    doubles (prices ROUNDed to cents ×100, discount to whole percent): every
    product and the running sum stay exactly representable (< 2^53), the sum
    is order-independent, and only one final division is inexact — identically
    so in both engines."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    e = F.round(F.col("l_extendedprice") * 100, 0)
    d = F.round((F.lit(1.0) - F.col("l_discount")) * 100, 0)
    r = F.round(F.col("p_retailprice") * 100, 0)
    profit_scaled = e * d - F.lit(50.0) * r * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.round(F.sum(profit_scaled) / 10000, 2).alias("sum_profit"))
    )


Q_TPCH_Q9_ORACLE = """
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       ROUND(SUM(ROUND(l_extendedprice * 100, 0) * ROUND((1.0 - l_discount) * 100, 0)
                 - 50.0 * ROUND(p_retailprice * 100, 0) * l_quantity) / 10000,
             2) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


# -- TPC-H Q11-style: important-stock share -------------------------------------------
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose shipped value from one nation's suppliers exceeds 2.5× the
    average per-part value (adapted: value = quantity * retailprice over
    lineitem — no ps_availqty; the threshold is a multiple of the AVERAGE
    rather than TPC-H's fixed fraction of the total, so it stays non-degenerate
    at every scale factor — a fixed fraction selects nothing once the part
    count outgrows 1/fraction). The global average is a one-row broadcast
    (uncorrelated scalar); the threshold is rounded to 6dp on both sides so
    accumulation-order noise can't flip a borderline part."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    val = F.col("l_quantity") * F.col("p_retailprice")
    per_part = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("p_partkey")
        .agg(F.round(F.sum(val), 2).alias("part_value"))
    )
    total = per_part.agg(
        F.round(F.avg("part_value") * 2.5, 6).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("p_partkey", "part_value")
    )


Q_TPCH_Q11_ORACLE = """
WITH per_part AS (
    SELECT p_partkey, ROUND(SUM(l_quantity * p_retailprice), 2) AS part_value
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5'
    GROUP BY p_partkey
)
SELECT p_partkey, part_value
FROM per_part
WHERE part_value > (SELECT ROUND(AVG(part_value) * 2.5, 6) FROM per_part)
"""


# -- TPC-H Q16-style: supplier counts per part descriptor -----------------------------
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per (brand, type, size) descriptor, excluding one
    brand and a supplier blocklist (adapted: the supplier-part relation comes
    from distinct lineitem pairs; the 'complaints' exclusion is a name-pattern
    anti-join — s_acctbal is never negative in this data). Shape: anti-join on
    a tiny excluded set + distinct-pair aggregate + count distinct."""
    pairs = (
        load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    bad_supps = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%0"))
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        pairs.join(bad_supps, "l_suppkey", "left_anti")
        .join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q_TPCH_Q16_ORACLE = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND NOT EXISTS (SELECT 1 FROM supplier
                  WHERE s_suppkey = l_suppkey AND s_name LIKE '%0')
GROUP BY p_brand, p_type, p_size
"""


# -- TPC-H Q20-style: concentrated-shipment suppliers ---------------------------------
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers in one nation who shipped more than half of their all-time
    quantity of some PROMO part during 1997 alone (adapted: the correlated
    availqty comparison becomes one per-(supplier, part) aggregate computing
    both the 1997 and all-time sums — single shuffle, no correlated re-scan).
    Quantities are integral-valued, so the halving comparison is FP-exact."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    in_1997 = (F.col("l_shipdate") >= F.lit("1997-01-01")) & (
        F.col("l_shipdate") < F.lit("1998-01-01")
    )
    per_sp = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_1997, F.col("l_quantity")).otherwise(0.0)).alias(
                "qty_1997"
            ),
            F.sum("l_quantity").alias("qty_total"),
        )
    )
    concentrated = per_sp.filter(
        F.col("qty_1997") > F.lit(0.5) * F.col("qty_total")
    ).select("l_suppkey").distinct()
    return (
        s.join(concentrated, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name")
    )


Q_TPCH_Q20_ORACLE = """
WITH per_sp AS (
    SELECT l_suppkey, l_partkey,
           SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                     AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                    THEN l_quantity ELSE 0.0 END) AS qty_1997,
           SUM(l_quantity) AS qty_total
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'PROMO'
    GROUP BY l_suppkey, l_partkey
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_2'
  AND EXISTS (SELECT 1 FROM per_sp
              WHERE l_suppkey = s_suppkey AND qty_1997 > 0.5 * qty_total)
"""


# -- GROUPING SETS with grouping() markers --------------------------------------------
_GROUPING_SETS_STMT = """
SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
       COALESCE(l_linestatus, '<all>') AS linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(l_quantity), 2) AS total_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rollup/cube, SURVEY.md §2.5
    'no grouping sets' note) with GROUPING() disambiguation markers — one ANSI
    statement both engines run. Spark executes it as a single Expand + hash
    aggregate: one scan, one shuffle for all four groupings."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GROUPING_SETS_STMT)


# -- min_by / max_by (deterministic arg-extremum per group) ---------------------------
def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Richest/poorest customer per nation via max/min over (balance, key)
    structs — the deterministic form of max_by/min_by (struct ordering embeds
    the tiebreak, so ties can't flip across engines). Oracle: two ROW_NUMBER
    windows with matching tiebreaks."""
    c = load(spark, sf_dir, "customer")
    top = F.max(F.struct(F.col("c_acctbal"), F.col("c_custkey"))).alias("t")
    bot = F.min(F.struct(F.col("c_acctbal"), F.col("c_custkey"))).alias("b")
    return (
        c.groupBy("c_nationkey")
        .agg(top, bot)
        .select(
            "c_nationkey",
            F.col("t.c_custkey").alias("top_custkey"),
            F.round(F.col("t.c_acctbal"), 2).alias("top_bal"),
            F.col("b.c_custkey").alias("bottom_custkey"),
            F.round(F.col("b.c_acctbal"), 2).alias("bottom_bal"),
        )
    )


Q_AGG_MINMAX_BY_ORACLE = """
WITH ranked AS (
    SELECT c_nationkey, c_custkey, c_acctbal,
           ROW_NUMBER() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey DESC) AS rmax,
           ROW_NUMBER() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal ASC, c_custkey ASC) AS rmin
    FROM customer
)
SELECT c_nationkey,
       MAX(CASE WHEN rmax = 1 THEN c_custkey END) AS top_custkey,
       ROUND(MAX(CASE WHEN rmax = 1 THEN c_acctbal END), 2) AS top_bal,
       MAX(CASE WHEN rmin = 1 THEN c_custkey END) AS bottom_custkey,
       ROUND(MAX(CASE WHEN rmin = 1 THEN c_acctbal END), 2) AS bottom_bal
FROM ranked GROUP BY c_nationkey
"""


# -- string aggregation (sorted, deterministic) ---------------------------------------
def q_agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listagg/string_agg equivalent: distinct order priorities per status,
    sorted before concatenation so the string is engine-independent."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderpriority"))).alias(
            "priorities"
        ),
        F.count(F.lit(1)).alias("n"),
    )


Q_AGG_STRING_CONCAT_ORACLE = """
SELECT o_orderstatus,
       array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderstatus
"""


# -- boolean / conditional aggregates -------------------------------------------------
def q_agg_conditional_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / bool_or / bool_and — the predicate-aggregate family (FILTER
    clause equivalents)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("count_if(o_totalprice > 200000)").alias("n_big"),
        F.expr("bool_or(o_orderpriority = '1-URGENT')").alias("any_urgent"),
        F.expr("bool_and(o_totalprice > 0)").alias("all_positive"),
        F.count(F.lit(1)).alias("n"),
    )


Q_AGG_CONDITIONAL_BOOL_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) FILTER (o_totalprice > 200000) AS BIGINT) AS n_big,
       bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
       bool_and(o_totalprice > 0) AS all_positive,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderstatus
"""


# -- bitwise aggregates ---------------------------------------------------------------
def q_agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_and / bit_or / bit_xor over the key space per status — exact integer
    aggregates, order-insensitive by construction."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("bit_and(o_orderkey)").alias("keys_and"),
        F.expr("bit_or(o_orderkey)").alias("keys_or"),
        F.expr("bit_xor(o_orderkey)").alias("keys_xor"),
    )


Q_AGG_BITWISE_ORACLE = """
SELECT o_orderstatus,
       bit_and(o_orderkey) AS keys_and,
       bit_or(o_orderkey) AS keys_or,
       bit_xor(o_orderkey) AS keys_xor
FROM orders GROUP BY o_orderstatus
"""


# -- JSON scalar-function family ------------------------------------------------------
def q_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object path extraction + typed from_json + to_json round-trip
    over events.props (SURVEY.md §2.3: the reference parses JSON only at the
    source; these are the column-level JSON functions). The round-trip is
    null-guarded because Spark's to_json omits null fields while DuckDB keeps
    them."""
    ev = load(spark, sf_dir, "events")
    k_int = F.from_json("props", "k INT").getField("k")
    parsed = ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        k_int.alias("k_int"),
        F.when(
            k_int.isNotNull(),
            F.to_json(F.struct(k_int.alias("k"))),
        ).alias("k_json"),
    )
    return parsed.select(
        "event_id",
        "k_str",
        "k_int",
        "k_json",
        (F.length("k_str") + F.lit(8)).cast("bigint").alias("json_len"),
    )


Q_JSON_FUNCTIONS_ORACLE = """
SELECT event_id,
       props->>'k' AS k_str,
       CAST(props->>'k' AS INTEGER) AS k_int,
       CASE WHEN props->>'k' IS NOT NULL
            THEN '{"k":' || (props->>'k') || '}' END AS k_json,
       CAST(length(props->>'k') + 8 AS BIGINT) AS json_len
FROM events
"""


# -- hash / digest functions ----------------------------------------------------------
def q_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 + sha2-256 digests (the cross-engine-reproducible hash family the
    dedup/fingerprint operators build on — memory note: never xxhash64/murmur
    for oracle-checked signatures)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2("c_name", 256).alias("name_sha256"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.substring(F.md5("c_name"), 1, 4).alias("md5_prefix"),
    )


Q_HASH_FUNCTIONS_ORACLE = """
SELECT c_custkey,
       md5(c_name) AS name_md5,
       sha256(c_name) AS name_sha256,
       CAST(length(c_name) AS BIGINT) AS name_len,
       substring(md5(c_name), 1, 4) AS md5_prefix
FROM customer
"""


# -- math scalar-function family ------------------------------------------------------
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exp/ln/log10/sqrt/pow/ceil/floor/sign/mod/greatest/least — the numeric
    scalar family over the part dim. Transcendentals are rounded to 6dp so libm
    ulp differences vanish (suite discipline)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round(F.exp(F.col("p_size") / F.lit(10.0)), 6).alias("exp_size"),
        F.round(F.log(F.col("p_retailprice")), 6).alias("ln_price"),
        F.round(F.log10(F.col("p_retailprice")), 6).alias("log10_price"),
        F.round(F.sqrt(F.col("p_retailprice")), 6).alias("sqrt_price"),
        F.round(F.pow(F.col("p_size"), 2.0), 1).alias("size_sq"),
        F.ceil("p_retailprice").cast("bigint").alias("price_ceil"),
        F.floor("p_retailprice").cast("bigint").alias("price_floor"),
        F.signum(F.col("p_size") - F.lit(25.0)).cast("bigint").alias("size_sign"),
        (F.col("p_partkey") % 7).cast("bigint").alias("key_mod7"),
        F.greatest(F.col("p_size"), F.lit(25)).cast("bigint").alias("size_hi"),
        F.least(F.col("p_size"), F.lit(25)).cast("bigint").alias("size_lo"),
    )


Q_MATH_FUNCTIONS_ORACLE = """
SELECT p_partkey,
       ROUND(EXP(p_size / 10.0), 6) AS exp_size,
       ROUND(LN(p_retailprice), 6) AS ln_price,
       ROUND(LOG10(p_retailprice), 6) AS log10_price,
       ROUND(SQRT(p_retailprice), 6) AS sqrt_price,
       ROUND(POW(p_size, 2.0), 1) AS size_sq,
       CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
       CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
       CAST(SIGN(p_size - 25.0) AS BIGINT) AS size_sign,
       CAST(p_partkey % 7 AS BIGINT) AS key_mod7,
       CAST(GREATEST(p_size, 25) AS BIGINT) AS size_hi,
       CAST(LEAST(p_size, 25) AS BIGINT) AS size_lo
FROM part
"""


# -- regexp / string-manipulation family ----------------------------------------------
def q_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_replace (global), regexp_count, split_part, translate, right —
    the pattern-manipulation family over documents.text. DuckDB needs the 'g'
    flag for global replace; Spark replaces all matches by default."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.substring(F.regexp_replace(F.lower("text"), "[aeiou]", ""), 1, 40).alias(
            "devoweled40"
        ),
        F.expr("regexp_count(lower(text), '[aeiou]')").cast("bigint").alias("n_vowels"),
        F.expr("split_part(text, ' ', 1)").alias("first_token"),
        F.translate(F.substring("text", 1, 20), "aeiou", "AEIOU").alias("shouted20"),
        F.expr("right(text, 3)").alias("tail3"),
    )


Q_REGEXP_FUNCTIONS_ORACLE = """
SELECT doc_id,
       substring(regexp_replace(lower(text), '[aeiou]', '', 'g'), 1, 40) AS devoweled40,
       CAST(length(regexp_extract_all(lower(text), '[aeiou]')) AS BIGINT) AS n_vowels,
       split_part(text, ' ', 1) AS first_token,
       translate(substring(text, 1, 20), 'aeiou', 'AEIOU') AS shouted20,
       right(text, 3) AS tail3
FROM documents
"""


# -- URL parsing family ----------------------------------------------------------------
def q_url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url HOST/PATH/QUERY/REF + per-key query extraction over a URL
    constructed from order columns. The oracle re-derives each part from the
    same base columns, so this pins Spark's parse_url semantics against the
    URL's known construction."""
    o = load(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://shop.example.com/"),
        F.col("o_orderstatus"),
        F.lit("/order?id="),
        F.col("o_orderkey").cast("string"),
        F.lit("&priority="),
        F.replace(F.col("o_orderpriority"), F.lit(" "), F.lit("-")),
        F.lit("#sec-"),
        F.col("o_orderstatus"),
    )
    d = o.select("o_orderkey", url.alias("u"))
    return d.select(
        "o_orderkey",
        F.parse_url("u", F.lit("HOST")).alias("host"),
        F.parse_url("u", F.lit("PATH")).alias("path"),
        F.parse_url("u", F.lit("QUERY")).alias("query"),
        F.parse_url("u", F.lit("REF")).alias("ref"),
        F.parse_url("u", F.lit("QUERY"), F.lit("priority")).alias("priority_param"),
    )


Q_URL_FUNCTIONS_ORACLE = """
SELECT o_orderkey,
       'shop.example.com' AS host,
       '/' || o_orderstatus || '/order' AS path,
       'id=' || o_orderkey || '&priority=' || replace(o_orderpriority, ' ', '-') AS query,
       'sec-' || o_orderstatus AS ref,
       replace(o_orderpriority, ' ', '-') AS priority_param
FROM orders
"""


# -- window frames: first/last/nth_value + RANGE frame --------------------------------
def q_window_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit frame clauses: unbounded ROWS frame for first/last/nth_value
    (the default frame stops at CURRENT ROW — last_value needs the full frame),
    and a numeric RANGE frame (peers included by value, so ties are
    deterministic cross-engine by construction)."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    w1 = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w2 = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.col("o_totalprice").asc())
        .rangeBetween(-10000, 0)
    )
    return o.select(
        "o_orderkey",
        F.first_value(F.col("o_orderkey")).over(w1).alias("first_key"),
        F.last_value(F.col("o_orderkey")).over(w1).alias("last_key"),
        F.nth_value(F.col("o_orderkey"), 2).over(w1).alias("second_key"),
        F.count(F.lit(1)).over(w2).alias("n_within_10k"),
    )


Q_WINDOW_FRAME_STATS_ORACLE = """
SELECT o_orderkey,
       FIRST_VALUE(o_orderkey) OVER w1 AS first_key,
       LAST_VALUE(o_orderkey) OVER w1 AS last_key,
       NTH_VALUE(o_orderkey, 2) OVER w1 AS second_key,
       CAST(COUNT(*) OVER w2 AS BIGINT) AS n_within_10k
FROM orders
WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
       w2 AS (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC
              RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
"""


# -- explicit cross join (dims only) --------------------------------------------------
def q_cross_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — legitimate ONLY between constant-size dims (nation ×
    region grid, 125 rows); the fact-side scalar case is tpch_q22's one-row
    broadcast. Never cross-join two fact tables at scale."""
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        n.crossJoin(r)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("n_nationkey").alias("key_total"),
        )
    )


Q_CROSS_JOIN_DIMS_ORACLE = """
SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_total
FROM nation CROSS JOIN region
GROUP BY r_name
"""


# -- unpivot (wide → long) ------------------------------------------------------------
def q_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.unpivot — the official wide→long melt (the hand-rolled twin lives in
    operators/profile.py's one-row unpivot). Narrow op: each input row emits one
    row per value column, no shuffle."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    )
    return o.unpivot(
        ids=["o_orderkey"],
        values=["totalprice", "custkey"],
        variableColumnName="metric",
        valueColumnName="val",
    )


Q_UNPIVOT_LONG_ORACLE = """
UNPIVOT (SELECT o_orderkey,
                ROUND(o_totalprice, 2) AS totalprice,
                CAST(o_custkey AS DOUBLE) AS custkey
         FROM orders)
ON totalprice, custkey INTO NAME metric VALUE val
"""


# -- map transformation higher-order functions ----------------------------------------
def q_map_transform_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_keys / transform_values — the map HOFs completing the MapType
    family (map_functions covers build/filter/explode). Maps stay executor-side;
    the comparison surface is exploded rows."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    maps = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    doubled = maps.select(
        "user_id",
        F.transform_keys("m", lambda k, v: F.upper(k)).alias("mk"),
    ).select(
        "user_id",
        F.transform_values("mk", lambda k, v: v * 2).alias("mkv"),
    )
    return doubled.select(
        "user_id", F.explode("mkv").alias("event_type_uc", "n_doubled")
    )


Q_MAP_TRANSFORM_FUNCTIONS_ORACLE = """
SELECT user_id, upper(event_type) AS event_type_uc,
       CAST(COUNT(*) * 2 AS BIGINT) AS n_doubled
FROM events GROUP BY user_id, event_type
"""


# -- array generation: sequence / array_repeat / flatten / zip_with -------------------
def q_sequence_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array GENERATION functions (the consumption side lives in
    array_functions): sequence for per-row ranges, array_repeat + flatten for
    replication, zip_with over generated pairs — all JVM-side, no UDF."""
    p = load(spark, sf_dir, "part")
    seq = F.sequence(F.lit(1), F.col("p_size"))
    return p.select(
        "p_partkey",
        F.size(seq).cast("bigint").alias("seq_len"),
        F.aggregate(
            seq, F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("seq_sum"),
        F.size(F.flatten(F.array_repeat(seq, 3))).cast("bigint").alias("rep3_len"),
        F.aggregate(
            F.zip_with(
                F.sequence(F.lit(1), F.lit(3)),
                F.array_repeat(F.col("p_size").cast("bigint"), 3),
                lambda x, y: x * y,
            ),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("tri_dot"),
    )


Q_SEQUENCE_ARRAYS_ORACLE = """
SELECT p_partkey,
       CAST(len(generate_series(1, p_size)) AS BIGINT) AS seq_len,
       CAST(list_aggregate(generate_series(1, p_size), 'sum') AS BIGINT) AS seq_sum,
       CAST(3 * len(generate_series(1, p_size)) AS BIGINT) AS rep3_len,
       CAST(list_aggregate(list_transform(generate_series(1, 3), x -> x * p_size),
                           'sum') AS BIGINT) AS tri_dot
FROM part
"""


# -- CSV sink + source round-trip -----------------------------------------------------
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write → declared-schema CSV read → aggregate (sources/batch.py:
    read_csv). The round-trip is lossless (Spark prints doubles with
    round-trip-exact precision), so the aggregate over the re-read CSV must
    hash-match the oracle computed straight from parquet — that IS the check
    that both the sink and the source are faithful."""
    from movie_genre_data_pipeline_spark.sources.batch import read_csv
    from movie_genre_data_pipeline_spark.suite._twin import workspace

    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    path = f"{workspace('mgdp_csv_')}/customer_csv"
    c.write.format("csv").option("header", "true").mode("overwrite").save(path)
    back = read_csv(
        spark,
        path,
        "c_custkey BIGINT, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


Q_CSV_ROUNDTRIP_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(c_acctbal), 2) AS total_bal,
       CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations
FROM customer GROUP BY c_mktsegment
"""


QUERIES: dict[str, QuerySpec] = {
    "csv_roundtrip": QuerySpec(q_csv_roundtrip, Q_CSV_ROUNDTRIP_ORACLE),
    "window_frame_stats": QuerySpec(q_window_frame_stats, Q_WINDOW_FRAME_STATS_ORACLE),
    "unpivot_long": QuerySpec(q_unpivot_long, Q_UNPIVOT_LONG_ORACLE),
    "map_transform_functions": QuerySpec(
        q_map_transform_functions, Q_MAP_TRANSFORM_FUNCTIONS_ORACLE
    ),
    "sequence_arrays": QuerySpec(q_sequence_arrays, Q_SEQUENCE_ARRAYS_ORACLE),
    "cross_join_dims": QuerySpec(q_cross_join_dims, Q_CROSS_JOIN_DIMS_ORACLE),
    "tpch_q4": QuerySpec(q_tpch_q4, Q_TPCH_Q4_ORACLE),
    "tpch_q7": QuerySpec(q_tpch_q7, Q_TPCH_Q7_ORACLE),
    "tpch_q2": QuerySpec(q_tpch_q2, Q_TPCH_Q2_ORACLE),
    "tpch_q8": QuerySpec(q_tpch_q8, Q_TPCH_Q8_ORACLE),
    "tpch_q9": QuerySpec(q_tpch_q9, Q_TPCH_Q9_ORACLE),
    "tpch_q11": QuerySpec(q_tpch_q11, Q_TPCH_Q11_ORACLE),
    "tpch_q16": QuerySpec(q_tpch_q16, Q_TPCH_Q16_ORACLE),
    "tpch_q20": QuerySpec(q_tpch_q20, Q_TPCH_Q20_ORACLE),
    "tpch_q13": QuerySpec(q_tpch_q13, Q_TPCH_Q13_ORACLE),
    "tpch_q15": QuerySpec(q_tpch_q15, Q_TPCH_Q15_ORACLE),
    "tpch_q21": QuerySpec(q_tpch_q21, Q_TPCH_Q21_ORACLE),
    "tpch_q10": QuerySpec(q_tpch_q10, Q_TPCH_Q10_ORACLE),
    "tpch_q12": QuerySpec(q_tpch_q12, Q_TPCH_Q12_ORACLE),
    "tpch_q14": QuerySpec(q_tpch_q14, Q_TPCH_Q14_ORACLE),
    "tpch_q19": QuerySpec(q_tpch_q19, Q_TPCH_Q19_ORACLE),
    "tpch_q22": QuerySpec(q_tpch_q22, Q_TPCH_Q22_ORACLE),
    "grouping_sets": QuerySpec(q_grouping_sets, _GROUPING_SETS_STMT),
    "agg_minmax_by": QuerySpec(q_agg_minmax_by, Q_AGG_MINMAX_BY_ORACLE),
    "agg_string_concat": QuerySpec(q_agg_string_concat, Q_AGG_STRING_CONCAT_ORACLE),
    "agg_conditional_bool": QuerySpec(
        q_agg_conditional_bool, Q_AGG_CONDITIONAL_BOOL_ORACLE
    ),
    "agg_bitwise": QuerySpec(q_agg_bitwise, Q_AGG_BITWISE_ORACLE),
    "json_functions": QuerySpec(q_json_functions, Q_JSON_FUNCTIONS_ORACLE),
    "hash_functions": QuerySpec(q_hash_functions, Q_HASH_FUNCTIONS_ORACLE),
    "math_functions": QuerySpec(q_math_functions, Q_MATH_FUNCTIONS_ORACLE),
    "regexp_functions": QuerySpec(q_regexp_functions, Q_REGEXP_FUNCTIONS_ORACLE),
    "url_functions": QuerySpec(q_url_functions, Q_URL_FUNCTIONS_ORACLE),
}


# -- Bloom semi-join reduction: prune the big side BEFORE the shuffle (r6) --------------
def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manual form of a runtime Bloom-filter join (what
    spark.sql.optimizer.runtime.bloomFilter automates): the small side's join
    keys build an m-bit bitmap (shuffle bounded by bitmap size), the big side
    probes it broadcast-side BEFORE its shuffle, and only possibly-matching
    rows enter the join. False positives cost one wasted join probe; false
    negatives never happen — so the pruned join's RESULT equals the plain
    join exactly, which is precisely what the oracle checks (the oracle is
    the plain SQL join). At 100 TB this turns a full-fact shuffle into a
    selectivity-proportional one whenever the dim side is filtered."""
    from movie_genre_data_pipeline_spark.functions.bloom import (
        bloom_probe,
        build_bloom,
    )

    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 7000)
    bloom = build_bloom(sup.select("s_suppkey"), "s_suppkey")
    pruned = bloom_probe(li, "l_suppkey", bloom).filter(F.col("bloom_hit")).drop(
        "bloom_hit"
    )
    j = pruned.join(sup, pruned["l_suppkey"] == sup["s_suppkey"])
    return (
        j.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
        .orderBy("s_nationkey")
    )


Q_BLOOM_JOIN_PRUNE_ORACLE = """
SELECT s.s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE s.s_acctbal > 7000
GROUP BY 1
ORDER BY 1
"""


QUERIES["ops_bloom_join_prune"] = QuerySpec(
    q_bloom_join_prune, Q_BLOOM_JOIN_PRUNE_ORACLE
)


# -- skew observability: the report that decides whether a join needs salting (r6) ------
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution report over the events stream's type column: top keys
    by row count with shares and the max/mean skew factor — the upstream
    decision input for operators.skew.salted_join / detect_hot_keys. One
    count aggregate + top-k; summary broadcast as one row."""
    from movie_genre_data_pipeline_spark.operators.skew import skew_report

    ev = load(spark, sf_dir, "events")
    return skew_report(ev, "event_type", top_k=5)


Q_SKEW_REPORT_ORACLE = """
WITH counts AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events GROUP BY event_type
),
stats AS (
  SELECT SUM(n_rows) AS total, MAX(n_rows) AS mx, AVG(n_rows) AS mean
  FROM counts
),
ranked AS (
  SELECT event_type, n_rows,
         CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, event_type ASC)
              AS INTEGER) AS rank
  FROM counts
)
SELECT rank, event_type, n_rows,
       ROUND(n_rows / CAST(total AS DOUBLE), 6) AS share,
       ROUND(mx / mean, 4) AS skew_factor
FROM ranked, stats
WHERE rank <= 5
ORDER BY rank
"""


QUERIES["ops_skew_report"] = QuerySpec(q_skew_report, Q_SKEW_REPORT_ORACLE)


# -- concentration observability: Gini coefficient of customer revenue (r13) ------------
# The inequality readout next to ops_skew_report's top-k view: HOW
# concentrated is revenue across customers, as one standardized number plus
# the top-1%/top-10% shares an analyst actually quotes. Gini via the exact
# rank identity G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted
# per-customer integer cents (tie-safe: equal x contribute the same Σ i·x
# under any tie ordering). Exactness: cents are the shared
# ROUND(price·100) spell (positive doubles — the half-up hazard class
# doesn't bite), ranks come from the range-partitioned row number
# (operators/ranking — no single-task window at any customer count),
# Σ i·x accumulates in DECIMAL(38,0) (rank·cents is O(n·total) — past
# 2^63 the moment both clear ~3e9), and each published ratio quantizes
# ONCE via a DECIMAL numerator cast to DOUBLE for a single divide + the
# FLOOR(x+0.5) spell. Scale shape: one custkey-keyed aggregate, one ranged
# rank, two 1-row reductions; customers without orders are out of frame
# (revenue concentration is over revenue-bearing customers).
_GINI_MICRO = (
    "CASE WHEN n_customers > 1 AND total_cents > 0 THEN"
    " CAST(FLOOR(CAST(2 * s_rank_cents"
    " - (CAST(n_customers AS DECIMAL(38,0)) + 1) * total_cents AS DOUBLE)"
    " * CAST(1000000 AS DOUBLE)"
    " / (CAST(n_customers AS DOUBLE) * CAST(total_cents AS DOUBLE))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_TOP_SHARE_MICRO = (
    "CASE WHEN total_cents > 0 THEN"
    " CAST(FLOOR(CAST(CAST({t} AS DECIMAL(38,0)) * 1000000 AS DOUBLE)"
    " / CAST(total_cents AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
# integer head counts via FLOOR over an exact double (< 2^53) — shared text
# because Spark spells integer division DIV and DuckDB spells it // (the
# hourly floor-div lesson)
_TOP1_K = (
    "GREATEST(CAST(1 AS BIGINT), CAST(FLOOR(CAST(n_customers AS DOUBLE)"
    " / CAST(100 AS DOUBLE)) AS BIGINT))"
)
_TOP10_K = (
    "CAST(FLOOR(CAST(n_customers AS DOUBLE) / CAST(10 AS DOUBLE)) AS BIGINT)"
)


def gini_from_customer_cents(per_cust: DataFrame) -> DataFrame:
    """The concentration tail over (c, cents) rows, however the per-customer
    totals were accumulated — shared by the batch query and the streaming
    ledger twin."""
    from movie_genre_data_pipeline_spark.operators.ranking import (
        ranged_row_number,
    )

    ranked = materialize(ranged_row_number(per_cust, [F.col("cents"), F.col("c")], "i"))
    tot = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.expr("SUM(CAST(i AS DECIMAL(38,0)) * cents)").alias("s_rank_cents"),
    )
    tops = (
        ranked.crossJoin(F.broadcast(tot))
        .selectExpr(
            "n_customers",
            "total_cents",
            "s_rank_cents",
            f"CASE WHEN i > n_customers - ({_TOP1_K}) THEN cents"
            " ELSE CAST(0 AS BIGINT) END AS c1",
            f"CASE WHEN i > n_customers - ({_TOP10_K}) THEN cents"
            " ELSE CAST(0 AS BIGINT) END AS c10",
        )
        .groupBy("n_customers", "total_cents", "s_rank_cents")
        .agg(
            F.sum("c1").cast("bigint").alias("top1_cents"),
            F.sum("c10").cast("bigint").alias("top10_cents"),
        )
    )
    return tops.selectExpr(
        "n_customers",
        "total_cents",
        f"{_GINI_MICRO} AS gini_micro",
        f"{_TOP_SHARE_MICRO.format(t='top1_cents')} AS top1pct_share_micro",
        f"{_TOP_SHARE_MICRO.format(t='top10_cents')} AS top10pct_share_micro",
    )


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("c")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    return gini_from_customer_cents(per_cust)


Q_GINI_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey AS c,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT c, cents,
         CAST(ROW_NUMBER() OVER (ORDER BY cents, c) AS BIGINT) AS i
  FROM per_cust
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         SUM(CAST(i AS DECIMAL(38,0)) * cents) AS s_rank_cents
  FROM ranked
),
tops AS (
  SELECT n_customers, total_cents, s_rank_cents,
         CAST(SUM(CASE WHEN i > n_customers - ({_TOP1_K}) THEN cents
                  ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS top1_cents,
         CAST(SUM(CASE WHEN i > n_customers - ({_TOP10_K}) THEN cents
                  ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS top10_cents
  FROM ranked CROSS JOIN tot
  GROUP BY 1, 2, 3
)
SELECT n_customers, total_cents,
       {_GINI_MICRO} AS gini_micro,
       {_TOP_SHARE_MICRO.format(t='top1_cents')} AS top1pct_share_micro,
       {_TOP_SHARE_MICRO.format(t='top10_cents')} AS top10pct_share_micro
FROM tops
"""


QUERIES["ops_gini_concentration"] = QuerySpec(
    q_gini_concentration, Q_GINI_ORACLE
)


def q_variant_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: build a nested document per event, parse it
    into a VARIANT, and extract typed paths back out — the semi-structured
    round-trip (to_json → parse_json → variant_get) must reproduce the
    original columns exactly, which is what the oracle checks by computing
    the expected aggregates straight from the raw columns (no JSON at all).
    A missing path extracts as NULL (counted), not an error. VARIANT is the
    schema-on-read column type a 100 TB ingest keeps flexible fields in;
    extraction is scan-local and prunes like any projection."""
    ev = load(spark, sf_dir, "events")
    doc = ev.select(
        "event_type",
        F.to_json(
            F.struct(
                F.col("event_type").alias("t"),
                F.struct(
                    F.from_json("props", "k INT").getField("k").alias("k"),
                    F.round(F.col("value") * 100).cast("bigint").alias("cents"),
                ).alias("p"),
            )
        ).alias("doc"),
    )
    extracted = doc.selectExpr(
        "event_type",
        "variant_get(parse_json(doc), '$.p.k', 'bigint') AS k_back",
        "variant_get(parse_json(doc), '$.p.cents', 'bigint') AS cents_back",
        "variant_get(parse_json(doc), '$.nope', 'string') AS missing",
    )
    return extracted.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k_back").cast("bigint").alias("sum_k"),
        F.sum("cents_back").cast("bigint").alias("sum_cents"),
        F.sum(F.when(F.col("missing").isNull(), F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_missing"),
    )


Q_VARIANT_FUNCTIONS_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(COUNT(*) AS BIGINT) AS n_missing
FROM events GROUP BY event_type
"""

QUERIES["variant_functions"] = QuerySpec(
    q_variant_functions, Q_VARIANT_FUNCTIONS_ORACLE
)


# -- correlated LATERAL join (r8): ONE ANSI string, both engines verbatim ---------------
_LATERAL_TOPK_SQL = """
SELECT d.n_name, l.c_custkey, l.bal_cents
FROM (SELECT DISTINCT n_nationkey, n_name FROM nation) d,
     LATERAL (SELECT c_custkey,
                     CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
              FROM customer
              WHERE customer.c_nationkey = d.n_nationkey
              ORDER BY bal_cents DESC, c_custkey ASC
              LIMIT 2) l
"""


def q_lateral_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — top-2 customers by account balance per
    nation, expressed as the per-row-subquery form (the shape analysts
    write) rather than a window: Catalyst decorrelates it into a join +
    per-key limit. The statement is ONE ANSI string executed VERBATIM by
    both engines (integer-cent ordering + custkey tie-break keep the top-2
    deterministic)."""
    for t in ("nation", "customer"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_TOPK_SQL)


QUERIES["lateral_join_topk"] = QuerySpec(q_lateral_join_topk, _LATERAL_TOPK_SQL)


def q_xml_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 native XML: build a document per event, parse with from_xml,
    extract typed fields, and aggregate — the round-trip must reproduce the
    original columns, which the oracle computes directly from the raw table
    (DuckDB has no XML; computing the expectation from first principles is
    the stronger check anyway, as with variant_functions)."""
    ev = load(spark, sf_dir, "events")
    doc = ev.select(
        F.concat(
            F.lit("<r><k>"),
            F.from_json("props", "k INT").getField("k").cast("string"),
            F.lit("</k><t>"),
            F.col("event_type"),
            F.lit("</t></r>"),
        ).alias("doc")
    )
    parsed = doc.select(
        F.expr("from_xml(doc, 'k INT, t STRING')").alias("x")
    ).select(F.col("x.k").alias("k"), F.col("x.t").alias("t"))
    return parsed.groupBy(F.col("t").alias("event_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sum_k"),
    )


Q_XML_FUNCTIONS_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k
FROM events GROUP BY event_type
"""

QUERIES["xml_functions"] = QuerySpec(q_xml_functions, Q_XML_FUNCTIONS_ORACLE)


# -- SQL pipe syntax (r9) -------------------------------------------------------------------
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL pipe syntax (|> — SIGMOD'24 'SQL Has Problems...' /
    the GoogleSQL pipe-flow form, public in Spark since 4.0): the same
    filter → aggregate → having → order flow a medallion notebook writes as
    chained DataFrame calls, expressed as a linear SQL pipeline. Semantics
    are plain relational algebra, so the oracle is the standard ANSI form —
    this query pins that Spark's pipe parser produces the identical result
    (quantities are integral doubles; sums cast to BIGINT both sides)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_pipe9")
    return spark.sql(
        """
        FROM lineitem_pipe9
        |> WHERE l_quantity >= 25
        |> AGGREGATE CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
                     CAST(COUNT(*) AS BIGINT) AS n_items,
                     CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n_items > 10
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


Q_SQL_PIPE_SYNTAX_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
WHERE l_quantity >= 25
GROUP BY l_returnflag, l_linestatus
HAVING COUNT(*) > 10
ORDER BY l_returnflag, l_linestatus
"""

QUERIES["sql_pipe_syntax"] = QuerySpec(q_sql_pipe_syntax, Q_SQL_PIPE_SYNTAX_ORACLE)


# -- Theil index with between/within decomposition (r14) -----------------------------------
# The inequality readout Gini can't give: Theil's T is the ONE standard
# inequality measure that decomposes EXACTLY by group — T = T_between +
# Σ_g (X_g/X)·T_g — so a corpus-balance audit can say how much of the
# document-length inequality lives BETWEEN sources (fix the mixture) vs
# WITHIN them (fix the sources). T = Σ (x_i/X)·ln(x_i/μ) reduces to three
# additive facts per group: N_g, X_g = Σx, and L_g = Σ x·⌊ln(x)·1e6⌉ — the
# per-doc ln quantizes ONCE at arrival (scan-local, the micro-nat
# discipline) and the x-weighted sum stays an exact DECIMAL(38,0), which is
# what makes the ledger twin a pure SUM fold: T_g, the between term, and
# every share re-derive at readout through shared double spells. Scale
# shape: one scan → |sources| fact rows; every readout division is
# |sources|-grain. The exact decomposition identity (micro-rounded) is
# pinned as a law test.
_THEIL_TG_MICRO = (
    "CAST(FLOOR(CAST(l_g AS DOUBLE) / CAST(x_g AS DOUBLE)"
    " - LN(CAST(x_g AS DOUBLE) / CAST(n_g AS DOUBLE)) * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_THEIL_BT_MICRO = (
    "CAST(FLOOR(CAST(x_g AS DOUBLE) / CAST(x_tot AS DOUBLE)"
    " * LN((CAST(x_g AS DOUBLE) / CAST(x_tot AS DOUBLE))"
    " / (CAST(n_g AS DOUBLE) / CAST(n_tot AS DOUBLE)))"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_THEIL_XSHARE_MICRO = (
    "CAST(FLOOR(CAST(x_g AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " / CAST(x_tot AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_THEIL_LNX_MICRO = (
    "CAST(FLOOR(LN(CAST(x AS DOUBLE)) * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def theil_facts(docs: DataFrame) -> DataFrame:
    """(source, n_g, x_g, l_g) — the additive Theil facts over one documents
    scan (x = n_chars, zero-length docs carry no mass and are out of frame;
    the per-doc ln is an arrival decision). SUM-foldable; the twin appends
    these."""
    base = docs.select(
        "source", F.col("n_chars").cast("bigint").alias("x")
    ).filter(F.col("x") > 0)
    return base.selectExpr(
        "source", "x", f"{_THEIL_LNX_MICRO} AS lnx_micro"
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("x").cast("bigint").alias("x_g"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * lnx_micro)").alias("l_g"),
    )


def theil_report_from_facts(facts: DataFrame) -> DataFrame:
    """The decomposition report over folded (source, n_g, x_g, l_g) facts,
    however accumulated — shared by batch and the ledger twin."""
    tot = facts.agg(
        F.sum("n_g").cast("bigint").alias("n_tot"),
        F.sum("x_g").cast("bigint").alias("x_tot"),
    )
    return (
        facts.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n_g AS n_docs",
            "x_g AS total_chars",
            f"{_THEIL_XSHARE_MICRO} AS x_share_micro",
            f"{_THEIL_TG_MICRO} AS theil_within_micro",
            f"{_THEIL_BT_MICRO} AS between_term_micro",
        )
        .orderBy("source")
    )


def q_ops_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return theil_report_from_facts(theil_facts(load(spark, sf_dir, "documents")))


Q_THEIL_ORACLE = f"""
WITH base AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
  WHERE n_chars > 0
),
scored AS (
  SELECT source, x, {_THEIL_LNX_MICRO} AS lnx_micro FROM base
),
facts AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(x) AS BIGINT) AS x_g,
         SUM(CAST(x AS HUGEINT) * lnx_micro) AS l_g
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n_tot,
         CAST(SUM(x_g) AS BIGINT) AS x_tot
  FROM facts
)
SELECT source,
       n_g AS n_docs,
       x_g AS total_chars,
       {_THEIL_XSHARE_MICRO} AS x_share_micro,
       {_THEIL_TG_MICRO} AS theil_within_micro,
       {_THEIL_BT_MICRO} AS between_term_micro
FROM facts CROSS JOIN tot
ORDER BY source
"""

QUERIES["ops_theil_decomposition"] = QuerySpec(
    q_ops_theil_decomposition, Q_THEIL_ORACLE
)
