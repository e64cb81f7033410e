"""Reference-parity operators (SURVEY.md §2) mapped onto the driver's synthetic
tables: `lineitem` plays raw movies (quarantine on quantity, floor on totalprice),
`nation`/`region` play the genre/language dims (FIXTURES.md §4).

Every query exercises the corresponding engine operator from
movie_genre_data_pipeline_spark.operators — these are the correctness gate for the
operator inventory, not ad-hoc SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.operators.cleanse import (
    cast_columns,
    conditional_floor,
    fix_dimension,
    quarantine_split,
)
from movie_genre_data_pipeline_spark.operators.nested import (
    expand_struct,
    extract_array_field,
    flatten_exploded_struct,
)
from movie_genre_data_pipeline_spark.operators.upsert import (
    upsert_insert_missing,
    upsert_update,
)
from movie_genre_data_pipeline_spark.suite import QuerySpec, load


# -- flagship -----------------------------------------------------------------
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The medallion spine over lineitem: audit-enrich → rule-based clean/quarantine
    split → revenue aggregate per (returnflag, status). Exercises P6/P9/F3/A-agg in
    one plan (SURVEY.md §7.2 step 1)."""
    li = load(spark, sf_dir, "lineitem")
    enriched = li.withColumn(
        "status",
        F.when(F.col("l_quantity") >= 48, F.lit("quarantined")).otherwise(
            F.lit("loaded")
        ),
    )
    return (
        enriched.groupBy("l_returnflag", "status")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag", "status")
    )


FLAGSHIP_ORACLE = """
SELECT l_returnflag,
       CASE WHEN l_quantity >= 48 THEN 'quarantined' ELSE 'loaded' END AS status,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY 1, 2
"""


# -- P1/P8: projection + rename + casts ----------------------------------------
def q_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    projected = li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_quantity").alias("qty"),
        F.col("l_shipdate").alias("ship_ts"),
    )
    casted = cast_columns(projected, {"qty": "INTEGER", "ship_ts": "DATE"})
    # date → string for the oracle hash: pandas renders Spark dates and DuckDB
    # dates differently (date vs datetime64); a canonical string sidesteps it.
    return casted.select(
        "order_id", "qty", F.col("ship_ts").cast("STRING").alias("ship_date")
    )


Q_PROJECT_CAST_ORACLE = """
SELECT l_orderkey AS order_id,
       CAST(l_quantity AS INTEGER) AS qty,
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date
FROM lineitem
"""


# -- P2: struct star-expansion ---------------------------------------------------
def q_struct_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack rows into a `value` struct (the bronze envelope shape) and expand with
    select("value.*") — reference operations/operations.py:60."""
    li = load(spark, sf_dir, "lineitem")
    enveloped = li.select(
        F.struct(
            F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_quantity")
        ).alias("value")
    )
    return expand_struct(enveloped, "value", keep_struct=False)


Q_STRUCT_EXPAND_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
"""


# -- P5: explode (array → rows) ---------------------------------------------------
def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuild the reference's explode surface: per-order array of part keys,
    re-exploded to rows (operations/operations.py:21,87-89)."""
    li = load(spark, sf_dir, "lineitem")
    arrays = li.groupBy("l_orderkey").agg(F.collect_list("l_partkey").alias("parts"))
    return arrays.select(
        "l_orderkey", F.explode("parts").alias("part_id")
    )


Q_EXPLODE_ORACLE = """
SELECT l_orderkey, UNNEST(LIST(l_partkey)) AS part_id
FROM lineitem GROUP BY l_orderkey
"""


# -- P3: field extraction over array<struct> -------------------------------------
def q_array_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genres_Id shape: collect array<struct>, extract one field element-wise,
    emit per-order item count + distinct-part count from the extracted array."""
    li = load(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct(F.col("l_linenumber"), F.col("l_partkey"))).alias("items")
    )
    parts = extract_array_field("items", "l_partkey")
    return nested.select(
        "l_orderkey",
        F.size(parts).alias("n_items"),
        F.size(F.array_distinct(parts)).alias("n_parts"),
    )


Q_ARRAY_FIELD_EXTRACT_ORACLE = """
SELECT l_orderkey,
       CAST(COUNT(*) AS INTEGER) AS n_items,
       CAST(COUNT(DISTINCT l_partkey) AS INTEGER) AS n_parts
FROM lineitem GROUP BY l_orderkey
"""


# -- P4: flatten exploded struct --------------------------------------------------
def q_flatten_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fix_genres plumbing (operations/operations.py:54): explode array<struct> then
    col("col.*")."""
    n = load(spark, sf_dir, "nation")
    nested = n.groupBy("n_regionkey").agg(
        F.collect_list(F.struct(F.col("n_nationkey").alias("id"), F.col("n_name").alias("name"))).alias("arr")
    )
    exploded = nested.select(F.explode("arr").alias("col"))
    return flatten_exploded_struct(exploded, "col")


Q_FLATTEN_EXPLODED_ORACLE = """
SELECT n_nationkey AS id, n_name AS name FROM nation
"""


# -- P9: conditional floor ---------------------------------------------------------
def q_conditional_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.round(conditional_floor("o_totalprice", 50_000.0), 2).alias("floored_price"),
    )


Q_CONDITIONAL_FLOOR_ORACLE = """
SELECT o_orderkey,
       ROUND(CASE WHEN o_totalprice < 50000 THEN 50000 ELSE o_totalprice END, 2)
         AS floored_price
FROM orders
"""


# -- P10: abs repair ---------------------------------------------------------------
def q_abs_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.round(F.abs(F.col("value") - F.lit(50.0)), 4).alias("deviation")
    )


Q_ABS_REPAIR_ORACLE = """
SELECT event_id, ROUND(ABS(value - 50.0), 4) AS deviation FROM events
"""


# -- P6/P12: literal audit enrichment ----------------------------------------------
def q_lit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_raw minus the clock (P7 current_timestamp is non-deterministic and
    excluded from hashed queries; Clock injection is tested in pytest instead)."""
    o = load(spark, sf_dir, "orders")
    return o.select("o_orderkey").withColumn(
        "datasource", F.lit("orders.parquet")
    ).withColumn("status", F.lit("new"))


Q_LIT_ENRICH_ORACLE = """
SELECT o_orderkey, 'orders.parquet' AS datasource, 'new' AS status FROM orders
"""


# -- F1/F2: equality + SQL-string predicates ----------------------------------------
def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderpriority"
    )


Q_FILTER_EQ_ORACLE = """
SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'
"""


def q_filter_sql_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: predicate given as a SQL string (reference operations/operations.py:136)."""
    ev = load(spark, sf_dir, "events")
    return ev.filter("event_type = 'error'").select("event_id", "user_id")


Q_FILTER_SQL_STRING_ORACLE = """
SELECT event_id, user_id FROM events WHERE event_type = 'error'
"""


# -- F3+A1: dedup-once quarantine split ----------------------------------------------
def q_quarantine_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    clean, _ = quarantine_split(li, F.col("l_quantity") < 48)
    return clean


Q_QUARANTINE_CLEAN_ORACLE = """
SELECT DISTINCT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem WHERE l_quantity < 48
"""


def q_quarantine_quarantined(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    _, quarantined = quarantine_split(li, F.col("l_quantity") < 48)
    return quarantined


Q_QUARANTINE_QUARANTINED_ORACLE = """
SELECT DISTINCT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem WHERE NOT (l_quantity < 48)
"""


# -- F4+A1+O1: dimension fix ----------------------------------------------------------
def q_dim_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("Id"), F.col("n_name").alias("name")
    )
    return fix_dimension(n, "Id", "name")


Q_DIM_FIX_ORACLE = """
SELECT DISTINCT n_nationkey AS Id, n_name AS name
FROM nation WHERE n_name <> ''
"""


# -- A2: filtered count ----------------------------------------------------------------
def q_count_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") < 10).agg(
        F.count(F.lit(1)).alias("n")
    )


Q_COUNT_FILTERED_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem WHERE l_quantity < 10
"""


# -- J1: MERGE WHEN MATCHED UPDATE (status flip) -----------------------------------------
def q_merge_status_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based whenMatchedUpdate: orders start status='new'; customers with a
    negative account balance mark their orders 'quarantined'
    (operators.upsert.upsert_update ≙ operations/operations.py:112-129)."""
    o = load(spark, sf_dir, "orders").withColumn("status", F.lit("new"))
    src = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("o_custkey"))
        .distinct()
        .withColumn("status", F.lit("quarantined"))
    )
    updated = upsert_update(
        o, src, on="o_custkey", set_columns={"status": "status"}, verify_unique=False
    )
    return updated.select("o_orderkey", "o_custkey", "status")


Q_MERGE_STATUS_UPDATE_ORACLE = """
SELECT o.o_orderkey, o.o_custkey,
       CASE WHEN s.c_custkey IS NOT NULL THEN 'quarantined' ELSE 'new' END AS status
FROM orders o
LEFT JOIN (SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal < 0) s
  ON o.o_custkey = s.c_custkey
"""


# -- J2: MERGE WHEN NOT MATCHED INSERT ----------------------------------------------------
def q_merge_insert_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join insert set: customers absent from the finished-orders target (the
    repair-insert shape, Autoloader_notebook/Silver_update.py:50-60)."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    target = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return upsert_insert_missing(target, c, on="c_custkey")


Q_MERGE_INSERT_MISSING_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""


# -- J3 (extension): SCD Type-2 merge — validity-interval dimension history --------------
def q_merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history for a customer 'tier' dimension: every customer starts at
    BASE (eff_from 1990-01-01); each order day with a >350k order upgrades the
    tier (amount-based), and operators.scd.scd2_apply derives the full
    [eff_from, eff_to) version chain — the history-keeping successor of the
    reference's Type-1 status MERGE (operations/operations.py:112-129)."""
    from movie_genre_data_pipeline_spark.operators.scd import scd2_apply

    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    ups = (
        orders.filter(F.col("o_totalprice") > 350000)
        .groupBy(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderdate").alias("eff_from"),
        )
        .agg(F.max("o_totalprice").alias("amt"))
        .select(
            "c_custkey",
            "eff_from",
            F.when(F.col("amt") > 450000, "PLATINUM")
            .when(F.col("amt") > 400000, "GOLD")
            .otherwise("SILVER")
            .alias("tier"),
        )
    )
    base = cust.select(
        "c_custkey",
        F.lit("1990-01-01").cast("timestamp").alias("eff_from"),
        F.lit("BASE").alias("tier"),
    )
    hist = scd2_apply(base, ups, ["c_custkey"], ["tier"], "eff_from")
    return hist.select("c_custkey", "tier", "eff_from", "eff_to", "is_current")


Q_MERGE_SCD2_ORACLE = """
WITH ups AS (
  SELECT o_custkey AS c_custkey, o_orderdate AS eff_from,
         CASE WHEN MAX(o_totalprice) > 450000 THEN 'PLATINUM'
              WHEN MAX(o_totalprice) > 400000 THEN 'GOLD'
              ELSE 'SILVER' END AS tier
  FROM orders WHERE o_totalprice > 350000 GROUP BY 1, 2
),
hist AS (
  SELECT c_custkey, TIMESTAMP '1990-01-01' AS eff_from, 'BASE' AS tier FROM customer
  UNION ALL SELECT c_custkey, eff_from, tier FROM ups
),
collapsed AS (
  SELECT c_custkey, eff_from, tier,
         LAG(tier) OVER (PARTITION BY c_custkey ORDER BY eff_from ASC, tier ASC)
           AS prev_tier
  FROM hist
),
versions AS (
  SELECT c_custkey, eff_from, tier FROM collapsed
  WHERE prev_tier IS NULL OR tier <> prev_tier
),
final AS (
  SELECT c_custkey, tier, eff_from,
         LEAD(eff_from) OVER (PARTITION BY c_custkey ORDER BY eff_from ASC, tier ASC)
           AS eff_to
  FROM versions
)
SELECT c_custkey, tier, eff_from, eff_to, (eff_to IS NULL) AS is_current FROM final
"""


# -- J3b (extension): INCREMENTAL SCD2 — touched-keys-only rebuild -----------------------
SCD2_SPLIT = "1996-01-01"


def q_merge_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly-batch shape of merge_scd2: the pre-1996 tier history is the
    persisted dimension; post-1996 upgrades arrive as the update batch and
    scd2_apply_incremental rebuilds ONLY the touched keys (two joins against
    the broadcast-sized touched set + a window over their rows — never a
    rewrite of the billion-key dimension). Per-key locality of the window
    makes the result EXACTLY the full-batch history, so this query shares
    merge_scd2's oracle verbatim — incremental == batch is itself the
    driver-checked contract."""
    from movie_genre_data_pipeline_spark.operators.scd import (
        scd2_apply,
        scd2_apply_incremental,
    )

    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    ups = (
        orders.filter(F.col("o_totalprice") > 350000)
        .groupBy(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderdate").alias("eff_from"),
        )
        .agg(F.max("o_totalprice").alias("amt"))
        .select(
            "c_custkey",
            "eff_from",
            F.when(F.col("amt") > 450000, "PLATINUM")
            .when(F.col("amt") > 400000, "GOLD")
            .otherwise("SILVER")
            .alias("tier"),
        )
    )
    base = cust.select(
        "c_custkey",
        F.lit("1990-01-01").cast("timestamp").alias("eff_from"),
        F.lit("BASE").alias("tier"),
    )
    split = F.lit(SCD2_SPLIT).cast("timestamp")
    # in production `history` is a persisted dimension TABLE; deriving it
    # inline here, the checkpoint stands in for that materialization so the
    # incremental pass doesn't re-derive it per reference (untouched + touched)
    history = scd2_apply(
        base, ups.filter(F.col("eff_from") < split), ["c_custkey"], ["tier"], "eff_from"
    ).localCheckpoint(eager=False)
    hist2 = scd2_apply_incremental(
        history, ups.filter(F.col("eff_from") >= split), ["c_custkey"], ["tier"], "eff_from"
    )
    return hist2.select("c_custkey", "tier", "eff_from", "eff_to", "is_current")


QUERIES: dict[str, QuerySpec] = {
    "flagship_revenue_by_flag_status": QuerySpec(flagship, FLAGSHIP_ORACLE),
    "project_cast": QuerySpec(q_project_cast, Q_PROJECT_CAST_ORACLE),
    "struct_expand": QuerySpec(q_struct_expand, Q_STRUCT_EXPAND_ORACLE),
    "explode_array": QuerySpec(q_explode, Q_EXPLODE_ORACLE),
    "array_field_extract": QuerySpec(q_array_field_extract, Q_ARRAY_FIELD_EXTRACT_ORACLE),
    "flatten_exploded_struct": QuerySpec(q_flatten_exploded, Q_FLATTEN_EXPLODED_ORACLE),
    "conditional_floor": QuerySpec(q_conditional_floor, Q_CONDITIONAL_FLOOR_ORACLE),
    "abs_repair": QuerySpec(q_abs_repair, Q_ABS_REPAIR_ORACLE),
    "lit_enrich": QuerySpec(q_lit_enrich, Q_LIT_ENRICH_ORACLE),
    "filter_eq": QuerySpec(q_filter_eq, Q_FILTER_EQ_ORACLE),
    "filter_sql_string": QuerySpec(q_filter_sql_string, Q_FILTER_SQL_STRING_ORACLE),
    "quarantine_clean": QuerySpec(q_quarantine_clean, Q_QUARANTINE_CLEAN_ORACLE),
    "quarantine_quarantined": QuerySpec(
        q_quarantine_quarantined, Q_QUARANTINE_QUARANTINED_ORACLE
    ),
    "dim_fix": QuerySpec(q_dim_fix, Q_DIM_FIX_ORACLE),
    "count_filtered": QuerySpec(q_count_filtered, Q_COUNT_FILTERED_ORACLE),
    "merge_status_update": QuerySpec(q_merge_status_update, Q_MERGE_STATUS_UPDATE_ORACLE),
    "merge_insert_missing": QuerySpec(q_merge_insert_missing, Q_MERGE_INSERT_MISSING_ORACLE),
    "merge_scd2": QuerySpec(q_merge_scd2, Q_MERGE_SCD2_ORACLE),
    # shares the batch oracle: incremental == batch IS the checked contract
    "merge_scd2_incremental": QuerySpec(q_merge_scd2_incremental, Q_MERGE_SCD2_ORACLE),
}


# -- F6 (extension): declarative data-quality expectations (r5) --------------------------
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DLT expect_* / dbt-test surface generalizing the reference's single
    hard-coded quarantine rule (operations/operations.py:96-109): five rules
    with per-rule dispositions evaluated in ONE scan — a single hash aggregate
    of conditional counts, unpivoted to the per-rule report. Counts are
    integers and the rate one division, so the whole report is oracle-exact."""
    from movie_genre_data_pipeline_spark.operators.quality import (
        Expectation,
        check_expectations,
    )

    li = load(spark, sf_dir, "lineitem")
    rules = [
        Expectation("qty_positive", F.col("l_quantity") > 0, "drop"),
        Expectation("qty_in_range", F.col("l_quantity") <= 50, "warn"),
        Expectation("price_nonnegative", F.col("l_extendedprice") >= 0, "drop"),
        Expectation(
            "discount_in_band",
            (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.1),
            "warn",
        ),
        Expectation("shipdate_present", F.col("l_shipdate").isNotNull(), "fail"),
    ]
    return check_expectations(li, rules)


Q_DQ_EXPECTATIONS_ORACLE = """
WITH agg AS (
  SELECT
    CAST(SUM(CASE WHEN COALESCE(l_quantity > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS p1,
    CAST(SUM(CASE WHEN COALESCE(l_quantity > 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS f1,
    CAST(SUM(CASE WHEN COALESCE(l_quantity <= 50, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS p2,
    CAST(SUM(CASE WHEN COALESCE(l_quantity <= 50, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS f2,
    CAST(SUM(CASE WHEN COALESCE(l_extendedprice >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS p3,
    CAST(SUM(CASE WHEN COALESCE(l_extendedprice >= 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS f3,
    CAST(SUM(CASE WHEN COALESCE(l_discount >= 0 AND l_discount <= 0.1, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS p4,
    CAST(SUM(CASE WHEN COALESCE(l_discount >= 0 AND l_discount <= 0.1, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS f4,
    CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS p5,
    CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS f5
  FROM lineitem
)
SELECT rule_name, action, n_pass, n_fail,
       ROUND(n_fail / CAST(n_pass + n_fail AS DOUBLE), 6) AS fail_rate
FROM (
  SELECT 'qty_positive' AS rule_name, 'drop' AS action, p1 AS n_pass, f1 AS n_fail FROM agg
  UNION ALL SELECT 'qty_in_range', 'warn', p2, f2 FROM agg
  UNION ALL SELECT 'price_nonnegative', 'drop', p3, f3 FROM agg
  UNION ALL SELECT 'discount_in_band', 'warn', p4, f4 FROM agg
  UNION ALL SELECT 'shipdate_present', 'fail', p5, f5 FROM agg
)
"""


QUERIES["dq_expectations"] = QuerySpec(q_dq_expectations, Q_DQ_EXPECTATIONS_ORACLE)


# -- Gold layer (r6): the medallion stage the reference describes but never builds -------
def q_gold_genre_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver→Gold star mart (/root/reference/README.md:10-15 sketches Gold and
    stops at Silver): movie-shaped fact rows (orders play movie_silver — Revenue
    from o_totalprice, a derived Budget, a synthetic 2-genre membership array)
    explode on their genre ids, broadcast-join the genre dimension (nation), and
    roll up to one mart row per genre. The plan is one fact scan → explode →
    broadcast hash join → single hash aggregate on ~|genres| keys."""
    from movie_genre_data_pipeline_spark.plans.gold import GENRE, build_mart

    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    movies = orders.select(
        F.col("o_totalprice").alias("Revenue"),
        F.round(F.col("o_totalprice") * 0.4, 2).alias("Budget"),
        (F.col("o_orderkey") % 180 + 60).cast("INTEGER").alias("RunTime"),
        F.array_distinct(
            F.array(
                (F.col("o_custkey") % 25).cast("INTEGER"),
                (F.col("o_orderkey") % 25).cast("INTEGER"),
            )
        ).alias("Genres_Id"),
    )
    genre_dim = nation.select(
        F.col("n_nationkey").cast("INTEGER").alias("Id"), F.col("n_name").alias("name")
    )
    return build_mart(GENRE, movies, genre_dim)


Q_GOLD_GENRE_REVENUE_ORACLE = """
WITH movie AS (
  SELECT o_totalprice AS revenue,
         ROUND(o_totalprice * 0.4, 2) AS budget,
         CAST(o_orderkey % 180 + 60 AS INTEGER) AS runtime,
         list_distinct([CAST(o_custkey % 25 AS INTEGER),
                        CAST(o_orderkey % 25 AS INTEGER)]) AS genres
  FROM orders
), exploded AS (
  SELECT revenue, budget, runtime, unnest(genres) AS genre_id FROM movie
)
SELECT e.genre_id,
       n.n_name AS genre_name,
       CAST(COUNT(*) AS BIGINT) AS n_movies,
       ROUND(SUM(e.revenue), 2) AS total_revenue,
       ROUND(SUM(e.budget), 2) AS total_budget,
       ROUND(AVG(e.runtime), 4) AS avg_runtime
FROM exploded e
JOIN nation n ON n.n_nationkey = e.genre_id
GROUP BY 1, 2
ORDER BY 1
"""


QUERIES["gold_genre_revenue"] = QuerySpec(
    q_gold_genre_revenue, Q_GOLD_GENRE_REVENUE_ORACLE
)


# -- Gold IVM (r6): maintain the mart from the CDC feed instead of recomputing ----------
def gold_ivm_frames(spark: SparkSession, sf_dir: str):
    """(snap_a, snap_b, genre_dim): the fixture-mapped movie snapshots the
    gold-IVM queries diff — A is missing keys %101 (later inserted), B drops
    keys %97 (deleted) and reprices keys %13 (updated). Shared by the batch
    and streaming IVM variants so both fold the SAME change feed."""
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    base = orders.select(
        F.col("o_orderkey").alias("Id"),
        F.col("o_totalprice").alias("Revenue"),
        F.round(F.col("o_totalprice") * 0.4, 2).alias("Budget"),
        (F.col("o_orderkey") % 180 + 60).cast("INTEGER").alias("RunTime"),
        F.array_distinct(
            F.array(
                (F.col("o_custkey") % 25).cast("INTEGER"),
                (F.col("o_orderkey") % 25).cast("INTEGER"),
            )
        ).alias("Genres_Id"),
    )
    snap_a = base.filter(F.col("Id") % 101 != 0)
    # Reprice in INTEGER CENTS: ×1.1 of a 2-dp double creates 3-dp halfway
    # cases that Spark (exact-BigDecimal HALF_UP) and DuckDB (scaled-float)
    # round differently (r6 driver hash fail — 12/1142 rows off by 1 cent).
    # (cents*11 + 5) DIV 10 is identical integer arithmetic in both engines.
    snap_b = base.filter(F.col("Id") % 97 != 0).withColumn(
        "Revenue",
        F.when(
            F.col("Id") % 13 == 0,
            F.expr(
                "CAST((CAST(ROUND(Revenue * 100) AS BIGINT) * 11 + 5) DIV 10 AS DOUBLE) / 100.0"
            ),
        ).otherwise(F.col("Revenue")),
    )
    genre_dim = nation.select(
        F.col("n_nationkey").cast("INTEGER").alias("Id"), F.col("n_name").alias("name")
    )
    return snap_a, snap_b, genre_dim


def q_gold_genre_revenue_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of the gold mart: snapshot A's additive
    state (integer-cent sums) is folded forward with the signed contributions
    of ONLY the changed movies from `snapshot_diff(A, B)` — inserts (+new),
    deletes (-old), updates (-old, +new). Because the state is integral, the
    maintained mart equals a from-scratch rebuild over snapshot B bit-for-bit,
    which is exactly what the oracle computes directly. At 100 TB this is the
    nightly reality: the change feed is churn-sized, so gold refresh touches
    |changes| + |genres| rows, not the fact history."""
    from movie_genre_data_pipeline_spark.operators.cdc import snapshot_diff
    from movie_genre_data_pipeline_spark.plans.gold import (
        GENRE,
        apply_delta,
        build_state,
        finalize,
    )

    snap_a, snap_b, genre_dim = gold_ivm_frames(spark, sf_dir)
    changes = snapshot_diff(
        snap_a, snap_b, ["Id"], ["Revenue", "Budget", "RunTime", "Genres_Id"]
    )
    state_a = build_state(GENRE, snap_a, genre_dim)
    state_b = apply_delta(GENRE, state_a, changes, genre_dim)
    return finalize(GENRE, state_b)


Q_GOLD_GENRE_REVENUE_IVM_ORACLE = """
WITH movie AS (
  SELECT CASE WHEN o_orderkey % 13 = 0
              THEN CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11 + 5) // 10
                         AS DOUBLE) / 100.0
              ELSE o_totalprice END AS revenue,
         ROUND(o_totalprice * 0.4, 2) AS budget,
         CAST(o_orderkey % 180 + 60 AS INTEGER) AS runtime,
         list_distinct([CAST(o_custkey % 25 AS INTEGER),
                        CAST(o_orderkey % 25 AS INTEGER)]) AS genres
  FROM orders WHERE o_orderkey % 97 <> 0
), exploded AS (
  SELECT revenue, budget, runtime, unnest(genres) AS genre_id FROM movie
), agg AS (
  SELECT e.genre_id, n.n_name AS genre_name,
         CAST(COUNT(*) AS BIGINT) AS n_movies,
         SUM(CAST(ROUND(e.revenue * 100) AS BIGINT)) AS rev_c,
         SUM(CAST(ROUND(e.budget * 100) AS BIGINT)) AS bud_c,
         SUM(CAST(e.runtime AS BIGINT)) AS rt_sum,
         CAST(COUNT(e.runtime) AS BIGINT) AS rt_n
  FROM exploded e JOIN nation n ON n.n_nationkey = e.genre_id
  GROUP BY 1, 2
)
SELECT genre_id, genre_name, n_movies,
       ROUND(rev_c / 100.0, 2) AS total_revenue,
       ROUND(bud_c / 100.0, 2) AS total_budget,
       ROUND(CAST(rt_sum AS DOUBLE) / rt_n, 4) AS avg_runtime
FROM agg
ORDER BY 1
"""


QUERIES["gold_genre_revenue_ivm"] = QuerySpec(
    q_gold_genre_revenue_ivm, Q_GOLD_GENRE_REVENUE_IVM_ORACLE
)


# -- J3c (extension): consuming the SCD2 history — point-in-time enrichment --------------
def q_merge_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by customer tier AT TIME OF PURCHASE: every order equi-joins
    the tier history on c_custkey and keeps the [eff_from, eff_to) version
    covering o_orderdate — the consumer query SCD2 history exists for. The
    join is a plain key equi-join + interval filter (operators.scd.
    scd2_point_in_time_join), so the plan scales like any key join; fanout per
    order is that customer's version count."""
    from movie_genre_data_pipeline_spark.operators.scd import (
        scd2_apply,
        scd2_point_in_time_join,
    )

    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    ups = (
        orders.filter(F.col("o_totalprice") > 350000)
        .groupBy(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderdate").alias("eff_from"),
        )
        .agg(F.max("o_totalprice").alias("amt"))
        .select(
            "c_custkey",
            "eff_from",
            F.when(F.col("amt") > 450000, "PLATINUM")
            .when(F.col("amt") > 400000, "GOLD")
            .otherwise("SILVER")
            .alias("tier"),
        )
    )
    base = cust.select(
        "c_custkey",
        F.lit("1990-01-01").cast("timestamp").alias("eff_from"),
        F.lit("BASE").alias("tier"),
    )
    hist = scd2_apply(base, ups, ["c_custkey"], ["tier"], "eff_from")
    facts = orders.select(
        F.col("o_custkey").alias("c_custkey"), "o_orderdate", "o_totalprice"
    )
    pit = scd2_point_in_time_join(facts, hist, ["c_custkey"], "o_orderdate")
    return (
        pit.groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("tier")
    )


Q_MERGE_SCD2_PIT_JOIN_ORACLE = """
WITH ups AS (
  SELECT o_custkey AS c_custkey, o_orderdate AS eff_from,
         CASE WHEN MAX(o_totalprice) > 450000 THEN 'PLATINUM'
              WHEN MAX(o_totalprice) > 400000 THEN 'GOLD'
              ELSE 'SILVER' END AS tier
  FROM orders WHERE o_totalprice > 350000 GROUP BY 1, 2
),
hist AS (
  SELECT c_custkey, TIMESTAMP '1990-01-01' AS eff_from, 'BASE' AS tier FROM customer
  UNION ALL SELECT c_custkey, eff_from, tier FROM ups
),
collapsed AS (
  SELECT c_custkey, eff_from, tier,
         LAG(tier) OVER (PARTITION BY c_custkey ORDER BY eff_from ASC, tier ASC)
           AS prev_tier
  FROM hist
),
versions AS (
  SELECT c_custkey, eff_from, tier FROM collapsed
  WHERE prev_tier IS NULL OR tier <> prev_tier
),
final AS (
  SELECT c_custkey, tier, eff_from,
         LEAD(eff_from) OVER (PARTITION BY c_custkey ORDER BY eff_from ASC, tier ASC)
           AS eff_to
  FROM versions
)
SELECT h.tier,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN final h
  ON h.c_custkey = o.o_custkey
 AND h.eff_from <= CAST(o.o_orderdate AS TIMESTAMP)
 AND (h.eff_to IS NULL OR CAST(o.o_orderdate AS TIMESTAMP) < h.eff_to)
GROUP BY 1
ORDER BY 1
"""


QUERIES["merge_scd2_pit_join"] = QuerySpec(
    q_merge_scd2_pit_join, Q_MERGE_SCD2_PIT_JOIN_ORACLE
)


# -- F7 (extension): distribution-drift report between snapshots (r6) --------------------
def q_dq_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the CDC batch shift the revenue distribution? The drift report over
    the gold-IVM snapshots: fixed uniform bins, both sides' proportions, and
    per-bin TVD / chi-square / KS contributions — all rational arithmetic
    (operators.quality.histogram_drift deliberately avoids PSI's ln(), whose
    libm last-ulp variance breaks cross-engine reproducibility). Cost: one
    scan per snapshot into an n_bins-key aggregate."""
    from movie_genre_data_pipeline_spark.operators.quality import histogram_drift

    snap_a, snap_b, _ = gold_ivm_frames(spark, sf_dir)
    return histogram_drift(
        snap_a, snap_b, "Revenue", lo=0.0, width=50_000.0, n_bins=12
    )


Q_DQ_DRIFT_REPORT_ORACLE = """
WITH a AS (
  SELECT LEAST(11, GREATEST(0, CAST(FLOOR(o_totalprice / 50000) AS INTEGER)))
           AS bin_idx, COUNT(*) AS n_old
  FROM orders WHERE o_orderkey % 101 <> 0 GROUP BY 1
), b_rows AS (
  SELECT CASE WHEN o_orderkey % 13 = 0
              THEN CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11 + 5) // 10
                         AS DOUBLE) / 100.0
              ELSE o_totalprice END AS revenue
  FROM orders WHERE o_orderkey % 97 <> 0
), b AS (
  SELECT LEAST(11, GREATEST(0, CAST(FLOOR(revenue / 50000) AS INTEGER)))
           AS bin_idx, COUNT(*) AS n_new
  FROM b_rows GROUP BY 1
), j AS (
  SELECT COALESCE(a.bin_idx, b.bin_idx) AS bin_idx,
         CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
         CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
  FROM a FULL OUTER JOIN b ON a.bin_idx = b.bin_idx
), t AS (
  SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new FROM j
), p AS (
  SELECT j.bin_idx, j.n_old, j.n_new,
         j.n_old / CAST(t.t_old AS DOUBLE) AS po,
         j.n_new / CAST(t.t_new AS DOUBLE) AS pn
  FROM j, t
)
SELECT bin_idx, n_old, n_new,
       ROUND(po, 6) AS p_old,
       ROUND(pn, 6) AS p_new,
       ROUND(ABS(po - pn) / 2, 6) AS tvd_term,
       ROUND(CASE WHEN po > 0 THEN POW(pn - po, 2) / po END, 6) AS chi2_term,
       ROUND(ABS(SUM(po) OVER (ORDER BY bin_idx
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - SUM(pn) OVER (ORDER BY bin_idx
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             6) AS ks_cum
FROM p
ORDER BY bin_idx
"""


QUERIES["dq_drift_report"] = QuerySpec(q_dq_drift_report, Q_DQ_DRIFT_REPORT_ORACLE)


# -- F8 (extension): dbt-style schema tests — unique / relationships / accepted_values --
def q_dq_schema_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt generic-test surface complementing row-level expectations:
    - unique: duplicate PK count (one n_distinct aggregate),
    - relationships: orphan FK rows (one left-anti join per FK edge),
    - accepted_values: rows outside the allowed domain (one filter count).
    One report row per test with the violation count — each test is a single
    aggregate/anti-join whose shuffle is keyed on the tested column, the
    cheapest possible shape for each contract."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")

    uniq_violations = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("bigint").alias("v"))
    )
    orphan_orders = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    orphan_lineitems = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    bad_status = (
        o.filter(~F.col("o_orderstatus").isin("F", "O", "P"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )

    def tag(df: DataFrame, name: str, kind: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("test_name"),
            F.lit(kind).alias("test_kind"),
            F.col("v").alias("n_violations"),
        )

    return (
        tag(uniq_violations, "orders_pk_unique", "unique")
        .unionByName(tag(orphan_orders, "orders_custkey_fk", "relationships"))
        .unionByName(tag(orphan_lineitems, "lineitem_orderkey_fk", "relationships"))
        .unionByName(tag(bad_status, "orderstatus_domain", "accepted_values"))
        .orderBy("test_name")
    )


Q_DQ_SCHEMA_TESTS_ORACLE = """
SELECT * FROM (
  SELECT 'orders_pk_unique' AS test_name, 'unique' AS test_kind,
         CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS n_violations
  FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
  UNION ALL
  SELECT 'orders_custkey_fk', 'relationships',
         CAST(COUNT(*) AS BIGINT)
  FROM orders o WHERE NOT EXISTS
    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
  UNION ALL
  SELECT 'lineitem_orderkey_fk', 'relationships',
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
  UNION ALL
  SELECT 'orderstatus_domain', 'accepted_values',
         CAST(COUNT(*) AS BIGINT)
  FROM orders WHERE o_orderstatus NOT IN ('F', 'O', 'P')
)
ORDER BY test_name
"""


QUERIES["dq_schema_tests"] = QuerySpec(q_dq_schema_tests, Q_DQ_SCHEMA_TESTS_ORACLE)


# -- ops (extension): order-invariant dataset fingerprint (r6) ---------------------------
def q_ops_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content identity of the lineitem keys: same multiset of rows ⇒ same
    fingerprint, independent of partitioning/order — the provenance check a
    training run records next to its model artifacts. One scan, one
    aggregate; the md5 row terms are engine-portable (DuckDB replays the
    exact hash)."""
    from movie_genre_data_pipeline_spark.operators.observe import dataset_fingerprint

    li = load(spark, sf_dir, "lineitem")
    # integer-rendered columns only (float→string is engine-specific; floats
    # must be pre-formatted by the caller — documented contract)
    return dataset_fingerprint(
        li.select(
            F.col("l_orderkey").cast("string").alias("k1"),
            F.col("l_linenumber").cast("string").alias("k2"),
            F.col("l_suppkey").cast("string").alias("k3"),
        ),
        ["k1", "k2", "k3"],
    )


Q_OPS_DATASET_FINGERPRINT_ORACLE = """
WITH t AS (
  SELECT CAST(
           CAST('0x' || SUBSTR(
             md5(CAST(l_orderkey AS VARCHAR) || CHR(31) ||
                 CAST(l_linenumber AS VARCHAR) || CHR(31) ||
                 CAST(l_suppkey AS VARCHAR)), 1, 15) AS UBIGINT)
           % 2147483647 AS BIGINT) AS term
  FROM lineitem
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(term) % 2147483647 AS BIGINT) AS content_hash
FROM t
"""


QUERIES["ops_dataset_fingerprint"] = QuerySpec(
    q_ops_dataset_fingerprint, Q_OPS_DATASET_FINGERPRINT_ORACLE
)

# -- robust outlier detection: median/MAD, fully integer (r7) -----------------------------
# The mean-based rolling z-score (ts_anomaly_zscore) breaks when the
# contamination it hunts inflates the mean/stddev; the robust version uses
# the median and the Median Absolute Deviation, whose 50% breakdown point is
# what production quality filters rely on. Exactness: values are integer
# cents, the median is the LOWER median (the element at rank (n+1) DIV 2
# under a total order — no interpolation, no .5 arithmetic), so median, MAD,
# the 3·MAD fence, and the outlier count are ALL integers — nothing can
# drift between engines. Two ranked passes per series (one for the median,
# one over |v−med| for the MAD), windows parallel across series.
MAD_FENCE = 3


def q_dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    w1 = Window.partitionBy("event_type").orderBy(
        F.col("v").asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("event_type")
    ranked = base.withColumn("rn", F.row_number().over(w1)).withColumn(
        "cnt", F.count(F.lit(1)).over(wn)
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(cnt + 1) DIV 2")
    ).select("event_type", F.col("v").alias("med"))
    dev = base.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("v") - F.col("med"))
    )
    w2 = Window.partitionBy("event_type").orderBy(
        F.col("ad").asc(), F.col("event_id").asc()
    )
    dr = dev.withColumn("rn", F.row_number().over(w2)).withColumn(
        "cnt", F.count(F.lit(1)).over(wn)
    )
    mad = dr.filter(F.col("rn") == F.expr("(cnt + 1) DIV 2")).select(
        "event_type", F.col("ad").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max("med").cast("bigint").alias("median_cents"),
        F.max("mad").cast("bigint").alias("mad_cents"),
        F.sum(
            F.when(F.col("ad") > MAD_FENCE * F.col("mad"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers"),
    )


Q_DQ_MAD_OUTLIERS_ORACLE = f"""
WITH base AS (
  SELECT event_type, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
ranked AS (
  SELECT event_type, v,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY v ASC, event_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM base
),
med AS (
  SELECT event_type, CAST(v AS BIGINT) AS med
  FROM ranked WHERE rn = (cnt + 1) // 2
),
dev AS (
  SELECT b.event_type, b.event_id, b.v, m.med, ABS(b.v - m.med) AS ad
  FROM base b JOIN med m USING (event_type)
),
dranked AS (
  SELECT event_type, ad,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ad ASC, event_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM dev
),
mad AS (
  SELECT event_type, CAST(ad AS BIGINT) AS mad
  FROM dranked WHERE rn = (cnt + 1) // 2
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MAX(d.med) AS BIGINT) AS median_cents,
       CAST(MAX(m.mad) AS BIGINT) AS mad_cents,
       CAST(SUM(CASE WHEN d.ad > {MAD_FENCE} * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


QUERIES["dq_mad_outliers"] = QuerySpec(q_dq_mad_outliers, Q_DQ_MAD_OUTLIERS_ORACLE)


# -- Benford first-digit screen (r7) ------------------------------------------------------
# The fraud/fabrication screen auditors run on money columns: first
# significant digits of naturally-occurring amounts follow
# P(d) = log10(1 + 1/d). ln()/log10() are NOT bit-portable across engines
# (libm differences — the same reason dq_drift_report avoids PSI), so the
# nine expected shares are PYTHON-computed literals embedded identically in
# the Spark plan and the oracle SQL — the sign-matrix discipline. Counts are
# exact; expected counts and chi-square contributions are shared-expression
# arithmetic over those identical literal doubles, published micro-rounded.
import math as _math

BENFORD_P = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}


def q_dq_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    obs = (
        o.select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    total = obs.agg(F.sum("n_obs").cast("bigint").alias("n_all"))
    expected = spark.createDataFrame(
        [(d, p) for d, p in BENFORD_P.items()], "digit int, p double"
    )
    joined = (
        expected.join(obs, "digit", "left")
        .na.fill({"n_obs": 0})
        .crossJoin(F.broadcast(total))
    )
    return joined.selectExpr(
        "digit",
        "CAST(n_obs AS BIGINT) AS n_obs",
        "CAST(ROUND(n_all * p * 1000000) AS BIGINT) AS expected_micro",
        "CAST(ROUND((CAST(n_obs AS DOUBLE) - n_all * p) * (CAST(n_obs AS DOUBLE) - n_all * p)"
        " / (n_all * p) * 1000000) AS BIGINT) AS chi2_micro",
    )


def _dq_benford_oracle() -> str:
    vals = ", ".join(f"({d}, {p!r})" for d, p in BENFORD_P.items())
    return f"""
WITH obs AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM orders GROUP BY 1
),
total AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_all FROM obs),
expected AS (SELECT * FROM (VALUES {vals}) AS t(digit, p))
SELECT e.digit,
       CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
       CAST(ROUND(t.n_all * e.p * 1000000) AS BIGINT) AS expected_micro,
       CAST(ROUND((CAST(COALESCE(o.n_obs, 0) AS DOUBLE) - t.n_all * e.p)
            * (CAST(COALESCE(o.n_obs, 0) AS DOUBLE) - t.n_all * e.p)
            / (t.n_all * e.p) * 1000000) AS BIGINT) AS chi2_micro
FROM expected e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN total t
"""


QUERIES["dq_benford_screen"] = QuerySpec(q_dq_benford_screen, _dq_benford_oracle())


# -- Gold mart #2 (r8): language revenue — the star schema's other FK ------------------
# The reference README sketches movie→language beside movie→genre
# (/root/reference/README.md:10-15); `Language_Id` exists on movie_silver only
# to enable this join (SURVEY.md §2.9). Scalar FK ⇒ no explode: one broadcast
# dim hash join + one ~|languages|-key aggregate. Fixture mapping: orders play
# movies (same derivations as the genre mart), region plays the language dim
# (r_regionkey/r_name), Language_Id = o_custkey % 5.
def _gold_language_movies(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("Id"),
        F.col("o_totalprice").alias("Revenue"),
        F.round(F.col("o_totalprice") * 0.4, 2).alias("Budget"),
        (F.col("o_orderkey") % 180 + 60).cast("INTEGER").alias("RunTime"),
        (F.col("o_custkey") % 5).cast("INTEGER").alias("Language_Id"),
    )


def _gold_language_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region")
    return region.select(
        F.col("r_regionkey").cast("INTEGER").alias("Id"),
        F.col("r_name").alias("OriginalLanguage"),
    )


def q_gold_language_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second star mart, FIXED-dimension mode: one row per language. Runs
    through the ADDITIVE state (integer cents) + finalize so the published
    money columns derive from exact integer sums in both engines."""
    from movie_genre_data_pipeline_spark.plans.gold import (
        LANGUAGE,
        build_state,
        finalize,
    )

    movies = _gold_language_movies(spark, sf_dir)
    dim = _gold_language_dim(spark, sf_dir)
    return finalize(LANGUAGE, build_state(LANGUAGE, movies, dim))


_GOLD_LANGUAGE_MOVIE_CTE = """movie AS (
  SELECT o_orderkey AS id,
         o_totalprice AS revenue,
         ROUND(o_totalprice * 0.4, 2) AS budget,
         CAST(o_orderkey % 180 + 60 AS INTEGER) AS runtime,
         CAST(o_custkey % 5 AS INTEGER) AS language_id
  FROM orders
)"""

_GOLD_LANGUAGE_AGG_SQL = """
  SELECT m.language_id, r.r_name AS language,
         CAST(COUNT(*) AS BIGINT) AS n_movies,
         SUM(CAST(ROUND(m.revenue * 100) AS BIGINT)) AS rev_c,
         SUM(CAST(ROUND(m.budget * 100) AS BIGINT)) AS bud_c,
         SUM(CAST(m.runtime AS BIGINT)) AS rt_sum,
         CAST(COUNT(m.runtime) AS BIGINT) AS rt_n
  FROM movie m JOIN region r ON r.r_regionkey = m.language_id
  GROUP BY 1, 2
"""

Q_GOLD_LANGUAGE_REVENUE_ORACLE = f"""
WITH {_GOLD_LANGUAGE_MOVIE_CTE},
agg AS ({_GOLD_LANGUAGE_AGG_SQL})
SELECT language_id, language, n_movies,
       ROUND(rev_c / 100.0, 2) AS total_revenue,
       ROUND(bud_c / 100.0, 2) AS total_budget,
       ROUND(CAST(rt_sum AS DOUBLE) / rt_n, 4) AS avg_runtime
FROM agg
ORDER BY 1, 2
"""


QUERIES["gold_language_revenue"] = QuerySpec(
    q_gold_language_revenue, Q_GOLD_LANGUAGE_REVENUE_ORACLE
)


def q_gold_language_revenue_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM for the language mart: snapshot A's additive state folded forward
    with signed deltas from snapshot_diff(A, B). B inserts the %101 keys A
    lacks, deletes %97 keys, reprices %13 keys (integer-cent ×1.1), and MOVES
    %11 keys to a different language — the scalar-FK retire/insert path the
    genre IVM exercises via array membership. Integral state ⇒ equals the
    from-scratch rebuild over B (the oracle) bit-for-bit."""
    from movie_genre_data_pipeline_spark.operators.cdc import snapshot_diff
    from movie_genre_data_pipeline_spark.plans.gold import (
        LANGUAGE,
        apply_delta,
        build_state,
        finalize,
    )

    base = _gold_language_movies(spark, sf_dir)
    dim = _gold_language_dim(spark, sf_dir)
    snap_a = base.filter(F.col("Id") % 101 != 0)
    snap_b = (
        base.filter(F.col("Id") % 97 != 0)
        .withColumn(
            "Revenue",
            F.when(
                F.col("Id") % 13 == 0,
                F.expr(
                    "CAST((CAST(ROUND(Revenue * 100) AS BIGINT) * 11 + 5) DIV 10 AS DOUBLE) / 100.0"
                ),
            ).otherwise(F.col("Revenue")),
        )
        .withColumn(
            "Language_Id",
            F.when(
                F.col("Id") % 11 == 0,
                ((F.col("Language_Id") + 1) % 5).cast("INTEGER"),
            ).otherwise(F.col("Language_Id")),
        )
    )
    changes = snapshot_diff(
        snap_a, snap_b, ["Id"], ["Revenue", "Budget", "RunTime", "Language_Id"]
    )
    state_a = build_state(LANGUAGE, snap_a, dim)
    state_b = apply_delta(LANGUAGE, state_a, changes, dim)
    return finalize(LANGUAGE, state_b)


Q_GOLD_LANGUAGE_REVENUE_IVM_ORACLE = """
WITH movie AS (
  SELECT CASE WHEN o_orderkey % 13 = 0
              THEN CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11 + 5) // 10
                         AS DOUBLE) / 100.0
              ELSE o_totalprice END AS revenue,
         ROUND(o_totalprice * 0.4, 2) AS budget,
         CAST(o_orderkey % 180 + 60 AS INTEGER) AS runtime,
         CASE WHEN o_orderkey % 11 = 0
              THEN CAST((o_custkey % 5 + 1) % 5 AS INTEGER)
              ELSE CAST(o_custkey % 5 AS INTEGER) END AS language_id
  FROM orders WHERE o_orderkey % 97 <> 0
), agg AS (
  SELECT m.language_id, r.r_name AS language,
         CAST(COUNT(*) AS BIGINT) AS n_movies,
         SUM(CAST(ROUND(m.revenue * 100) AS BIGINT)) AS rev_c,
         SUM(CAST(ROUND(m.budget * 100) AS BIGINT)) AS bud_c,
         SUM(CAST(m.runtime AS BIGINT)) AS rt_sum,
         CAST(COUNT(m.runtime) AS BIGINT) AS rt_n
  FROM movie m JOIN region r ON r.r_regionkey = m.language_id
  GROUP BY 1, 2
)
SELECT language_id, language, n_movies,
       ROUND(rev_c / 100.0, 2) AS total_revenue,
       ROUND(bud_c / 100.0, 2) AS total_budget,
       ROUND(CAST(rt_sum AS DOUBLE) / rt_n, 4) AS avg_runtime
FROM agg
ORDER BY 1, 2
"""


QUERIES["gold_language_revenue_ivm"] = QuerySpec(
    q_gold_language_revenue_ivm, Q_GOLD_LANGUAGE_REVENUE_IVM_ORACLE
)


def q_gold_language_parity_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§8.3 PARITY mode: the reference's language dimension is degenerate —
    every dim row gets Id=1 (operations/operations.py:91-97) and every movie
    carries Language_Id=1, so the star join fans each movie out to EVERY
    language and all per-language totals are identical (= the all-movie
    totals). Reproduced deliberately, not corrected: a reference user
    switching engines sees the same (buggy) mart until they flip
    language_projection(degenerate=False)."""
    from movie_genre_data_pipeline_spark.plans.gold import (
        LANGUAGE,
        build_state,
        finalize,
    )

    movies = _gold_language_movies(spark, sf_dir).withColumn(
        "Language_Id", F.lit(1).cast("INTEGER")
    )
    dim = _gold_language_dim(spark, sf_dir).withColumn(
        "Id", F.lit(1).cast("INTEGER")
    )
    return finalize(LANGUAGE, build_state(LANGUAGE, movies, dim))


Q_GOLD_LANGUAGE_PARITY_ORACLE = f"""
WITH {_GOLD_LANGUAGE_MOVIE_CTE},
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_movies,
         SUM(CAST(ROUND(revenue * 100) AS BIGINT)) AS rev_c,
         SUM(CAST(ROUND(budget * 100) AS BIGINT)) AS bud_c,
         SUM(CAST(runtime AS BIGINT)) AS rt_sum,
         CAST(COUNT(runtime) AS BIGINT) AS rt_n
  FROM movie
)
SELECT CAST(1 AS INTEGER) AS language_id,
       r.r_name AS language,
       t.n_movies,
       ROUND(t.rev_c / 100.0, 2) AS total_revenue,
       ROUND(t.bud_c / 100.0, 2) AS total_budget,
       ROUND(CAST(t.rt_sum AS DOUBLE) / t.rt_n, 4) AS avg_runtime
FROM region r CROSS JOIN tot t
ORDER BY 1, 2
"""


QUERIES["gold_language_parity_mode"] = QuerySpec(
    q_gold_language_parity_mode, Q_GOLD_LANGUAGE_PARITY_ORACLE
)


# -- data-freshness SLA audit (r13) ----------------------------------------------------------
# The observability row every ingestion on-call reads first: per event
# type, WHEN did data last arrive, how far does it lag the freshest type,
# and does that breach the freshness SLA? Lag is measured against the
# corpus's own max event time (the bounded-fixture stand-in for "now" —
# production substitutes the clock, same arithmetic), in exact integer
# epoch micros via operators.timeseries.epoch_micros (NTZ/LTZ-agnostic —
# the fixture's ts encoding has drifted between rounds). The SLA breach is
# an integer compare, so the verdict is oracle-exact. Scale shape: one
# fact scan collapses map-side to |types| MAX rows + a broadcast 1-row
# global max — and MAX is a fold, so the streaming twin appends per-batch
# (type, max) partials and re-MAXes at readout (the retention-policy
# horizon discipline).
FRESHNESS_SLA_US = 3_600_000_000  # 1 hour


def freshness_facts(events: DataFrame) -> DataFrame:
    """(event_type, last_us) — per-type MAX event-time facts over ONE events
    scan. MAX-foldable, so the streaming twin appends these."""
    from movie_genre_data_pipeline_spark.operators.timeseries import epoch_micros

    return events.groupBy("event_type").agg(
        F.max(epoch_micros("ts")).cast("bigint").alias("last_us")
    )


def freshness_report_from_facts(facts: DataFrame) -> DataFrame:
    """The SLA report over per-type MAX facts, however accumulated — shared
    by the batch query and the streaming ledger twin."""
    facts = facts.localCheckpoint(eager=False)
    horizon = facts.agg(F.max("last_us").cast("bigint").alias("now_us"))
    return (
        facts.crossJoin(F.broadcast(horizon))
        .selectExpr(
            "event_type",
            "last_us",
            "now_us - last_us AS lag_us",
            f"now_us - last_us > {FRESHNESS_SLA_US} AS sla_breach",
        )
    )


def q_dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return freshness_report_from_facts(freshness_facts(ev))


Q_DQ_FRESHNESS_ORACLE = f"""
WITH facts AS (
  SELECT event_type, CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us
  FROM events GROUP BY 1
),
horizon AS (SELECT CAST(MAX(last_us) AS BIGINT) AS now_us FROM facts)
SELECT event_type, last_us,
       now_us - last_us AS lag_us,
       now_us - last_us > {FRESHNESS_SLA_US} AS sla_breach
FROM facts CROSS JOIN horizon
"""

QUERIES["dq_freshness_sla"] = QuerySpec(
    q_dq_freshness_sla, Q_DQ_FRESHNESS_ORACLE
)
