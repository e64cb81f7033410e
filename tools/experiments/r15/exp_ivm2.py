import sys, time
sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from movie_genre_data_pipeline_spark.session import build_session
spark = build_session(app_name="exp-ivm2")
li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
li.groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
from movie_genre_data_pipeline_spark.suite.pipeline_queries import gold_ivm_frames
from movie_genre_data_pipeline_spark.suite import load
from movie_genre_data_pipeline_spark.operators.cdc import snapshot_diff
from movie_genre_data_pipeline_spark.plans.gold import (
    GENRE, apply_delta, build_state, finalize)
SF = "/root/testdata/sf0.1"
COMPS = ["Revenue", "Budget", "RunTime", "Genres_Id"]

REPRICE = ("CAST((CAST(ROUND(Revenue * 100) AS BIGINT) * 11 + 5) DIV 10 AS DOUBLE) / 100.0")

def fused_changes(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
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
    in_a = F.col("Id") % 101 != 0
    in_b = F.col("Id") % 97 != 0
    new_rev = F.when(F.col("Id") % 13 == 0, F.expr(REPRICE)).otherwise(F.col("Revenue"))
    r = base.withColumn("__in_a", in_a).withColumn("__in_b", in_b).withColumn("__new_rev", new_rev)
    r = r.filter(F.col("__in_a") | F.col("__in_b"))
    olds = {c: F.when(F.col("__in_a"), F.col(c)) for c in COMPS}
    news = {c: F.when(F.col("__in_b"), F.col("__new_rev") if c == "Revenue" else F.col(c)) for c in COMPS}
    old_struct = F.struct(*[olds[c] for c in COMPS])
    new_struct = F.struct(*[news[c] for c in COMPS])
    change = (
        F.when(~F.col("__in_a"), F.lit("inserted"))
        .when(~F.col("__in_b"), F.lit("deleted"))
        .when(old_struct.eqNullSafe(new_struct), F.lit("unchanged"))
        .otherwise(F.lit("updated"))
    )
    return r.select(
        "Id",
        change.alias("change_type"),
        *[olds[c].alias(f"old_{c}") for c in COMPS],
        *[news[c].alias(f"new_{c}") for c in COMPS],
    )

def variant_a():
    snap_a, snap_b, genre_dim = gold_ivm_frames(spark, SF)
    changes = snapshot_diff(snap_a, snap_b, ["Id"], COMPS)
    state_a = build_state(GENRE, snap_a, genre_dim)
    return finalize(GENRE, apply_delta(GENRE, state_a, changes, genre_dim))

def variant_b():
    snap_a, snap_b, genre_dim = gold_ivm_frames(spark, SF)
    changes = fused_changes(spark, SF)
    state_a = build_state(GENRE, snap_a, genre_dim)
    return finalize(GENRE, apply_delta(GENRE, state_a, changes, genre_dim))

# value identity on the change feed itself AND the final mart
sa, sb, gd = gold_ivm_frames(spark, SF)
c_old = snapshot_diff(sa, sb, ["Id"], COMPS)
c_new = fused_changes(spark, SF)
ro = sorted([repr(tuple(r)) for r in c_old.collect()])
rn = sorted([repr(tuple(r)) for r in c_new.collect()])
print("CHANGES IDENTICAL:", ro == rn, len(ro), len(rn))
mo = sorted([repr(tuple(r)) for r in variant_a().collect()])
mn = sorted([repr(tuple(r)) for r in variant_b().collect()])
print("MART IDENTICAL:", mo == mn)
for rnd in range(3):
    t0=time.time(); variant_a().write.format("noop").mode("overwrite").save(); ta=time.time()-t0
    t0=time.time(); variant_b().write.format("noop").mode("overwrite").save(); tb=time.time()-t0
    print(f"round {rnd}: join-diff={ta:.3f}  fused-diff={tb:.3f}")
