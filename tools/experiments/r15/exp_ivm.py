import sys, time
sys.path.insert(0, "/root/repo")
from movie_genre_data_pipeline_spark.session import build_session
from movie_genre_data_pipeline_spark.suite import all_queries
spark = build_session(app_name="exp-ivm")
li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
li.groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
from movie_genre_data_pipeline_spark.suite.pipeline_queries import gold_ivm_frames
from movie_genre_data_pipeline_spark.operators.cdc import snapshot_diff
from movie_genre_data_pipeline_spark.plans.gold import (
    GENRE, apply_delta, build_state, finalize)
SF = "/root/testdata/sf0.1"
for i in range(2):
    t0=time.time(); snap_a, snap_b, genre_dim = gold_ivm_frames(spark, SF); t1=time.time()
    changes = snapshot_diff(snap_a, snap_b, ["Id"], ["Revenue","Budget","RunTime","Genres_Id"]); t2=time.time()
    state_a = build_state(GENRE, snap_a, genre_dim); t3=time.time()
    state_b = apply_delta(GENRE, state_a, changes, genre_dim); t4=time.time()
    out = finalize(GENRE, state_b); t5=time.time()
    out.write.format("noop").mode("overwrite").save(); t6=time.time()
    print(f"frames={t1-t0:.3f} diff={t2-t1:.3f} state={t3-t2:.3f} delta={t4-t3:.3f} fin={t5-t4:.3f} exec={t6-t5:.3f} total={t6-t0:.3f}")
