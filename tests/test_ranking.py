"""operators/ranking: the range-partitioned global rank must be BIT-IDENTICAL
to the unpartitioned-window form it replaces (VERDICT r9 #4) — row_number and
ntile, across duplicate range-key prefixes, remainder tile sizes, fewer rows
than tiles, and explicit partition counts."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from conftest import SF_DIR
from pyspark.sql import Window
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.operators.ranking import (
    ranged_ntile,
    ranged_row_number,
)

REPO = Path(__file__).resolve().parents[1]


def _base(spark, n=997):
    # duplicate range-key prefix k; (k, v) is the total order
    return spark.range(0, n).selectExpr("id % 13 AS k", "id AS v")


def test_ranged_row_number_matches_global_window(spark):
    df = _base(spark)
    got = ranged_row_number(df, ["k", "v"], "rn")
    exp = df.withColumn("rn", F.row_number().over(Window.orderBy("k", "v")))
    assert sorted(got.collect()) == sorted(exp.collect())


def test_ranged_row_number_explicit_partitions(spark):
    df = _base(spark, 101)
    got = ranged_row_number(df, ["k", "v"], "rn", num_partitions=3)
    exp = df.withColumn("rn", F.row_number().over(Window.orderBy("k", "v")))
    assert sorted(got.collect()) == sorted(exp.collect())


def test_ranged_ntile_matches_global_window(spark):
    df = _base(spark)  # 997 rows: 997 % 64 != 0 exercises the remainder tiles
    for n_tiles in (7, 64):
        got = ranged_ntile(df, ["k", "v"], n_tiles, "t")
        exp = df.withColumn(
            "t", F.ntile(n_tiles).over(Window.orderBy("k", "v"))
        )
        assert sorted(got.collect()) == sorted(exp.collect()), n_tiles


def test_ranged_ntile_fewer_rows_than_tiles(spark):
    df = _base(spark, 5)
    got = ranged_ntile(df, ["k", "v"], 64, "t")
    exp = df.withColumn("t", F.ntile(64).over(Window.orderBy("k", "v")))
    assert sorted(got.collect()) == sorted(exp.collect())


def test_ranged_row_number_descending_order(spark):
    df = _base(spark, 300)
    cols = [F.col("k").desc(), F.col("v").asc()]
    got = ranged_row_number(df, cols, "rn")
    exp = df.withColumn("rn", F.row_number().over(Window.orderBy(*cols)))
    assert sorted(got.collect()) == sorted(exp.collect())


def test_ranged_rank_partitioning_is_pinned(spark):
    """Correctness of the offsets join depends on the offsets subquery and
    the ranked branch reading the SAME range-partitioning instance: sampled
    boundaries are seeded per exchange instance, so two independent
    exchanges can disagree and misrank boundary rows. r10 tried relying on
    Spark's exchange reuse — it held in a standalone rank but silently broke
    inside the composed six-layout skipping-ratio query — so the partitioned
    frame must stay localCheckpoint-pinned. Assert the pin exists (an RDD
    scan feeds the rank, not two live range exchanges)."""
    import re

    df = spark.range(0, 20_000).selectExpr("id % 97 AS k", "id AS v")
    out = ranged_row_number(df, ["k", "v"], "rn")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Scan ExistingRDD|LocalCheckpointScan|Scan rdd", plan), (
        plan[:2000]
    )
    assert len(re.findall(r"Exchange rangepartitioning", plan)) == 0, plan[:2000]


# Runs in a child process: a checkpoint directory cannot be unset, so setting
# one on the shared session would make every later test's barriers reliable.
RELIABLE_CHILD = """
import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.operators.ranking import ranged_row_number
from movie_genre_data_pipeline_spark.session import build_session

sys.path.insert(0, "tools")
from verify_local import verify_queries

sf_dir, ckpt = sys.argv[1], sys.argv[2]
spark = build_session(app_name="mgdp-reliable-barriers", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.checkpoint.dir": ckpt})
assert spark.sparkContext.getCheckpointDir() is not None
df = spark.range(0, 211).selectExpr("id % 13 AS k", "id AS v")
got = ranged_row_number(df, ["k", "v"], "rn")
exp = df.withColumn("rn", F.row_number().over(Window.orderBy("k", "v")))
assert sorted(got.collect()) == sorted(exp.collect())
assert verify_queries(spark, sf_dir, names={"sim_topk_rerank"}, exact=True) == {}
"""


def test_checkpoint_dir_makes_barriers_reliable(tmp_path):
    """With `spark.checkpoint.dir` set, `session.materialize` writes every
    barrier there as a reliable `.checkpoint()` (survives executor loss on
    long jobs — ADVICE r10): the ranged rank still equals the window form, an
    ANN query still matches its oracle exactly, and the directory holds the
    checkpointed RDDs."""
    ckpt = tmp_path / "ckpt"
    subprocess.run(
        [sys.executable, "-c", RELIABLE_CHILD, SF_DIR, str(ckpt)],
        cwd=REPO,
        check=True,
        timeout=600,
    )
    assert list(ckpt.glob("*/rdd-*"))
