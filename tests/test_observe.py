"""Observed writes (operators/observe.py): audit counters must come from the
write job itself — exact, and with no second scan — replacing the reference's
post-write COUNT(*) queries (SURVEY.md §2.5 A2)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.operators.observe import write_with_metrics

SF_DIR = "/root/testdata/sf0.001"


def test_write_with_metrics_matches_recomputation(spark, tmp_path):
    src = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "orders_observed")

    got = write_with_metrics(
        src,
        path,
        metrics=[
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        ],
    )

    expect = src.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    ).collect()[0]
    assert got["n_rows"] == expect["n_rows"]
    assert got["n_big"] == expect["n_big"]
    assert abs(got["total_price"] - expect["total_price"]) < 1e-6

    # the written table is complete
    assert spark.read.parquet(path).count() == got["n_rows"]


def _files_per_dir(path: str, prefix: str) -> dict[str, int]:
    return {
        d.name: sum(1 for _ in d.glob("*.parquet"))
        for d in Path(path).iterdir()
        if d.is_dir() and d.name.startswith(prefix)
    }


def test_write_with_metrics_partitioned(spark, tmp_path):
    """The observed write takes batch_writer's layout: input spread over
    several tasks still leaves one data file per partition value."""
    src = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .withColumn("p_status", F.col("o_orderstatus"))
        .repartition(6)
    )
    path = str(tmp_path / "orders_observed_part")
    got = write_with_metrics(
        src,
        path,
        metrics=[F.count(F.lit(1)).alias("n_rows")],
        partition_column="p_status",
    )
    back = spark.read.parquet(path)
    assert back.count() == got["n_rows"]
    assert "p_status" in back.columns
    files = _files_per_dir(path, "p_status=")
    assert len(files) >= 2 and set(files.values()) == {1}, files


def test_partitioned_write_splits_a_value_above_the_advisory_size(spark, tmp_path):
    """The one-file-per-value layout never funnels a large value through one
    writer: under AQE a value several times the advisory partition size is
    written as several files, and every small value as one."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(64 * 1024))
    try:
        # range splits are contiguous: ids >= 19000 (the small values) all sit
        # in the last of the 8 input tasks, the big value spans all 8
        src = spark.range(0, 20000, numPartitions=8).select(
            F.when(F.col("id") < 19000, F.lit("big"))
            .otherwise(F.concat(F.lit("v"), (F.col("id") % 5).cast("string")))
            .alias("p"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        path = str(tmp_path / "skewed")
        write_with_metrics(
            src, path, [F.count(F.lit(1)).alias("n")], partition_column="p"
        )
    finally:
        spark.conf.set(key, saved)
    files = _files_per_dir(path, "p=")
    assert files.pop("p=big") > 1
    assert len(files) == 5 and set(files.values()) == {1}, files


# -- declarative expectations (operators/quality.py, r5) --------------------------------
def test_expectations_report_routing_and_fail(spark):
    import pytest
    from pyspark.sql import functions as F

    from movie_genre_data_pipeline_spark.operators.quality import (
        Expectation,
        assert_expectations,
        check_expectations,
        enforce_expectations,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (4, 200.0)], "id long, amount double"
    )
    rules = [
        Expectation("amount_positive", F.col("amount") > 0, "drop"),
        Expectation("amount_small", "amount < 100", "warn"),
        Expectation("id_present", F.col("id").isNotNull(), "fail"),
    ]
    report = {r["rule_name"]: r for r in check_expectations(df, rules).collect()}
    # NULL predicate results are violations (dlt semantics)
    assert (report["amount_positive"]["n_pass"], report["amount_positive"]["n_fail"]) == (2, 2)
    assert (report["amount_small"]["n_pass"], report["amount_small"]["n_fail"]) == (2, 2)
    assert report["id_present"]["n_fail"] == 0
    kept, dropped = enforce_expectations(df, rules)
    assert sorted(r["id"] for r in kept.collect()) == [1, 4]   # warn doesn't gate
    assert sorted(r["id"] for r in dropped.collect()) == [2, 3]
    # fail rules with zero violations pass silently
    assert_expectations(check_expectations(df, rules))
    bad = rules + [Expectation("always", F.lit(False), "fail")]
    with pytest.raises(ValueError, match="always"):
        assert_expectations(check_expectations(df, bad))
    with pytest.raises(ValueError):
        check_expectations(df, [])
    with pytest.raises(ValueError):
        check_expectations(df, [Expectation("x", F.lit(True), "explode")])
    # rule names reach generated SQL/aliases — non-identifier names rejected
    with pytest.raises(ValueError, match="rule name"):
        check_expectations(df, [Expectation("bad'name", F.lit(True), "warn")])


def test_histogram_drift_laws(spark):
    """Identical snapshots drift zero everywhere; clamping keeps proportions
    summing to 1; an empty reference bin excludes its chi-square term."""
    import pytest
    from pyspark.sql import functions as F

    from movie_genre_data_pipeline_spark.operators.quality import histogram_drift

    a = spark.createDataFrame([(float(v),) for v in [5, 15, 15, 25, 95, -3]], "x double")
    same = {
        r["bin_idx"]: r for r in histogram_drift(a, a, "x", 0.0, 10.0, 5).collect()
    }
    assert all(r["tvd_term"] == 0.0 and r["ks_cum"] == 0.0 for r in same.values())
    # clamp: -3 lands in bin 0, 95 in the last bin (idx 4)
    assert same[0]["n_old"] == 2 and same[4]["n_old"] == 1
    assert abs(sum(r["p_old"] for r in same.values()) - 1.0) < 1e-9

    b = spark.createDataFrame([(float(v),) for v in [5, 15, 35, 35, 95, 95]], "x double")
    drift = {
        r["bin_idx"]: r for r in histogram_drift(a, b, "x", 0.0, 10.0, 5).collect()
    }
    # bin 3 ([30,40)) is empty in the reference: chi2 term excluded (NULL)
    assert drift[3]["n_old"] == 0 and drift[3]["chi2_term"] is None
    assert drift[3]["tvd_term"] > 0
    # KS at the last bin is always 0 (both CDFs reach 1)
    assert drift[4]["ks_cum"] == 0.0
    with pytest.raises(ValueError):
        histogram_drift(a, b, "x", 0.0, -1.0, 5)


def test_dataset_fingerprint_order_and_layout_invariant(spark):
    """Same multiset of rows => same fingerprint across shuffles and
    partitionings; any row change or dup flips it."""
    from movie_genre_data_pipeline_spark.operators.observe import dataset_fingerprint

    rows = [(str(i), f"v{i % 3}") for i in range(50)]
    a = spark.createDataFrame(rows, "k string, v string")
    b = spark.createDataFrame(list(reversed(rows)), "k string, v string").repartition(7)
    fa = a.transform(lambda d: dataset_fingerprint(d, ["k", "v"])).collect()[0]
    fb = b.transform(lambda d: dataset_fingerprint(d, ["k", "v"])).collect()[0]
    assert (fa["n_rows"], fa["content_hash"]) == (fb["n_rows"], fb["content_hash"])

    mutated = spark.createDataFrame(rows[:-1] + [("49", "vX")], "k string, v string")
    fm = dataset_fingerprint(mutated, ["k", "v"]).collect()[0]
    assert fm["content_hash"] != fa["content_hash"]
    # a duplicated row changes the multiset (sum, not xor: dup pairs don't cancel)
    dup = spark.createDataFrame(rows + [rows[0]], "k string, v string")
    fd = dataset_fingerprint(dup, ["k", "v"]).collect()[0]
    assert fd["content_hash"] != fa["content_hash"] and fd["n_rows"] == 51
    # NULL is distinct from the string it sentinels as
    n1 = spark.createDataFrame([(None, "a")], "k string, v string")
    n2 = spark.createDataFrame([("\x00NULL", "a")], "k string, v string")
    h1 = dataset_fingerprint(n1, ["k", "v"]).collect()[0]["content_hash"]
    h2 = dataset_fingerprint(n2, ["k", "v"]).collect()[0]["content_hash"]
    assert h1 == h2  # documented sentinel collision — callers quote if needed


def test_drift_and_skew_edge_inputs(spark):
    """Empty-side behavior: a drift report against an empty new snapshot still
    produces the reference bins (p_new 0 everywhere, KS = cumulative p_old);
    skew_report on a single-key frame reports share 1 and skew_factor 1."""
    from movie_genre_data_pipeline_spark.operators.quality import histogram_drift
    from movie_genre_data_pipeline_spark.operators.skew import skew_report

    a = spark.createDataFrame([(5.0,), (15.0,)], "x double")
    empty = spark.createDataFrame([], "x double")
    rows = histogram_drift(a, empty, "x", 0.0, 10.0, 3).collect()
    assert sum(r["n_old"] for r in rows) == 2
    # an empty side has no distribution: its proportions and the stats
    # derived from them are NULL ("no data"), never a divide-by-zero crash
    assert all(r["n_new"] == 0 and r["p_new"] is None for r in rows)
    assert all(r["tvd_term"] is None and r["ks_cum"] is None for r in rows)

    one = spark.createDataFrame([("k",)] * 7, "k string")
    rep = skew_report(one, "k", top_k=3).collect()
    assert len(rep) == 1
    assert rep[0]["share"] == 1.0 and rep[0]["skew_factor"] == 1.0
