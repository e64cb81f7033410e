"""K-means properties beyond the oracled suite queries: the exact fit is
independent of run order, cell assignments are valid and total, and the
driver-side twins equal the distributed fit bit-for-bit."""

from __future__ import annotations

from movie_genre_data_pipeline_spark.sources.batch import read_parquet

SF_DIR = "/root/testdata/sf0.001"


def test_kmeans_exact_fit_is_run_order_independent(spark):
    """The oracled variant's whole point: two fits over differently-partitioned
    input produce BIT-IDENTICAL centroids (integral-double cluster sums are
    exact, so accumulation order cannot move them)."""
    from movie_genre_data_pipeline_spark.functions.kmeans import (
        kmeans_fit_exact,
        quantize_vectors,
    )

    e = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    q1 = quantize_vectors(e, "vec_id", "embedding")
    q2 = quantize_vectors(e.repartition(13), "vec_id", "embedding")
    c1 = kmeans_fit_exact(q1, k=4, iterations=3)
    c2 = kmeans_fit_exact(q2, k=4, iterations=3)
    assert c1 == c2  # exact float equality, not approx


def test_kmeans_exact_cells_cover_all_vectors(spark):
    from movie_genre_data_pipeline_spark.functions.kmeans import kmeans_exact_cells

    e = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    cells = kmeans_exact_cells(e, "vec_id", "embedding", k=4, iterations=2)
    rows = cells.collect()
    assert len(rows) == e.count()
    assert {r.cluster for r in rows} <= set(range(4))


def test_local_lloyd_is_bit_identical_to_distributed(spark):
    """kmeans_fit_exact_local / assign_local are the driver-side twins the PQ
    suite trains with (r7) — centroids and assignments must equal the
    distributed fit EXACTLY (same IEEE ops: index-order distance folds,
    order-free integral sums, one division per centroid component)."""
    from movie_genre_data_pipeline_spark.functions.kmeans import (
        assign_clusters,
        assign_local,
        kmeans_fit_exact,
        kmeans_fit_exact_local,
        quantize_vectors,
    )

    e = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    q = quantize_vectors(e, "vec_id", "embedding").cache()
    rows = [(r["vid"], list(r["vq"])) for r in q.collect()]
    for k, iters in ((4, 3), (9, 2)):
        dist = kmeans_fit_exact(q, k=k, iterations=iters)
        local = kmeans_fit_exact_local(rows, k=k, iterations=iters)
        assert local == dist  # exact float equality, not approx
        a_dist = {
            r["vid"]: r["cluster"]
            for r in assign_clusters(q, "vid", "vq", dist).collect()
        }
        assert dict(assign_local(rows, local)) == a_dist
    q.unpersist()


def test_pq_train_local_matches_distributed(spark):
    from movie_genre_data_pipeline_spark.functions.kmeans import quantize_vectors
    from movie_genre_data_pipeline_spark.functions.pq import (
        pq_train_exact,
        pq_train_local,
    )

    e = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    q = quantize_vectors(e, "vec_id", "embedding").cache()
    rows = [(r["vid"], list(r["vq"])) for r in q.collect()]
    dim = len(rows[0][1])
    assert pq_train_local(rows, dim, 4, 4, 2) == pq_train_exact(q, dim, 4, 4, 2)
    q.unpersist()
