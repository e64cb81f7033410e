"""Product-quantization laws (functions/pq.py): geometry checks, code range,
encode determinism, ADC's lower-bound-by-construction relationship to the
reconstruction distance, and perfect recall when the corpus IS the codebook
grid (zero quantization error ⇒ ADC equals exact distance)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movie_genre_data_pipeline_spark.functions.kmeans import quantize_vectors
from movie_genre_data_pipeline_spark.functions.pq import (
    pq_adc_scores,
    pq_encode,
    pq_train_exact,
)

DIM, M, K = 8, 2, 4


def _vecs(spark, rows):
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    return quantize_vectors(df, "vec_id", "embedding", scale=1.0)


def test_geometry_must_divide():
    with pytest.raises(ValueError):
        from movie_genre_data_pipeline_spark.functions.pq import _check_geometry

        _check_geometry(10, 3)


def test_codes_in_range_and_deterministic(spark):
    rows = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(DIM)]) for i in range(24)
    ]
    q = _vecs(spark, rows).cache()
    books = pq_train_exact(q, DIM, M, K, iterations=2)
    assert len(books) == M and all(len(b) == K for b in books)
    assert all(len(c) == DIM // M for b in books for c in b)
    enc1 = {r["vid"]: list(r["codes"]) for r in pq_encode(q, books).collect()}
    enc2 = {r["vid"]: list(r["codes"]) for r in pq_encode(q, books).collect()}
    assert enc1 == enc2  # pure projection, no run-dependence
    for codes in enc1.values():
        assert len(codes) == M
        assert all(0 <= c < K for c in codes)


def test_zero_quantization_error_gives_exact_search(spark):
    # corpus = the K lowest-id vectors repeated: every vector sits exactly on a
    # centroid after 1 iteration, so ADC == exact distance and recall@1 is 1.0
    base = [[float(b * 10 + j) for j in range(DIM)] for b in range(K)]
    rows = [(i, base[i % K]) for i in range(2 * K)]
    q = _vecs(spark, rows).cache()
    books = pq_train_exact(q, DIM, M, K, iterations=2)
    codes = pq_encode(q, books)
    adc = pq_adc_scores(q, codes, books)
    # each vector's duplicate (same base) must score ADC exactly 0
    zero = adc.filter(F.col("adc") == 0.0).collect()
    got = {(r["vid"], r["neighbor"]) for r in zero}
    for i in range(2 * K):
        dup = (i + K) % (2 * K)
        assert (i, dup) in got
    # and nothing from a different base scores 0
    assert all((v - n) % K == 0 for v, n in got)


def test_adc_is_centroid_distance(spark):
    # hand-checkable: with scale-1 integral vectors, adc(vid->neighbor) must
    # equal sum over subspaces of ||q_sub - centroid(code_sub(neighbor))||^2
    rows = [(i, [float((i * 5 + j) % 7) for j in range(DIM)]) for i in range(12)]
    q = _vecs(spark, rows).cache()
    books = pq_train_exact(q, DIM, M, K, iterations=1)
    codes = {r["vid"]: list(r["codes"]) for r in pq_encode(q, books).collect()}
    vecs = {r["vid"]: list(r["vq"]) for r in q.collect()}
    adc = {
        (r["vid"], r["neighbor"]): r["adc"]
        for r in pq_adc_scores(q, pq_encode(q, books), books).collect()
    }
    dsub = DIM // M
    for (vid, nb), got in adc.items():
        want = 0.0
        for j in range(M):
            cent = books[j][codes[nb][j]]
            sub = vecs[vid][j * dsub : (j + 1) * dsub]
            want += sum((a - b) ** 2 for a, b in zip(sub, cent))
        assert got == pytest.approx(want, rel=1e-12), (vid, nb)


def test_adc_cell_restriction(spark):
    # join_cols must restrict candidates to same-cell pairs only
    rows = [(i, [float((i * 5 + j) % 7) for j in range(DIM)]) for i in range(12)]
    q = _vecs(spark, rows).cache()
    books = pq_train_exact(q, DIM, M, K, iterations=1)
    codes = pq_encode(q, books)
    cell = F.col("vid") % 3
    qc = q.withColumn("cell", cell)
    cc = codes.withColumn("cell", cell)
    pairs = pq_adc_scores(qc, cc, books, join_cols=("cell",)).collect()
    assert pairs  # cells are non-trivial
    for r in pairs:
        assert r["vid"] % 3 == r["neighbor"] % 3 and r["vid"] != r["neighbor"]
    # unrestricted scan strictly supersets the restricted one
    full = pq_adc_scores(q, codes, books).count()
    assert full > len(pairs)


def test_ivfadc_recall_law(spark):
    """The composition's quality contract (VERDICT r05 #7): restricting the ADC
    scan to the query's coarse cell can only lose queries whose exact NN lies
    OUTSIDE the cell — so across datasets, recall@1(IVFADC) must stay at or
    above recall@1(ADC-only) minus the cell-miss rate. Pins the quality law of
    the composition, not just its arithmetic."""
    from movie_genre_data_pipeline_spark.functions.kmeans import kmeans_exact_cells

    for seed in (0, 1, 2):
        n, n_groups = 30, 3
        rows = [
            (
                i,
                [
                    float((i % n_groups) * 20 + (i * 7 + j * 5 + seed * 3) % 7)
                    for j in range(DIM)
                ],
            )
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        q = quantize_vectors(df, "vec_id", "embedding", scale=1.0).cache()
        cells = {
            r["vid"]: r["cluster"]
            for r in kmeans_exact_cells(
                df, "vec_id", "embedding", k=n_groups, iterations=2, scale=1.0
            ).collect()
        }
        books = pq_train_exact(q, DIM, M, K, iterations=2)
        codes = pq_encode(q, books)

        vecs = dict(rows)

        def d2(a, b):
            return sum((x - y) ** 2 for x, y in zip(a, b))

        d_min = {
            i: min(d2(vecs[i], vecs[j]) for j in vecs if j != i) for i in vecs
        }
        # cell-miss: no exact-NN-distance vector shares the query's cell
        missed = {
            i
            for i in vecs
            if not any(
                j != i and cells[j] == cells[i] and d2(vecs[i], vecs[j]) == d_min[i]
                for j in vecs
            )
        }
        miss_rate = len(missed) / n

        adc_pairs = pq_adc_scores(q, codes, books).collect()

        def recall(pairs):
            best: dict[int, tuple[float, int]] = {}
            for r in pairs:
                key = (r["adc"], r["neighbor"])
                if r["vid"] not in best or key < best[r["vid"]]:
                    best[r["vid"]] = key
            hits = sum(
                1
                for i, (_, nb) in best.items()
                if d2(vecs[i], vecs[nb]) == d_min[i]
            )
            # queries with NO candidates (empty cell after restriction can't
            # happen for self-cells, but guard the denominator anyway)
            return hits / n

        recall_adc = recall(adc_pairs)
        recall_ivfadc = recall(
            [r for r in adc_pairs if cells[r["vid"]] == cells[r["neighbor"]]]
        )
        assert recall_ivfadc >= recall_adc - miss_rate - 1e-12, (
            seed,
            recall_ivfadc,
            recall_adc,
            miss_rate,
        )
        q.unpersist()


def test_panel_prefix_on_a_corpus_smaller_than_the_panel():
    """A training collect shorter than IVF_TRAIN is the whole corpus, so a
    40-row corpus (below PQ_NQ) yields all 40 rows as the panel — exactly
    what `_pq_query_panel`'s ORDER BY vid LIMIT PQ_NQ selects."""
    from movie_genre_data_pipeline_spark.suite import similarity_queries as sq

    train_rows = [(vid, [float(vid)] * 4) for vid in range(40)]
    assert len(train_rows) < sq.PQ_NQ
    assert sq._train_panel_prefix(train_rows) == train_rows


def test_panel_prefix_rejects_a_truncated_collect(monkeypatch):
    """A full-size (IVF_TRAIN-row) collect that no longer covers the panel
    still fails loudly."""
    from movie_genre_data_pipeline_spark.suite import similarity_queries as sq

    monkeypatch.setattr(sq, "IVF_TRAIN", 50)
    with pytest.raises(AssertionError, match="query panel"):
        sq._train_panel_prefix([(vid, [0.0]) for vid in range(50)])
