"""Product-quantization codec + serving tests (r9):

- pq_fit shape/determinism and the divisibility contract;
- pq_codes (literal twin) vs pq_encode (Arrow kernel) parity, including
  the drop-vs-NULL contract for unservable rows;
- pq_decode reconstruction: full dimension, every subspace slice is a
  verbatim codeword of its codebook, NULL codes decode to NULL;
- knn with the PQ codec: exact at m = |corpus| (re-rank covers
  everything), recall monotone in the candidate budget, guard rails.

The persisted IVF-PQ index (write → serve, partition pruning) runs for
both codecs in tests/test_index_maintenance.py.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eirepolitic_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test_pq", cores=4)
    yield s


def _emb(spark):
    return (spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
            .filter(F.col("embedding").isNotNull()
                    & (F.size("embedding") > 0)
                    & ~F.exists("embedding", lambda x: x.isNull())))


def test_pq_fit_shape_determinism_and_divisibility(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import pq_fit
    emb = _emb(spark)
    dim = len(emb.select("embedding").first()[0])
    books = pq_fit(emb, m=4, k=8, iters=1)
    assert len(books) == 4
    assert all(len(cb) == 8 for cb in books)
    assert all(len(c) == dim // 4 for cb in books for c in cb)
    assert books == pq_fit(emb, m=4, k=8, iters=1)  # deterministic
    with pytest.raises(ValueError, match="divisible"):
        pq_fit(emb, m=dim - 1, k=2, iters=1)


def test_pq_codes_literal_vs_kernel_parity(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        pq_codes, pq_encode, pq_fit)
    emb = _emb(spark)
    dim = len(emb.select("embedding").first()[0])
    books = pq_fit(emb, m=4, k=8, iters=1)
    malformed = spark.createDataFrame(
        [(200001, None), (200002, [0.5] * (dim - 1)),
         (200003, [0.5] * (dim - 1) + [None])],
        "vec_id long, embedding array<double>")
    full = emb.select("vec_id", "embedding").unionByName(malformed)
    lit = {r["vec_id"]: (tuple(r["codes"]) if r["codes"] is not None
                         else None)
           for r in full.select(
               "vec_id", pq_codes(F.col("embedding"), books)
               .alias("codes")).collect()}
    kern = {r["vec_id"]: tuple(r["codes"])
            for r in pq_encode(full, books).collect()}
    servable = {i: c for i, c in lit.items() if c is not None}
    assert len(servable) > 0
    assert kern == servable
    assert all(lit[i] is None for i in (200001, 200002, 200003))
    # codes are valid indices into each subspace codebook
    assert all(0 <= c < 8 for cs in kern.values() for c in cs)


def test_pq_decode_reconstruction(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        pq_decode, pq_encode, pq_fit)
    emb = _emb(spark)
    dim = len(emb.select("embedding").first()[0])
    sub = dim // 4
    books = pq_fit(emb, m=4, k=8, iters=1)
    codes = pq_encode(emb, books)
    rows = (codes.select("vec_id", "codes",
                         pq_decode(F.col("codes"), books).alias("dv"))
            .limit(20).collect())
    assert rows
    for r in rows:
        assert len(r["dv"]) == dim
        for j in range(4):
            got = list(r["dv"][j * sub:(j + 1) * sub])
            assert got == books[j][r["codes"][j]], (r["vec_id"], j)
    null_codes = spark.createDataFrame(
        [(1, None)], "vec_id long, codes array<int>")
    assert (null_codes.select(pq_decode(F.col("codes"), books).alias("dv"))
            .first()["dv"] is None)


def test_knn_pq_adc_exact_at_full_budget_and_monotone(spark):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        PQ, knn)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        pq_encode, pq_fit)
    emb = _emb(spark)
    n = emb.count()
    books = pq_fit(emb, m=4, k=8, iters=1)
    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 8)
    k = 5
    exact = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                   for r in knn(emb, queries, k).collect())
    truth = {(q, nb) for q, nb, _ in exact}
    with pytest.raises(ValueError, match="m"):
        knn(codes, queries, k=5, codec=PQ(books), m=3)
    last = -1.0
    for m in (k, 4 * k, n):
        got_rows = knn(codes, queries, k=k, codec=PQ(books), m=m,
                       vectors=emb).collect()
        got = {(r["query_id"], r["neighbor_id"]) for r in got_rows}
        recall = len(got & truth) / len(truth)
        assert recall >= last, (m, recall, last)
        last = recall
    assert last == 1.0
    # at m = |corpus| the full (id, rank) ordering matches brute force
    full = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                  for r in knn(codes, queries, k=k, codec=PQ(books), m=n,
                               vectors=emb).collect())
    assert full == exact
    # vectors=None returns the compressed ranking, rank <= k
    approx = knn(codes, queries, k=3, codec=PQ(books)).collect()
    assert approx and all(r["rank"] <= 3 for r in approx)


def test_knn_ivf_adc_all_probes_equals_knn_pq_adc(spark):
    """Probing every coarse cell degenerates the full IVFPQ composition
    to the exhaustive PQ scan — the int8 IVF/exhaustive relationship,
    held for the real-PQ codec."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        PQ, StoredCells, knn)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        IVFPQModel, ivf_pq_encode, kmeans_fit, pq_fit)
    emb = _emb(spark)
    books = pq_fit(emb, m=4, k=8, iters=1)
    model = IVFPQModel(kmeans_fit(emb, k=4, iters=1), books)
    codes = ivf_pq_encode(emb, model)
    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                 for r in knn(codes, queries, k=5, codec=model,
                              quantizer=StoredCells(model.centroids,
                                                    nprobe=4),
                              m=10, vectors=emb).collect())
    want = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                  for r in knn(codes, queries, k=5, codec=PQ(books), m=10,
                               vectors=emb).collect())
    assert got == want and len(got) > 0
    # the nprobe=1 cut returns at most k rows per query and m < k raises
    with pytest.raises(ValueError, match="m"):
        knn(codes, queries, k=5, codec=model,
            quantizer=StoredCells(model.centroids), m=3)
    out = knn(codes, queries, k=3, codec=model,
              quantizer=StoredCells(model.centroids, nprobe=1)).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert per_q and all(len(v) <= 3 for v in per_q.values())


def test_pq_empty_codebooks_raise(spark):
    """Direct callers passing an empty model get a loud ValueError, not
    an opaque IndexError / malformed expression."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        pq_codes, pq_decode, pq_encode)
    df = spark.createDataFrame([(1, [0.1, 0.2])],
                               "vec_id long, embedding array<double>")
    for bad in ([], [[]]):
        with pytest.raises(ValueError, match="codebook"):
            pq_codes(F.col("embedding"), bad)
        with pytest.raises(ValueError, match="codebook"):
            pq_encode(df, bad)
        with pytest.raises(ValueError, match="codebook"):
            pq_decode(F.col("embedding"), bad)


def test_ivf_pq_fit_matches_separate_fits(spark):
    """The fused trainer is bit-identical to the separate
    kmeans_fit + pq_fit pair — same seeds, same assignments, same
    rounded means, same empty-cluster rule — while reading the corpus
    once per Lloyd round instead of twice."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        ivf_pq_fit, kmeans_fit, pq_fit)
    emb = _emb(spark)
    for k_coarse, m, k_sub, iters in ((4, 4, 8, 1), (8, 2, 4, 2)):
        model = ivf_pq_fit(emb, k_coarse=k_coarse, m=m, k_sub=k_sub,
                           iters=iters)
        assert not model.residual
        assert model.centroids == kmeans_fit(emb, k=k_coarse, iters=iters)
        assert model.codebooks == pq_fit(emb, m=m, k=k_sub, iters=iters)
    with pytest.raises(ValueError, match="divisible"):
        ivf_pq_fit(emb, m=63)
    with pytest.raises(ValueError, match=">= 1"):
        ivf_pq_fit(emb, k_coarse=0)
