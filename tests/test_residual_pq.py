"""Residual-encoding IVFPQ (r10) — the actual FAISS recipe:

- ``ivf_pq_fit_residual`` trains the coarse quantizer on raw vectors
  and the subspace codebooks on the residuals (deterministic, pinned
  to the same rounded-Lloyd contracts as the flat fits);
- ``ivf_pq_encode`` of a residual model fuses cell assignment +
  residual subtraction + subspace encoding into one kernel pass,
  parity-pinned to the literal composition (centroid_cells + zip_with
  subtract + pq_codes);
- ``knn`` with a residual model as codec serves from (vec_id, codes,
  cell) with reconstruction = centroid[cell] + decode(codes),
  degenerating to exact brute force at full probe/candidate budget;
- the residual codebooks reconstruct strictly closer than the flat
  ones at identical code size (the whole point — deterministic on the
  fixture, both fits are pinned).

The persisted lifecycle and compaction run for both codecs in
tests/test_index_maintenance.py.
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
    s = get_spark("test_residual_pq", cores=4)
    yield s


def _emb(spark):
    return (spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
            .filter(F.col("embedding").isNotNull()
                    & (F.size("embedding") > 0)
                    & ~F.exists("embedding", lambda x: x.isNull())))


@pytest.fixture(scope="module")
def models(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        ivf_pq_fit_residual)
    emb = _emb(spark)
    return emb, ivf_pq_fit_residual(emb, k_coarse=4, m=4, k_sub=8,
                                    iters=1)


def test_fit_residual_shape_determinism_and_contracts(spark, models):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        ivf_pq_fit_residual, kmeans_fit, pq_fit)
    emb, model = models
    cents, books = model.centroids, model.codebooks
    assert model.residual
    dim = len(emb.select("embedding").first()[0])
    assert len(cents) == 4 and all(len(c) == dim for c in cents)
    assert len(books) == 4 and all(len(cb) == 8 for cb in books)
    assert all(len(c) == dim // 4 for cb in books for c in cb)
    # deterministic rerun; coarse model identical to the standalone fit
    assert ivf_pq_fit_residual(emb, k_coarse=4, m=4, k_sub=8,
                               iters=1) == model
    assert cents == kmeans_fit(emb, k=4, iters=1)
    # residual codebooks are NOT the flat ones — they trained on a
    # different (tighter) distribution
    assert books != pq_fit(emb, m=4, k=8, iters=1)
    with pytest.raises(ValueError, match="divisible"):
        ivf_pq_fit_residual(emb, m=dim - 1)


def test_encode_kernel_matches_literal_composition(spark, models):
    """ivf_pq_encode's fused kernel == the pure-Catalyst recipe the
    oracle unrolls: literal cell argmin over the RAW vector, residual
    via element_at subtraction, pq_codes over the residual."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        centroid_cells)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        _lit_array2, ivf_pq_encode, pq_codes)
    emb, model = models
    cents, books = model.centroids, model.codebooks
    dim = len(cents[0])
    malformed = spark.createDataFrame(
        [(300001, None), (300002, [0.5] * (dim - 1)),
         (300003, [0.5] * (dim - 1) + [None])],
        "vec_id long, embedding array<double>")
    full = emb.select("vec_id", "embedding").unionByName(malformed)
    kern = {r["vec_id"]: (tuple(r["codes"]), r["cell"])
            for r in ivf_pq_encode(full, model).collect()}
    cell = centroid_cells(F.col("embedding"), cents)
    residual = F.zip_with(
        F.col("embedding").cast("array<double>"),
        F.element_at(_lit_array2(cents), cell.cast("int") + 1),
        lambda x, c: x - c)
    lit = {r["vec_id"]: ((tuple(r["codes"])
                          if r["codes"] is not None else None),
                         int(r["cell"]) if r["cell"] is not None
                         else None)
           for r in full.select(
               "vec_id", cell.alias("cell"),
               pq_codes(residual, books).alias("codes")).collect()}
    servable = {i: v for i, v in lit.items() if v[0] is not None}
    assert kern == servable and len(kern) > 0
    assert all(i not in kern for i in (300001, 300002, 300003))


def test_residual_serving_exact_at_full_budget(spark, models):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        StoredCells, knn)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        ivf_pq_encode)
    emb, model = models
    n = emb.count()
    codes = ivf_pq_encode(emb, model)
    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                 for r in knn(
                     codes, queries, k=5, codec=model,
                     quantizer=StoredCells(model.centroids,
                                           nprobe=len(model.centroids)),
                     m=n, vectors=emb).collect())
    want = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                  for r in knn(emb, queries, 5).collect())
    assert got == want and len(got) > 0
    # guard rails shared with the family
    with pytest.raises(ValueError, match="m"):
        knn(codes, queries, k=5, codec=model,
            quantizer=StoredCells(model.centroids), m=3)
    # single-stage compressed serving at nprobe=1
    out = knn(codes, queries, k=3, codec=model,
              quantizer=StoredCells(model.centroids, nprobe=1)).collect()
    assert out and all(r["rank"] <= 3 for r in out)


def test_residual_reconstruction_beats_flat(spark, models):
    """The selling point, measured: corpus-mean squared reconstruction
    error of the residual codec is strictly below the flat codec's at
    IDENTICAL code size (same m, k_sub, iters; both fits deterministic,
    so this is a fixed number on the fixture, not a flaky bound)."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        _lit_array2, ivf_pq_encode, pq_decode, pq_encode, pq_fit)
    emb, model = models
    cents, books_r = model.centroids, model.codebooks
    books_f = pq_fit(emb, m=4, k=8, iters=1)

    def mse(decoded):
        err = F.aggregate(
            F.zip_with(F.col("embedding").cast("array<double>"),
                       decoded, lambda x, d: (x - d) * (x - d)),
            F.lit(0.0), lambda a, x: a + x)
        return err

    flat = (pq_encode(emb, books_f)
            .join(emb.select("vec_id", "embedding"), "vec_id")
            .select(mse(pq_decode(F.col("codes"), books_f)).alias("e"))
            .agg(F.avg("e")).first()[0])
    res = (ivf_pq_encode(emb, model)
           .join(emb.select("vec_id", "embedding"), "vec_id")
           .select(mse(F.zip_with(
               F.element_at(_lit_array2(cents), F.col("cell") + 1),
               pq_decode(F.col("codes"), books_r),
               lambda c, r: c + r)).alias("e"))
           .agg(F.avg("e")).first()[0])
    assert res < flat, (res, flat)


def test_encode_model_mismatch_raises(spark, models):
    """A model whose centroids and codebooks live in different spaces,
    or whose codebooks are degenerate, cannot be built — so no encode
    (or any later lifecycle step) ever sees one."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        IVFPQModel, ivf_pq_encode)
    emb, model = models
    with pytest.raises(ValueError, match="dimension"):
        ivf_pq_encode(emb, IVFPQModel([[0.0, 1.0]], model.codebooks,
                                      residual=True))
    with pytest.raises(ValueError, match="codebook"):
        ivf_pq_encode(emb, IVFPQModel(model.centroids, [[[]]],
                                      residual=True))
