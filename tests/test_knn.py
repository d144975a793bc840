"""``knn``: one retriever composed from a codec and an optional coarse
quantizer. Any composition whose candidate budget and probe set cover
the whole corpus must return the exhaustive top-k exactly: stage 1 then
keeps every row and stage 2 re-ranks all of them at full precision."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from eirepolitic_data_pipeline_spark.operators.similarity import (
    PQ, Centroids, Int8, Projection, SignLSH, StoredCells, knn)

K = 5
K_COARSE = 4


@pytest.fixture(scope="module")
def models(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        ivf_pq_fit, ivf_pq_fit_residual, kmeans_fit, pca_fit, pq_fit)
    emb = (spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)
                   & ~F.exists("embedding", lambda x: x.isNull()))
           .cache())
    mean, comps, _ = pca_fit(emb, k=8)
    return {
        "emb": emb,
        "n": emb.count(),
        "centroids": kmeans_fit(emb, k=K_COARSE, iters=1),
        "books": pq_fit(emb, m=4, k=8, iters=1),
        "flat": ivf_pq_fit(emb, k_coarse=K_COARSE, m=4, k_sub=8, iters=1),
        "residual": ivf_pq_fit_residual(emb, k_coarse=K_COARSE, m=4,
                                        k_sub=8, iters=1),
        "projection": (mean, comps),
    }


def _corpus_and_codec(models, codec):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        ivf_pq_encode, pq_encode, quantize_int8)
    emb = models["emb"]
    if codec == "stored":
        return emb, None
    if codec == "int8":
        return quantize_int8(emb).select("vec_id", "scale", "qvec"), Int8()
    if codec == "pq":
        return pq_encode(emb, models["books"]), PQ(models["books"])
    if codec == "projection":
        return emb, Projection(*models["projection"])
    model = models[codec]
    return ivf_pq_encode(emb, model), model


def _quantizer(models, quantizer, codec):
    if quantizer is None:
        return None
    if quantizer == "sign1":  # one bit, both buckets probed
        return SignLSH(n_bits=1, probe_flips=True)
    if quantizer == "centroids":
        return Centroids(models["centroids"], nprobe=K_COARSE)
    return StoredCells(models[codec].centroids, nprobe=K_COARSE)


@pytest.mark.parametrize("codec, quantizer", [
    ("int8", None),
    ("pq", None),
    ("projection", None),
    ("stored", "centroids"),
    ("int8", "centroids"),
    ("pq", "centroids"),
    ("flat", "stored_cells"),
    ("residual", "stored_cells"),
    ("stored", "sign1"),
    ("int8", "sign1"),
    ("projection", "sign1"),
])
def test_full_budget_and_all_probes_is_exhaustive(spark, models, codec,
                                                  quantizer):
    emb, queries = models["emb"], models["emb"].filter(F.col("vec_id") < 5)
    corpus, c = _corpus_and_codec(models, codec)
    got = sorted(tuple(r) for r in knn(
        corpus, queries, K, codec=c,
        quantizer=_quantizer(models, quantizer, codec),
        m=models["n"], vectors=emb).collect())
    want = sorted(tuple(r) for r in knn(emb, queries, K).collect())
    assert got == want and len(got) == 5 * K


def test_max_bucket_lives_on_the_quantizer(spark):
    """The hot-bucket guard travels with the quantizer value, so
    ``ann_recall``'s index branch applies the same cap as ``knn``."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        ann_recall)
    rows = ([(i, [1.0, float(i)]) for i in range(20)]
            + [(100, [-1.0, 5.0]), (101, [-1.0, 4.9])])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id in (0, 100)")
    capped = SignLSH(n_bits=2, max_bucket=10)
    assert knn(df, q, k=3, quantizer=capped) \
        .filter("query_id = 0").count() == 0
    rec = {r["query_id"]: r["n_hit"]
           for r in ann_recall(df, q, k=3, quantizer=capped).collect()}
    assert rec == {0: 0, 100: 1}
