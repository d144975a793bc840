"""Round-9 review/advice follow-through tests:

1. centroid_cells_frame (the Arrow-kernel frame bucketer) is
   row-identical to the centroid_cells literal expression on servable
   rows, and DROPS the rows the expression NULL-cells — the keying
   contract the Centroids quantizer's corpus keying relies on.
2. ann_recall produces identical rows whether the corpus is keyed by
   the kernel or the literal expression (q82's perf path changes no
   answer).
3. The kernel's ragged-dimension contract error carries the unique
   sentinel _fit matches on (ADVICE r8: matching the bare word "ragged"
   would re-classify unrelated worker failures).
4. int8-codec knn m-monotonicity: recall against brute-force
   truth is non-decreasing in m, and m = |corpus| recovers the exact
   top-k (the stress suite samples this at 200k; this pins it at
   fixture scale).
5. Empty centroid models raise instead of fabricating cell '-1'
   through the flat-literal distance tree (r9 review).
6. Every codec and quantizer shares one k/m guard — the hand-copies
   had drifted (the int8 IVF serve lost its k check; r9 review).
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
    s = get_spark("test_review_fixes_r9", cores=4)
    yield s


def _well_formed_emb(spark):
    return (spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
            .filter(F.col("embedding").isNotNull()
                    & (F.size("embedding") > 0)
                    & ~F.exists("embedding", lambda x: x.isNull())))


def test_centroid_cells_frame_matches_literal_expression(spark):
    """Kernel cells == literal-expression cells on every servable row;
    rows the expression NULL-cells are absent from the frame output."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        centroid_cells, centroid_cells_frame)
    from eirepolitic_data_pipeline_spark.operators.vectors import kmeans_fit
    emb = _well_formed_emb(spark)
    cents = kmeans_fit(emb, k=4, iters=1)
    dim = len(cents[0])
    # include malformed rows to exercise the drop-vs-NULL contract
    malformed = spark.createDataFrame(
        [(100001, None), (100002, [0.5] * (dim - 1)),
         (100003, [0.5] * (dim - 1) + [None])],
        "vec_id long, embedding array<double>")
    full = emb.select("vec_id", "embedding").unionByName(malformed)
    lit = {r["vec_id"]: r["cell"] for r in full.select(
        "vec_id", centroid_cells(F.col("embedding"), cents).alias("cell"))
        .collect()}
    frame = {r["vec_id"]: r["__cell"] for r in
             centroid_cells_frame(full, cents).collect()}
    servable = {i: c for i, c in lit.items() if c is not None}
    assert len(servable) > 0
    assert frame == servable
    # the three malformed rows are NULL-celled by the expression and
    # dropped by the frame form
    assert all(lit[i] is None for i in (100001, 100002, 100003))


def test_ann_recall_frame_bucketer_identical_rows(spark):
    """q82's kernel-bucketed corpus path is an answer-preserving swap."""
    from dataclasses import dataclass

    from eirepolitic_data_pipeline_spark.operators.similarity import (
        Centroids, ann_recall)
    from eirepolitic_data_pipeline_spark.operators.vectors import kmeans_fit

    @dataclass(frozen=True)
    class LiteralCentroids(Centroids):
        """Keys the corpus with the literal centroid_cells expression."""

        def key_corpus(self, frame, id_col, vec_col):
            return frame, self.key(vec_col)

    emb = _well_formed_emb(spark)
    cents = kmeans_fit(emb, k=4, iters=1)
    queries = emb.filter(F.col("vec_id") < 8)
    base = sorted(map(tuple, ann_recall(
        emb, queries, k=5, quantizer=LiteralCentroids(cents, nprobe=2))
        .collect()))
    kernel = sorted(map(tuple, ann_recall(
        emb, queries, k=5, quantizer=Centroids(cents, nprobe=2))
        .collect()))
    assert kernel == base and len(base) > 0


def test_ragged_error_carries_sentinel():
    """Both kernel-raised contract errors embed the match token."""
    import numpy as np
    import pandas as pd
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        _RAGGED_SENTINEL, _stack_batch)
    ragged = pd.DataFrame({"__v": [np.array([1.0, 2.0]),
                                   np.array([1.0])]})
    with pytest.raises(RuntimeError, match="ragged") as ei:
        _stack_batch(ragged, 2)
    assert _RAGGED_SENTINEL in str(ei.value)
    wrong_dim = pd.DataFrame({"__v": [np.array([1.0, 2.0])]})
    with pytest.raises(RuntimeError, match="ragged") as ei:
        _stack_batch(wrong_dim, 3)
    assert _RAGGED_SENTINEL in str(ei.value)


def test_knn_quantized_rerank_recall_monotone_in_m(spark):
    """Recall vs brute-force truth is non-decreasing in m (stage 1 with a
    larger m keeps a superset of candidates, and the exact re-rank can
    only improve with more candidates); m = |corpus| is exact."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        Int8, knn)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        quantize_int8)
    emb = _well_formed_emb(spark)
    n = emb.count()
    quantized = quantize_int8(emb).select("vec_id", "scale", "qvec")
    queries = emb.filter(F.col("vec_id") < 8)
    k = 5
    truth = {(r["query_id"], r["neighbor_id"])
             for r in knn(emb, queries, k).collect()}
    assert truth
    last = -1.0
    for m in (k, 2 * k, 4 * k, n):
        got = {(r["query_id"], r["neighbor_id"])
               for r in knn(quantized, queries, k=k, codec=Int8(), m=m,
                            vectors=emb).collect()}
        recall = len(got & truth) / len(truth)
        assert recall >= last, (m, recall, last)
        last = recall
    assert last == 1.0  # m = |corpus| degenerates to brute force


def test_empty_centroid_model_raises_not_fabricates(spark):
    """r9 review: F.sequence(0, k-1) with k=0 yields [0, -1], so the
    flat-literal rewrite would have FABRICATED cell '-1' for an empty
    model where the per-centroid form failed at construction. All three
    centroid entry points must be loud."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        centroid_cells, centroid_cells_frame, centroid_probe_ranks)
    df = spark.createDataFrame([(1, [0.1, 0.2])],
                               "vec_id long, embedding array<double>")
    for bad in ([], [[]]):
        with pytest.raises(ValueError, match="centroids"):
            centroid_cells(F.col("embedding"), bad)
        with pytest.raises(ValueError, match="centroids"):
            centroid_probe_ranks(F.col("embedding"), bad)
        with pytest.raises(ValueError, match="centroids"):
            centroid_cells_frame(df, bad)


def test_serving_family_shares_k_guard(spark):
    """r9 review: the int8 IVF serve's hand-copied guard had lost the
    k >= 1 check (k=0 silently returned empty). The shared _resolve_m
    now guards knn under every codec and quantizer, and the persisted
    serve."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        PQ, Centroids, Int8, StoredCells, knn, knn_ivf_pq_index)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        IVFPQModel)
    df = spark.createDataFrame([(1, [0.1, 0.2])],
                               "vec_id long, embedding array<double>")
    qz = spark.createDataFrame([(1, 0.1, [1, 2])],
                               "vec_id long, scale double, qvec array<int>")
    cents = [[0.0, 0.0]]
    books = [[[0.0], [1.0]], [[0.0], [1.0]]]
    model = IVFPQModel(cents, books)
    for call in (
            lambda: knn(qz, df, k=0, codec=Int8()),
            lambda: knn(qz, df, k=0, codec=PQ(books)),
            lambda: knn(qz, df, k=0, codec=Int8(),
                        quantizer=Centroids(cents)),
            lambda: knn(qz, df, k=0, codec=model,
                        quantizer=StoredCells(cents)),
            lambda: knn_ivf_pq_index(qz, model, df, k=0)):
        with pytest.raises(ValueError, match="k must be >= 1"):
            call()
