"""Round-10 review/advice follow-through tests:

1. write_ivf_pq_index no longer touches a caller's cache at all: the
   r9 ADVICE flagged its unconditional persist/unpersist (persist is
   not ref-counted, so it evicted a caller's own pin); the r10 fused
   one-pass build removed the double consumption that motivated the
   persist, so the build must leave the input frame's storage level
   exactly as it found it — pinned or not (these two tests pin the
   no-touch contract from both sides).
2. The PQ codec trio's model guard validates EVERY subspace: ragged
   or degenerate models ([[[]]], differing codeword counts, differing
   codeword widths) raise instead of silently NULL-coding or dropping
   every row (r9 ADVICE).
3. knn_ivf_pq_index coerces probe cells to the index's actual cell
   column dtype, so the partition filter stays a native typed
   predicate whether the partition column is read back as int
   (default inference) or string (inference disabled) — and both
   serve the exact in-memory composition's rows (r9 ADVICE).
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
    s = get_spark("test_review_fixes_r10", cores=4)
    yield s


def _well_formed_emb(spark):
    return (spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
            .filter(F.col("embedding").isNotNull()
                    & (F.size("embedding") > 0)
                    & ~F.exists("embedding", lambda x: x.isNull())))


def _emb_and_model(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import ivf_pq_fit
    emb = _well_formed_emb(spark)
    return emb, ivf_pq_fit(emb, k_coarse=4, m=4, k_sub=8, iters=1)


def test_write_index_keeps_callers_persist(spark, tmp_path):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        write_ivf_pq_index)
    emb, model = _emb_and_model(spark)
    emb = emb.persist()
    try:
        emb.count()
        write_ivf_pq_index(emb, model, str(tmp_path / "idx_caller_pinned"))
        lvl = emb.storageLevel
        assert lvl.useMemory or lvl.useDisk, (
            "build must leave a caller-pinned frame pinned (the fused "
            "one-pass build has no reason to touch storage levels)")
    finally:
        emb.unpersist()


def test_write_index_releases_its_own_pin(spark, tmp_path):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        write_ivf_pq_index)
    emb, model = _emb_and_model(spark)
    lvl = emb.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)
    write_ivf_pq_index(emb, model, str(tmp_path / "idx_own_pin"))
    lvl = emb.storageLevel
    assert not (lvl.useMemory or lvl.useDisk), (
        "build must not leave the caller's unpersisted frame pinned "
        "(the fused one-pass build takes no pin at all)")


@pytest.mark.parametrize("bad, why", [
    ([[[]]], "empty codeword"),
    ([[[1.0, 2.0]], [[1.0, 2.0], [3.0, 4.0]]], "ragged codeword count"),
    ([[[1.0, 2.0], [3.0, 4.0]], [[1.0], [2.0]]], "ragged codeword width"),
    ([[[1.0, 2.0]], []], "empty subspace"),
])
def test_pq_guards_reject_degenerate_models(spark, bad, why):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        pq_codes, pq_decode, pq_encode)
    df = spark.createDataFrame([(1, [0.1, 0.2, 0.3, 0.4])],
                               "vec_id long, embedding array<double>")
    for fn in (lambda: pq_codes(F.col("embedding"), bad),
               lambda: pq_encode(df, bad),
               lambda: pq_decode(F.col("codes"), bad)):
        with pytest.raises(ValueError, match="codebook"):
            fn()


def test_index_probe_filter_matches_cell_dtype(spark, tmp_path):
    """The probe filter is typed to the partition column the index
    actually read back: ints under default inference, strings with
    inference disabled — both serve the in-memory composition's exact
    rows and both keep the probe set in PartitionFilters."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        StoredCells, knn, knn_ivf_pq_index, write_ivf_pq_index)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        ivf_pq_encode)
    emb, model = _emb_and_model(spark)
    path = str(tmp_path / "idx_dtype")
    write_ivf_pq_index(emb, model, path)
    queries = emb.filter(F.col("vec_id") < 5)
    kw = dict(k=5, m=10, vectors=emb)
    want = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                  for r in knn(ivf_pq_encode(emb, model), queries,
                               codec=model,
                               quantizer=StoredCells(model.centroids,
                                                     nprobe=2),
                               **kw).collect())
    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(conf, "true")
    try:
        for inference, expected_type in (("true", "int"),
                                         ("false", "string")):
            spark.conf.set(conf, inference)
            index = spark.read.parquet(path)
            assert (index.schema["cell"].dataType.simpleString()
                    == expected_type)
            out = knn_ivf_pq_index(index, model, queries, nprobe=2, **kw)
            got = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                         for r in out.collect())
            assert got == want and len(got) > 0, inference
            plan = out._jdf.queryExecution().executedPlan().toString()
            pf = [ln for ln in plan.splitlines()
                  if "PartitionFilters" in ln]
            assert any("cell" in ln for ln in pf), (inference, pf)
    finally:
        spark.conf.set(conf, prev)
