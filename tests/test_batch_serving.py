"""Distributed BATCH serving from the persisted IVF-PQ indexes (r11):

- ``probe_cells_frame`` (the Arrow probe kernel) is row-identical to
  exploding the literal ``centroid_probe_ranks`` expression — probe
  sets, order, string keys, and unservable-row drops all match;
- ``knn_ivf_pq_index_batch`` returns EXACTLY what the online
  partition-pruned path serves for the same inputs, for either codec —
  but with no driver-side collect anywhere, so a query frame
  of any size (including past ``max_query_rows``) is served
  distributed instead of refused;
- ``vectors=None`` single-stage compressed serving works and skips the
  corpus re-rank join.
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
    s = get_spark("test_batch_serving", cores=4)
    yield s


def _emb(spark):
    return (spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
            .filter(F.col("embedding").isNotNull()
                    & (F.size("embedding") > 0)
                    & ~F.exists("embedding", lambda x: x.isNull())))


@pytest.fixture(scope="module")
def models(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import ivf_pq_fit
    emb = _emb(spark)
    return emb, ivf_pq_fit(emb, k_coarse=4, m=4, k_sub=8, iters=1)


def test_probe_kernel_matches_literal_expression(spark, models):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        centroid_probe_ranks, probe_cells_frame)
    emb, model = models
    cents = model.centroids
    dim = len(cents[0])
    # servable rows + every unservable shape the predicate excludes
    queries = (emb.select("vec_id", "embedding")
               .unionByName(spark.createDataFrame(
                   [(990001, None), (990002, [0.5] * (dim - 1)),
                    (990003, [0.5] * (dim + 1))],
                   "vec_id long, embedding array<double>")))
    for nprobe in (1, 2, 3, len(cents), len(cents) + 2):
        got = sorted(
            (r["vec_id"], r["__p_rank"], r["__cell"])
            for r in probe_cells_frame(queries, cents, nprobe)
            .withColumn("__p_rank", F.lit(0))  # order checked below
            .collect())
        want_rows = (queries.select(
            "vec_id",
            F.posexplode(centroid_probe_ranks(F.col("embedding"), cents,
                                              nprobe=nprobe))
            .alias("__pos", "__cell")).collect())
        want = sorted((r["vec_id"], 0, r["__cell"]) for r in want_rows)
        assert got == want and len(got) > 0, nprobe
    # probe ORDER parity (home cell first): compare ordered lists per id
    kernel_rows = (probe_cells_frame(emb, cents, 3)
                   .select("vec_id", "__cell").collect())
    lit_rows = (emb.select(
        "vec_id",
        F.posexplode(centroid_probe_ranks(F.col("embedding"), cents,
                                          nprobe=3))
        .alias("__pos", "__cell")).collect())
    by_id_lit: dict = {}
    for r in sorted(lit_rows, key=lambda r: (r["vec_id"], r["__pos"])):
        by_id_lit.setdefault(r["vec_id"], []).append(r["__cell"])
    by_id_kernel: dict = {}
    for r in kernel_rows:
        by_id_kernel.setdefault(r["vec_id"], []).append(r["__cell"])
    # the kernel emits each row's probes contiguously in rank order
    # within its batch; Spark preserves intra-partition order on
    # collect, so per-id sequences must match the posexplode order
    assert by_id_kernel == by_id_lit


@pytest.mark.parametrize("fit", ["ivf_pq_fit", "ivf_pq_fit_residual"],
                         ids=["flat", "residual"])
def test_batch_matches_online_path(spark, tmp_path, fit):
    from eirepolitic_data_pipeline_spark.operators import vectors
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        knn_ivf_pq_index, knn_ivf_pq_index_batch, write_ivf_pq_index)
    emb = _emb(spark)
    model = getattr(vectors, fit)(emb, k_coarse=4, m=4, k_sub=8, iters=1)
    path = str(tmp_path / "idx_batch")
    write_ivf_pq_index(emb, model, path)
    index = spark.read.parquet(path)
    queries = emb.filter(F.col("vec_id") < 25)
    kw = dict(k=5, m=10, nprobe=2, vectors=emb)
    # EXACT float equality: the batch stage-1 kernel claims bit-parity
    # with the expression path (dimension-ordered accumulation), so the
    # re-ranked cosines must be identical doubles, not just close
    online = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in knn_ivf_pq_index(index, model, queries, **kw).collect())
    batch = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in knn_ivf_pq_index_batch(index, model, queries,
                                        **kw).collect())
    assert batch == online and len(batch) > 0


def test_batch_serves_past_the_online_contract_limit(spark, models,
                                                     tmp_path):
    """The division of labor the r11 guard creates: the online path
    REFUSES a frame past max_query_rows (it collects on the driver);
    the batch path serves the same frame distributed — no collect, no
    limit, k rows per servable query."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        knn_ivf_pq_index, knn_ivf_pq_index_batch, write_ivf_pq_index)
    emb, model = models
    path = str(tmp_path / "idx_batch_all")
    write_ivf_pq_index(emb, model, path)
    index = spark.read.parquet(path)
    n = emb.count()
    kw = dict(k=3, m=10, nprobe=2, vectors=emb)
    with pytest.raises(ValueError, match="max_query_rows"):
        knn_ivf_pq_index(index, model, emb, max_query_rows=n - 1, **kw)
    out = knn_ivf_pq_index_batch(index, model, emb, **kw)
    per_q = out.groupBy("query_id").count().collect()
    assert len(per_q) == n and all(r["count"] == 3 for r in per_q)


def test_batch_single_stage_without_vectors(spark, models, tmp_path):
    """vectors=None emits the stage-1 kernel's OWN cosines — the direct
    bit-parity pin against the expression path's interpreted fold (the
    re-ranked tests share the re-rank expression, so only this form
    exposes the kernel floats)."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        knn_ivf_pq_index, knn_ivf_pq_index_batch, write_ivf_pq_index)
    emb, model = models
    path = str(tmp_path / "idx_batch_ss")
    write_ivf_pq_index(emb, model, path)
    index = spark.read.parquet(path)
    queries = emb.filter(F.col("vec_id") < 10)
    kw = dict(k=5, m=10, nprobe=2)
    out = knn_ivf_pq_index_batch(index, model, queries, **kw)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == set(range(10))
    assert all(r["rank"] <= 5 for r in rows)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    online = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in knn_ivf_pq_index(index, model, queries,
                                  **kw).collect())
    assert sorted((r["query_id"], r["neighbor_id"], r["cosine"],
                   r["rank"]) for r in rows) == online


def test_batch_plan_prunes_dynamically_and_limits_ranks(spark, models,
                                                        tmp_path):
    """The batch path's two plan properties at scale: the index scan
    carries a DYNAMIC partition-pruning expression on the cell key
    (runtime pruning from the query side's probe union — no driver
    round trip), and the stage-1 top-m runs as a partial
    WindowGroupLimit before its exchange (each task forwards at most m
    rows per query, not its whole candidate set)."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        knn_ivf_pq_index_batch, write_ivf_pq_index)
    emb, model = models
    path = str(tmp_path / "idx_batch_plan")
    write_ivf_pq_index(emb, model, path)
    out = knn_ivf_pq_index_batch(spark.read.parquet(path), model,
                                 emb.filter(F.col("vec_id") < 25), k=5,
                                 m=10, nprobe=2, vectors=emb)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan
    assert "WindowGroupLimit" in plan, plan
