"""Streaming index maintenance (r11): ``streaming_index_refresh_sink``
drives ``refresh_ivf_pq_index`` (either codec) from a REAL
multi-micro-batch readStream (file source, maxFilesPerTrigger=1,
availableNow) — the streaming leg of the persisted-index lifecycle.

Pinned: every streamed row lands encoded in its cell partition (index
== full rebuild with the same frozen models), serving from the streamed
index stays partition-pruned and row-identical to the in-memory path,
and a REPLAYED epoch (the foreachBatch at-least-once contract) is
skipped by its marker instead of appending duplicates.
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
    s = get_spark("test_streaming_index_refresh", cores=4)
    yield s


def _emb(spark):
    return (spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
            .filter(F.col("embedding").isNotNull()
                    & (F.size("embedding") > 0)
                    & ~F.exists("embedding", lambda x: x.isNull()))
            .select("vec_id", F.col("embedding").cast("array<double>")
                    .alias("embedding")))


@pytest.fixture(scope="module")
def models(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import ivf_pq_fit
    emb = _emb(spark)
    return emb, ivf_pq_fit(emb, k_coarse=4, m=4, k_sub=8, iters=1)


def _stream_dir(emb, tmp_path, name, splits=((100, 250), (250, 400))):
    """Write each split as one parquet file so maxFilesPerTrigger=1
    yields one micro-batch per split."""
    src = str(tmp_path / name)
    for i, (lo, hi) in enumerate(splits):
        (emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
         .coalesce(1).write.mode("append").parquet(src))
    return src


def test_streamed_refresh_matches_full_rebuild(spark, models, tmp_path):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        StoredCells, knn, knn_ivf_pq_index, write_ivf_pq_index)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        ivf_pq_encode)
    from eirepolitic_data_pipeline_spark.streaming.jobs import (
        streaming_index_refresh_sink)
    emb, model = models
    path = str(tmp_path / "idx_stream")
    write_ivf_pq_index(emb.filter(F.col("vec_id") < 100), model, path)

    src = _stream_dir(emb, tmp_path, "vec_src")
    stream = (spark.readStream.schema(
        "vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1).parquet(src))
    q = streaming_index_refresh_sink(
        stream, model, path, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # >1 epoch actually ran (one marker per applied micro-batch)
    markers = os.listdir(os.path.join(path, "_epochs"))
    assert len(markers) >= 2, markers

    streamed_universe = emb.filter(F.col("vec_id") < 400)
    full = str(tmp_path / "idx_full")
    write_ivf_pq_index(streamed_universe, model, full)

    def rows(p):
        return sorted((r["vec_id"], tuple(r["codes"]), int(r["cell"]))
                      for r in spark.read.parquet(p).collect())
    assert rows(path) == rows(full) and len(rows(path)) > 0

    # serving from the streamed index: pruned and row-identical
    queries = emb.filter(F.col("vec_id") < 5)
    kw = dict(k=5, m=10, nprobe=2, vectors=streamed_universe)
    out = knn_ivf_pq_index(spark.read.parquet(path), model, queries, **kw)
    served = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                    for r in out.collect())
    inmem = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                   for r in knn(ivf_pq_encode(streamed_universe, model),
                                queries, codec=model,
                                quantizer=StoredCells(model.centroids,
                                                      nprobe=2),
                                k=5, m=10,
                                vectors=streamed_universe).collect())
    assert served == inmem and len(served) > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any("PartitionFilters" in ln and "cell" in ln
               for ln in plan.splitlines())


def test_replayed_epoch_skips_by_marker(spark, models, tmp_path):
    """foreachBatch is at-least-once: re-applying an epoch whose marker
    exists must be a no-op (no duplicate vec_ids in the index)."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        write_ivf_pq_index)
    from eirepolitic_data_pipeline_spark.streaming.jobs import (
        streaming_index_refresh_sink)
    emb, model = models
    path = str(tmp_path / "idx_replay")
    write_ivf_pq_index(emb.filter(F.col("vec_id") < 100), model, path)
    src = _stream_dir(emb, tmp_path, "vec_src_replay",
                      splits=((100, 250),))
    schema = "vec_id long, embedding array<double>"

    def run_once(ckpt):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = streaming_index_refresh_sink(stream, model, path,
                                         checkpoint_dir=str(ckpt))
        q.awaitTermination(120)

    run_once(tmp_path / "ckpt_a")
    n1 = spark.read.parquet(path).count()
    # a SECOND run from a FRESH checkpoint re-delivers the same file as
    # the same epoch id (epoch ids restart at 0) — the marker must skip
    # it; this is exactly the replay-after-crash delivery shape
    run_once(tmp_path / "ckpt_b")
    n2 = spark.read.parquet(path).count()
    assert n1 == n2 == emb.filter(F.col("vec_id") < 250).count()
    ids = [r["vec_id"] for r in spark.read.parquet(path)
           .groupBy("vec_id").count().filter(F.col("count") > 1)
           .collect()]
    assert ids == []


def test_batch_frame_applies_once_and_residual_layout(spark, models,
                                                      tmp_path):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        knn_ivf_pq_index, write_ivf_pq_index)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        ivf_pq_encode, ivf_pq_fit_residual)
    from eirepolitic_data_pipeline_spark.streaming.jobs import (
        streaming_index_refresh_sink)
    emb, _ = models
    rmodel = ivf_pq_fit_residual(emb, k_coarse=4, m=4, k_sub=8, iters=1)
    path = str(tmp_path / "idx_rpq_stream")
    write_ivf_pq_index(emb.filter(F.col("vec_id") >= 100), rmodel, path)
    # the model carries the codec: no flag tells the sink it is residual
    out = streaming_index_refresh_sink(
        emb.filter(F.col("vec_id") < 100), rmodel, path)
    assert out is None  # batch shape returns no query
    want = sorted((r["vec_id"], tuple(r["codes"]), int(r["cell"]))
                  for r in ivf_pq_encode(emb, rmodel).collect())
    got = sorted((r["vec_id"], tuple(r["codes"]), int(r["cell"]))
                 for r in spark.read.parquet(path).collect())
    assert got == want and len(got) > 0
    served = knn_ivf_pq_index(spark.read.parquet(path), rmodel,
                              emb.filter(F.col("vec_id") < 5), k=5,
                              m=10, nprobe=2, vectors=emb)
    assert served.count() == 25
