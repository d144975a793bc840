"""Persisted IVF-PQ index maintenance (r10):

- one lifecycle over an ``IVFPQModel`` (fit → encode → write → refresh
  → online serve → batch serve → drift) serves the same rows as the
  in-memory ``knn`` with the model codec for either codec, flat or
  residual;
- ``refresh_ivf_pq_index`` appends an encoded delta into existing cell
  partitions and is byte-equivalent to rebuilding over base ∪ delta
  with the same frozen model (encode + cell assignment are row-wise
  functions of the model);
- serving from the refreshed index returns exactly what the in-memory
  composition serves over the full corpus;
- ``ivf_pq_index_drift`` reports the recall the index ACTUALLY serves
  on a held-out sample and flags a refit when it sags below the floor
  — the feedback loop the frozen-model append path deliberately lacks.
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
    s = get_spark("test_index_maintenance", cores=4)
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


def _fit(emb, fit):
    from eirepolitic_data_pipeline_spark.operators import vectors
    return getattr(vectors, fit)(emb, k_coarse=4, m=4, k_sub=8, iters=1)


def _ranked(df):
    return sorted((r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
                  for r in df.collect())


@pytest.mark.parametrize("fit", ["ivf_pq_fit", "ivf_pq_fit_residual"],
                         ids=["flat", "residual"])
def test_ivf_pq_lifecycle_round_trip(spark, tmp_path, fit):
    """The whole persisted lifecycle over ONE model value, for either
    codec: fit → encode → write → refresh → knn_ivf_pq_index →
    knn_ivf_pq_index_batch → drift. The refreshed index holds exactly
    the encode kernel's rows (append == full rebuild with the frozen
    model), both serves return the in-memory knn rows on the
    same model, the online scan carries the probe union as a PARTITION
    filter, and the drift report's recall is the recall of those served
    rows against brute force."""
    import re

    from eirepolitic_data_pipeline_spark.operators.similarity import (
        StoredCells, ivf_pq_index_drift, knn, knn_ivf_pq_index,
        knn_ivf_pq_index_batch, refresh_ivf_pq_index, write_ivf_pq_index)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        ivf_pq_encode)
    emb = _emb(spark)
    model = _fit(emb, fit)
    assert model.residual == (fit == "ivf_pq_fit_residual")
    codes = ivf_pq_encode(emb, model)
    assert codes.columns == ["vec_id", "codes", "cell"]

    refreshed = str(tmp_path / "idx_refreshed")
    write_ivf_pq_index(emb.filter(F.col("vec_id") >= 100), model,
                       refreshed)
    refresh_ivf_pq_index(emb.filter(F.col("vec_id") < 100), model,
                         refreshed)
    full = str(tmp_path / "idx_full")
    write_ivf_pq_index(emb, model, full)

    def rows(df):
        return sorted((r["vec_id"], tuple(r["codes"]), int(r["cell"]))
                      for r in df.collect())
    want = rows(codes)
    assert rows(spark.read.parquet(refreshed)) == want
    assert rows(spark.read.parquet(full)) == want and len(want) > 0
    index = spark.read.parquet(refreshed)
    # every row landed in a real cell partition; codes round-trip intact
    assert index.filter(F.col("cell").isNull()).count() == 0
    assert index.count() == codes.count()

    queries = emb.filter(F.col("vec_id") < 5)
    kw = dict(k=5, m=10, nprobe=2, vectors=emb)
    inmem = _ranked(knn(codes, queries, codec=model,
                        quantizer=StoredCells(model.centroids, nprobe=2),
                        k=5, m=10, vectors=emb))
    online = knn_ivf_pq_index(index, model, queries, **kw)
    assert _ranked(online) == inmem and len(inmem) > 0
    # the scan carries the probe set as a PARTITION filter
    plan = online._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any(re.search(r"PartitionFilters: \[.*cell", ln) for ln in pf), pf
    assert _ranked(knn_ivf_pq_index_batch(index, model, queries,
                                          **kw)) == inmem

    r = ivf_pq_index_drift(index, model, emb, queries, k=5, nprobe=2,
                           m=10, recall_floor=1.0).first()
    assert r["n_queries"] == r["n_servable"] == 5
    assert 0.0 <= r["min_recall"] <= r["mean_recall"] <= 1.0
    assert r["refit_recommended"] == (r["mean_recall"] < 1.0)
    truth = {(q, n) for q, n, _, _ in _ranked(knn(emb, queries, 5))}
    served = {(q, n) for q, n, _, _ in inmem}
    per_q = [len({p for p in truth & served if p[0] == q})
             / len({p for p in truth if p[0] == q})
             for q in {q for q, _ in truth}]
    assert r["mean_recall"] == round(sum(per_q) / len(per_q), 6)


def test_refresh_appends_equivalently_to_full_rebuild(spark, models,
                                                      tmp_path):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        refresh_ivf_pq_index, write_ivf_pq_index)
    emb, model = models
    base = emb.filter(F.col("vec_id") >= 100)
    delta = emb.filter(F.col("vec_id") < 100)
    assert base.count() > 0 and delta.count() > 0

    refreshed = str(tmp_path / "idx_refreshed")
    write_ivf_pq_index(base, model, refreshed)

    def snapshot(path):
        # size AND mtime_ns per parquet file: an in-place rewrite with
        # identical byte length must still fail the append-only
        # assertion (the stress tool's check, mirrored here — r10
        # ADVICE: the old >=2-files assertion was nearly vacuous)
        out = {}
        for d, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    resident = snapshot(refreshed)
    assert resident, "build wrote no parquet files"
    refresh_ivf_pq_index(delta, model, refreshed)
    after = snapshot(refreshed)

    full = str(tmp_path / "idx_full")
    write_ivf_pq_index(emb, model, full)

    def rows(path):
        return sorted(
            (r["vec_id"], tuple(r["codes"]), r["cell"])
            for r in spark.read.parquet(path).collect())
    got, want = rows(refreshed), rows(full)
    assert got == want and len(got) == emb.count()
    # append-only maintenance, asserted on the files: every resident
    # base file survives byte- and mtime-identical, and the delta
    # landed exclusively as NEW files
    assert all(after.get(p) == st for p, st in resident.items())
    assert set(after) > set(resident)


def test_serving_after_refresh_matches_inmemory(spark, models, tmp_path):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        StoredCells, knn, knn_ivf_pq_index, refresh_ivf_pq_index,
        write_ivf_pq_index)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        ivf_pq_encode)
    emb, model = models
    path = str(tmp_path / "idx_serve")
    write_ivf_pq_index(emb.filter(F.col("vec_id") >= 100), model, path)
    refresh_ivf_pq_index(emb.filter(F.col("vec_id") < 100), model, path)
    queries = emb.filter(F.col("vec_id") < 5)
    kw = dict(k=5, m=10, nprobe=2, vectors=emb)
    served = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in knn_ivf_pq_index(spark.read.parquet(path), model,
                                  queries, **kw).collect())
    inmem = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in knn(ivf_pq_encode(emb, model), queries, codec=model,
                     quantizer=StoredCells(model.centroids, nprobe=2),
                     k=5, m=10, vectors=emb).collect())
    assert served == inmem and len(served) > 0


def test_drift_report_contract(spark, models, tmp_path):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        ivf_pq_index_drift, write_ivf_pq_index)
    emb, model = models
    path = str(tmp_path / "idx_drift")
    write_ivf_pq_index(emb, model, path)
    index = spark.read.parquet(path)
    dim = len(emb.select("embedding").first()[0])
    # 8 servable sample queries + 1 the quantizer cannot key
    queries = (emb.filter(F.col("vec_id") < 8)
               .select("vec_id", "embedding")
               .unionByName(spark.createDataFrame(
                   [(990001, [0.5] * (dim - 1))],
                   "vec_id long, embedding array<double>")))
    row = ivf_pq_index_drift(index, model, emb, queries, k=5,
                             nprobe=2, recall_floor=1.0).collect()
    assert len(row) == 1
    r = row[0]
    assert r["n_queries"] == 9
    # the malformed query is unservable — it probes nothing and emits
    # no recall row (the ann_recall universe contract)
    assert r["n_servable"] == 8
    assert 0.0 <= r["min_recall"] <= r["mean_recall"] <= 1.0
    # the flag is literally (mean_recall < floor) when anything served
    assert r["refit_recommended"] == (r["mean_recall"] < 1.0)
    ok = ivf_pq_index_drift(index, model, emb, queries, k=5,
                            nprobe=2, recall_floor=0.0).first()
    assert not ok["refit_recommended"]
    with pytest.raises(ValueError, match="recall_floor"):
        ivf_pq_index_drift(index, model, emb, queries, recall_floor=1.5)


def test_drift_report_flags_no_servable_queries(spark, models, tmp_path):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        ivf_pq_index_drift, write_ivf_pq_index)
    emb, model = models
    path = str(tmp_path / "idx_drift_none")
    write_ivf_pq_index(emb, model, path)
    dim = len(emb.select("embedding").first()[0])
    unservable = spark.createDataFrame(
        [(990001, [0.5] * (dim - 1)), (990002, None)],
        "vec_id long, embedding array<double>")
    r = ivf_pq_index_drift(spark.read.parquet(path), model, emb,
                           unservable, k=5, recall_floor=0.0).first()
    assert r["n_servable"] == 0 and r["refit_recommended"]


def test_fused_build_matches_decode_assign_recipe(spark, models, tmp_path):
    """The one-pass build (flat encode + codeword gather + nearest-
    centroid argmin fused into the write) emits EXACTLY the rows of the
    recipe it replaced — pq_encode's codes, and centroid_cells_frame
    over their pq_decode reconstructions joined back — and drops the
    same unservable rows."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        centroid_cells_frame, write_ivf_pq_index)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        pq_decode, pq_encode)
    from pyspark.sql import functions as FF
    emb, model = models
    dim = len(model.centroids[0])
    vecs = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [(880001, None), (880002, [0.5] * (dim - 1)),
             (880003, [0.5] * (dim - 1) + [None])],
            "vec_id long, embedding array<double>"))
    path = str(tmp_path / "idx_fused_parity")
    write_ivf_pq_index(vecs, model, path)
    got = sorted((r["vec_id"], tuple(r["codes"]), int(r["cell"]))
                 for r in spark.read.parquet(path).collect())
    # the reference recipe: pq_encode drops the unservable vectors,
    # then cells are keyed on the decoded reconstructions
    codes = pq_encode(vecs, model.codebooks)
    cells = centroid_cells_frame(
        codes.select("vec_id", pq_decode(FF.col("codes"), model.codebooks)
                     .alias("__dqv")),
        model.centroids, id_col="vec_id", vec_col="__dqv", cell_col="cell")
    want = sorted(
        (r["vec_id"], tuple(r["codes"]), int(r["cell"]))
        for r in codes.join(cells.select("vec_id", "cell"), "vec_id")
        .collect())
    assert got == want and len(got) > 0
    assert not any(v in (880001, 880002, 880003) for v, _, _ in got)


def test_build_raises_on_model_mismatch(spark, models, tmp_path):
    """A model whose centroids and codebooks disagree on the dimension
    cannot be built, so nothing is written; an index served with
    codebooks other than the ones it was written with fails loudly in
    the codeword gather instead of wrapping the index."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        knn_ivf_pq_index_batch, write_ivf_pq_index)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        IVFPQModel)
    emb, model = models
    bad_cents = str(tmp_path / "idx_bad_cents")
    with pytest.raises(ValueError, match="dimension"):
        write_ivf_pq_index(emb, IVFPQModel([[0.0, 1.0]], model.codebooks),
                           bad_cents)
    assert not os.path.exists(bad_cents)
    path = str(tmp_path / "idx_bad_books")
    write_ivf_pq_index(emb, model, path)
    with pytest.raises(Exception, match="codebook range"):
        # codes built with an 8-codeword model, decoded with a 2-codeword
        # slice — out-of-range gather must be loud, never a wrapped index
        small = IVFPQModel(model.centroids,
                           [cb[:2] for cb in model.codebooks])
        knn_ivf_pq_index_batch(spark.read.parquet(path), small,
                               emb.filter(F.col("vec_id") < 5), k=3,
                               nprobe=len(model.centroids)).collect()


def test_files_per_cell_spreads_hot_cells(spark, models, tmp_path):
    """files_per_cell is the hot-cell skew dial, and its contract is a
    BOUND: at most that many files per cell per build (the salt keys a
    cell across up to that many writer partitions; AQE may legally
    coalesce a small build below it). Default: exactly one file per
    cell. The single-cell index — every row in one hot cell — is where
    the salt must demonstrably split; rows are identical either way."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        write_ivf_pq_index)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        IVFPQModel)
    emb, model = models

    def layout(path):
        files = 0
        for d, _, fs in os.walk(path):
            files += sum(1 for f in fs if f.endswith(".parquet"))
        rows = sorted((r["vec_id"], tuple(r["codes"]), r["cell"])
                      for r in spark.read.parquet(path).collect())
        return rows, files

    one = str(tmp_path / "idx_fpc1")
    two = str(tmp_path / "idx_fpc2")
    write_ivf_pq_index(emb, model, one)
    write_ivf_pq_index(emb, model, two, files_per_cell=2)
    rows1, files1 = layout(one)
    rows2, files2 = layout(two)
    assert rows1 == rows2 and len(rows1) > 0
    n_cells = len({c for _, _, c in rows1})
    assert files1 == n_cells
    assert files2 <= 2 * n_cells
    # one hot cell holding the whole corpus: the salt must split it
    hot1 = str(tmp_path / "idx_hot1")
    hot4 = str(tmp_path / "idx_hot4")
    hot = IVFPQModel([model.centroids[0]], model.codebooks)
    write_ivf_pq_index(emb, hot, hot1)
    write_ivf_pq_index(emb, hot, hot4, files_per_cell=4)
    rh1, fh1 = layout(hot1)
    rh4, fh4 = layout(hot4)
    assert rh1 == rh4 and {c for _, _, c in rh4} == {0}
    assert fh1 == 1
    assert 1 < fh4 <= 4
    with pytest.raises(ValueError, match="files_per_cell"):
        write_ivf_pq_index(emb, model, str(tmp_path / "idx_fpc0"),
                           files_per_cell=0)


@pytest.mark.parametrize("fit", ["ivf_pq_fit", "ivf_pq_fit_residual"],
                         ids=["flat", "residual"])
def test_compaction_bounds_files_and_preserves_serving(spark, tmp_path,
                                                       fit):
    """After several refresh cycles each cell holds one file per cycle;
    compact_ivf_pq_index rewrites every cell partition back to ~one
    file — same rows, same cell dirs (pruning untouched), and the
    pruned serve returns the identical result set. Both codecs write the
    same layout, so one compactor serves either."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        compact_ivf_pq_index, knn_ivf_pq_index, refresh_ivf_pq_index,
        write_ivf_pq_index)
    emb = _emb(spark)
    model = _fit(emb, fit)
    path = str(tmp_path / "idx_compact")
    write_ivf_pq_index(emb.filter(F.col("vec_id") >= 300), model, path)
    for lo, hi in ((200, 300), (100, 200), (0, 100)):
        refresh_ivf_pq_index(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            model, path)

    def state(p):
        files, dirs = 0, set()
        for d, _, fs in os.walk(p):
            files += sum(1 for f in fs if f.endswith(".parquet"))
            dirs.update(x for x in (os.path.basename(d),)
                        if x.startswith("cell="))
        rows = sorted((r["vec_id"], tuple(r["codes"]), int(r["cell"]))
                      for r in spark.read.parquet(p).collect())
        return rows, files, dirs

    queries = emb.filter(F.col("vec_id") < 5)
    kw = dict(k=5, m=10, nprobe=2, vectors=emb)
    rows0, files0, dirs0 = state(path)
    served0 = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in knn_ivf_pq_index(spark.read.parquet(path), model,
                                  queries, **kw).collect())
    n_cells = len(dirs0)
    assert files0 > n_cells, "refreshes should have multiplied files"

    tel = compact_ivf_pq_index(spark, path)
    rows1, files1, dirs1 = state(path)
    assert tel["files_before"] >= files0  # _du counts sidecars too
    assert files1 == n_cells == tel["partitions"]
    assert dirs1 == dirs0 and rows1 == rows0
    out = knn_ivf_pq_index(spark.read.parquet(path), model, queries, **kw)
    served1 = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                     for r in out.collect())
    assert served1 == served0 and len(served1) > 0
    # compaction must not cost the probe pruning
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell" in ln for ln in pf), pf


def test_drift_pins_queries_at_construction(spark, models, tmp_path):
    """The whole report reads ONE collected snapshot of the queries
    frame (r10 review): rows appended to the queries source between
    construction and action must not appear in the truth side — they
    would score as served-misses and spuriously fire the refit flag."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        ivf_pq_index_drift, write_ivf_pq_index)
    emb, model = models
    idx = str(tmp_path / "idx_qpin")
    write_ivf_pq_index(emb, model, idx)
    qsrc = str(tmp_path / "queries_src")
    emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding") \
       .write.parquet(qsrc)
    report = ivf_pq_index_drift(spark.read.parquet(idx), model,
                                emb, spark.read.parquet(qsrc), k=5,
                                nprobe=2, recall_floor=1.0)
    # the race: more queries land in the source AFTER construction
    emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 40)) \
       .select("vec_id", "embedding").write.mode("append").parquet(qsrc)
    r = report.first()
    assert r["n_queries"] == 8 and r["n_servable"] == 8, r


def test_query_batch_contract_enforced(spark, models, tmp_path):
    """The serving contract is structural, not prose (r11): every
    persisted-path driver-side collect of the queries frame —
    probe-union pruning (flat + residual serve) and the drift report's
    truth pin — refuses a frame larger than ``max_query_rows`` with a
    loud ValueError BEFORE materializing it (the overage probe collects
    at most max+1 rows), and is bit-identical under the limit."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        ivf_pq_index_drift, knn_ivf_pq_index, write_ivf_pq_index)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        ivf_pq_fit_residual)
    emb, model = models
    path = str(tmp_path / "idx_contract")
    write_ivf_pq_index(emb, model, path)
    index = spark.read.parquet(path)
    queries = emb.filter(F.col("vec_id") < 5)
    kw = dict(k=5, m=10, nprobe=2, vectors=emb)

    # exactly at the limit: behavior unchanged (limit(n+1) returns all)
    base = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                  for r in knn_ivf_pq_index(index, model, queries,
                                            **kw).collect())
    at_limit = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                      for r in knn_ivf_pq_index(
                          index, model, queries, max_query_rows=5,
                          **kw).collect())
    assert at_limit == base and len(base) > 0

    # one past the limit: loud, at construction, on every collect site
    with pytest.raises(ValueError, match="max_query_rows"):
        knn_ivf_pq_index(index, model, queries, max_query_rows=4, **kw)
    with pytest.raises(ValueError, match="max_query_rows"):
        ivf_pq_index_drift(index, model, emb, queries, k=5,
                           nprobe=2, max_query_rows=4)
    rmodel = ivf_pq_fit_residual(emb, k_coarse=4, m=4, k_sub=8, iters=1)
    rpath = str(tmp_path / "idx_contract_r")
    write_ivf_pq_index(emb, rmodel, rpath)
    with pytest.raises(ValueError, match="max_query_rows"):
        knn_ivf_pq_index(spark.read.parquet(rpath), rmodel, queries,
                         max_query_rows=4, **kw)
    with pytest.raises(ValueError, match="max_query_rows"):
        knn_ivf_pq_index(index, model, queries, max_query_rows=0, **kw)
