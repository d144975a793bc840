"""PCA family (r11): one-pass covariance (oracle-certified as q94),
driver-side eigendecomposition with deterministic ordering/sign, and a
map-only projection kernel bit-identical to its Catalyst twin.

The eigendecomposition is the family's first fit an external SQL engine
cannot re-derive, so its contracts are pinned HERE: numpy-reference
parity, orthonormality, variance accounting, reconstruction-error
monotonicity, and the deterministic sign rule.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eirepolitic_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test_pca", cores=4)
    yield s


def _emb(spark):
    return (spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
            .filter(F.col("embedding").isNotNull()
                    & (F.size("embedding") > 0)
                    & ~F.exists("embedding", lambda x: x.isNull())))


def _numpy_reference(X, k, round_dp=6):
    """The pinned reference: identical rounding, ordering, and sign
    conventions as pca_fit, over the collected corpus."""
    mean = np.round(X.mean(axis=0), round_dp)
    cov = np.round((X.T @ X) / len(X)
                   - np.outer(X.mean(axis=0), X.mean(axis=0)), round_dp)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(-evals, kind="stable")[:k]
    comps = evecs[:, order].T.copy()
    for w in comps:
        j = int(np.argmax(np.abs(w)))
        if w[j] < 0:
            np.negative(w, out=w)
    return (mean, np.round(comps, round_dp),
            np.round(evals[order], round_dp))


def test_fit_matches_numpy_reference(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import pca_fit
    emb = _emb(spark)
    X = np.array([r["embedding"] for r in emb.collect()], dtype="float64")
    mean, comps, expl = pca_fit(emb, k=8)
    rmean, rcomps, rexpl = _numpy_reference(X, 8)
    assert np.allclose(mean, rmean, atol=1e-6)
    assert np.allclose(expl, rexpl, atol=1e-5)
    # rounding the distributed covariance to the grid can still flip
    # the last retained digit vs the single-machine fold on near-ties,
    # so components compare at a tolerance just above the grid
    assert np.allclose(comps, rcomps, atol=1e-4), \
        np.abs(np.array(comps) - rcomps).max()


def test_fit_contracts(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import pca_fit
    emb = _emb(spark)
    mean, comps, expl = pca_fit(emb, k=64)
    W = np.array(comps)
    # orthonormal basis (to the rounding grid)
    assert np.allclose(W @ W.T, np.eye(64), atol=1e-4)
    # eigenvalues descending, all finite
    assert all(a >= b - 1e-9 for a, b in zip(expl, expl[1:]))
    # variance accounting: Σ eigenvalues == trace(cov) == Σ var_i
    X = np.array([r["embedding"] for r in emb.collect()], dtype="float64")
    trace = np.round((X.T @ X) / len(X)
                     - np.outer(X.mean(0), X.mean(0)), 6).trace()
    assert abs(sum(expl) - trace) < 1e-3
    # sign rule: each component's largest-|coordinate| entry is positive
    for w in W:
        assert w[int(np.argmax(np.abs(w)))] > 0
    with pytest.raises(ValueError, match="k must be"):
        pca_fit(emb, k=65)
    with pytest.raises(ValueError, match="k must be"):
        pca_fit(emb, k=0)


def test_projection_kernel_matches_literal_twin(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        pca_fit, pca_project, pca_project_expr)
    emb = _emb(spark)
    mean, comps, _ = pca_fit(emb, k=6)
    got = {r["vec_id"]: tuple(r["projection"])
           for r in pca_project(emb, mean, comps).collect()}
    want = {r["vec_id"]: tuple(r["p"])
            for r in emb.select(
                "vec_id",
                pca_project_expr(F.col("embedding").cast("array<double>"),
                                 mean, comps).alias("p")).collect()}
    # bit-identical: dimension-ordered accumulation == sequential fold
    assert got == want and len(got) > 0


def test_projection_drops_unservable_and_checks_model(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        pca_fit, pca_project)
    emb = _emb(spark)
    mean, comps, _ = pca_fit(emb, k=4)
    dim = len(mean)
    tainted = (emb.select("vec_id", F.col("embedding")
                          .cast("array<double>").alias("embedding"))
               .unionByName(spark.createDataFrame(
                   [(990001, None), (990002, [0.5] * (dim - 1)),
                    (990003, [0.5] * dim + [None])],
                   "vec_id long, embedding array<double>")))
    out = pca_project(tainted, mean, comps)
    ids = {r["vec_id"] for r in out.collect()}
    assert 990001 not in ids and 990002 not in ids and 990003 not in ids
    assert len(ids) == emb.count()
    with pytest.raises(ValueError, match="mean dimension"):
        pca_project(emb, mean[:-1], comps)


def test_reconstruction_error_monotone_in_k(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        pca_fit, pca_project)
    emb = _emb(spark)
    X = np.array([r["embedding"] for r in emb.collect()], dtype="float64")

    def recon_err(k):
        mean, comps, _ = pca_fit(emb, k=k)
        W = np.array(comps)
        mu = np.array(mean)
        proj = {r["vec_id"]: np.array(r["projection"])
                for r in pca_project(emb, mean, comps).collect()}
        ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
        Y = np.stack([proj[i] for i in ids])
        Xr = Y @ W + mu
        return float(((X - Xr) ** 2).sum(axis=1).mean())

    e4, e16, e64 = recon_err(4), recon_err(16), recon_err(64)
    assert e4 > e16 > e64
    assert e64 < 1e-6  # full-k projection is a rotation — lossless


def test_whiten_unit_variance(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        pca_fit, pca_project)
    emb = _emb(spark)
    mean, comps, expl = pca_fit(emb, k=8, whiten=True)
    Y = np.stack([np.array(r["projection"]) for r in
                  pca_project(emb, mean, comps).collect()])
    # each whitened coordinate has ~unit variance (grid rounding on
    # the scaled components perturbs it slightly)
    var = Y.var(axis=0)
    assert np.allclose(var, 1.0, atol=2e-3), var
    # whitened components are eigenvectors / sqrt(eigenvalue), so the
    # Gram matrix is diag(1/eigenvalue), not the identity
    W = np.array(comps)
    assert np.allclose(np.diag(W @ W.T), 1.0 / np.array(expl), rtol=1e-3)
    # zero-variance directions refuse to whiten: constant coordinates
    # make every eigenvalue past rank-1 round to 0 on the grid
    const = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(50)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="effective rank"):
        pca_fit(const, k=2, whiten=True)


def test_covariance_contract_failures(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        covariance_frame, pca_fit)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no well-formed vectors"):
        covariance_frame(empty)
    with pytest.raises(ValueError, match="no well-formed vectors"):
        pca_fit(empty)
    # NON-empty ragged dims are a loud contract failure (the family
    # rule — _stack_batch), never a silent mis-fold
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="ragged|dimensions"):
        covariance_frame(ragged).collect()


def test_knn_pca_rerank_exact_at_full_m(spark):
    """m >= |corpus|-1 keeps every row in stage 1, so the reduced-space
    proxy ranking is irrelevant and the output must be EXACTLY
    the exhaustive knn — same rows, same cosines, same ranks."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        Projection, knn)
    from eirepolitic_data_pipeline_spark.operators.vectors import pca_fit
    emb = _emb(spark)
    queries = emb.orderBy("vec_id").limit(5)
    mean, comps, _ = pca_fit(emb, k=4)
    n = emb.count()
    got = sorted(tuple(r) for r in knn(
        emb, queries, k=3, codec=Projection(mean, comps), m=n,
        vectors=emb).collect())
    want = sorted(tuple(r) for r in knn(emb, queries, k=3).collect())
    assert got == want and len(got) == 15


def test_knn_pca_rerank_recall_at_default_m(spark):
    """Default m=4k in a 32-of-64-dim reduced space (65% variance
    captured on the fixture corpus): the proxy stage must recover
    nearly all true top-k neighbors. Measured 0.94 at pin time; the
    floor leaves jitter margin. k'=16 (38% variance) measures 0.52 at
    the same m — the m-vs-k' recall trade is real and data-dependent,
    which is exactly why ann_recall telemetry exists."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        Projection, knn)
    from eirepolitic_data_pipeline_spark.operators.vectors import pca_fit
    emb = _emb(spark)
    queries = emb.orderBy("vec_id").limit(10)
    mean, comps, _ = pca_fit(emb, k=32)
    got = {(r["query_id"], r["neighbor_id"]) for r in knn(
        emb, queries, k=5, codec=Projection(mean, comps),
        vectors=emb).collect()}
    truth = {(r["query_id"], r["neighbor_id"]) for r in knn(
        emb, queries, k=5).collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.85, recall


def test_moments_algebra_fuzz():
    """Pure-driver property: merge_moments is order-insensitive and
    partition-insensitive up to float reassociation — any split of a
    row set folds to the monolithic statistic, and a permutation of
    the merge order changes nothing beyond reassociation error. (The
    Spark-side halves of the contract are pinned against real frames
    in test_incremental_moments_match_monolithic_fit.)"""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from eirepolitic_data_pipeline_spark.operators.vectors import (
        merge_moments)

    def mom(rows):
        X = np.asarray(rows, dtype="float64")
        return {"n": float(len(X)),
                "s": X.sum(axis=0).tolist(),
                "S": (X.T @ X).tolist()}

    vals = st.floats(min_value=-100, max_value=100,
                     allow_nan=False, allow_infinity=False)

    @settings(max_examples=100, deadline=None)
    @given(rows=st.lists(st.tuples(vals, vals, vals), min_size=1,
                         max_size=30),
           cut=st.integers(min_value=0, max_value=29),
           flip=st.booleans())
    def check(rows, cut, flip):
        cut = min(cut, len(rows))
        parts = [rows[:cut], rows[cut:]]
        parts = [p for p in parts if p]
        if flip:
            parts = parts[::-1]
        merged = merge_moments(*[mom(p) for p in parts])
        mono = mom(rows)
        assert merged["n"] == mono["n"]
        assert np.allclose(merged["s"], mono["s"],
                           rtol=1e-9, atol=1e-9)
        assert np.allclose(merged["S"], mono["S"],
                           rtol=1e-9, atol=1e-9)

    check()


def test_moments_drift_report_metrics(spark):
    """Each metric isolates its drift mode: identical statistics report
    exactly zero/one; a pure translation moves ONLY mean_shift_l2 (a
    constant offset is invisible to covariance); a pure scaling moves
    trace_ratio by the variance factor."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        moments_drift_report, pca_moments)
    emb = _emb(spark)
    m = pca_moments(emb)
    same = moments_drift_report(m, m)
    assert same["mean_shift_l2"] == 0.0
    assert same["cov_fro_delta"] == 0.0
    assert same["trace_ratio"] == 1.0
    assert same["n_reference"] == same["n_current"] == m["n"]
    # translation: +5 on every axis -> mean shift 5*sqrt(64)=40, cov flat
    shifted = emb.select(
        "vec_id", F.transform(F.col("embedding").cast("array<double>"),
                              lambda x: x + F.lit(5.0)).alias("embedding"))
    rep = moments_drift_report(m, pca_moments(shifted))
    assert abs(rep["mean_shift_l2"] - 40.0) < 1e-3, rep
    assert rep["cov_fro_delta"] < 1e-2
    assert abs(rep["trace_ratio"] - 1.0) < 1e-3
    # scaling: x2 on every axis -> variance x4, means double
    scaled = emb.select(
        "vec_id", F.transform(F.col("embedding").cast("array<double>"),
                              lambda x: x * F.lit(2.0)).alias("embedding"))
    rep2 = moments_drift_report(m, pca_moments(scaled))
    assert abs(rep2["trace_ratio"] - 4.0) < 1e-3, rep2
    assert rep2["mean_shift_l2"] > 0
    # contract failures: ragged spaces, degenerate reference
    with pytest.raises(ValueError, match="dimensions differ"):
        moments_drift_report(m, {"n": 1.0, "s": [0.0], "S": [[0.0]]})
    const = {"n": 10.0, "s": [10.0, 20.0], "S": [[10.0, 20.0],
                                                 [20.0, 40.0]]}
    with pytest.raises(ValueError, match="zero total variance"):
        moments_drift_report(const, const)


def test_rp_components_contract_and_jl_distortion(spark):
    """The static JL model: ±1/√k entries, deterministic in (dim, k,
    seed), and distance-preserving in expectation — squared-distance
    ratios center on 1 (measured median 1.04 at k=32 on the fixture;
    the pin brackets the Achlioptas bound loosely)."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        pca_project, rp_components)
    W = np.array(rp_components(64, 32))
    assert W.shape == (32, 64)
    assert np.allclose(np.abs(W), 1 / np.sqrt(32))
    assert rp_components(64, 32) == rp_components(64, 32)
    assert rp_components(64, 32) != rp_components(64, 32, seed="other")
    with pytest.raises(ValueError, match="must be >= 1"):
        rp_components(64, 0)
    emb = _emb(spark)
    X = np.array([r["embedding"] for r in emb.limit(200).collect()],
                 dtype="float64")
    Y = X @ W.T
    pairs = [(i, j) for i in range(0, len(X), 7)
             for j in range(1, len(X), 13) if i < j][:500]
    ratios = [np.sum((Y[i] - Y[j]) ** 2) / np.sum((X[i] - X[j]) ** 2)
              for i, j in pairs]
    med = float(np.median(ratios))
    assert 0.8 <= med <= 1.25, med
    assert min(ratios) >= 0.3 and max(ratios) <= 2.2, (
        min(ratios), max(ratios))
    # the model plugs into the shared projection kernel with mean=0
    got = {r["vec_id"]: np.array(r["projection"]) for r in
           pca_project(emb, [0.0] * 64, W.tolist()).collect()}
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    full = np.array([r["embedding"] for r in emb.collect()],
                    dtype="float64") @ W.T
    assert np.allclose(np.stack([got[i] for i in ids]), full, atol=1e-9)


def test_incremental_moments_match_monolithic_fit(spark):
    """The sufficient-statistic lifecycle: moments folded per-half and
    merged driver-side must refit to the same model as the monolithic
    pass (the grid is applied at fit time, so merge order cannot
    compound rounding — only grid-edge summation ties remain)."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        merge_moments, pca_fit, pca_fit_from_moments, pca_moments)
    emb = _emb(spark)
    halves = [emb.filter(F.col("vec_id") % 2 == i) for i in (0, 1)]
    merged = merge_moments(*[pca_moments(h) for h in halves])
    got = pca_fit_from_moments(merged, k=8)
    want = pca_fit(emb, k=8)
    assert np.allclose(got[0], want[0], atol=2e-6)      # mean
    assert np.allclose(got[2], want[2], atol=1e-5)      # explained
    assert np.allclose(got[1], want[1], atol=1e-4)      # components
    # moments are exactly additive: n and the raw sums agree with the
    # monolithic pass to float-sum reassociation
    mono = pca_moments(emb)
    assert merged["n"] == mono["n"]
    assert np.allclose(merged["s"], mono["s"], rtol=1e-12)
    assert np.allclose(merged["S"], mono["S"], rtol=1e-12)
    # ragged merge fails loudly
    with pytest.raises(ValueError, match="dimensions differ"):
        merge_moments(merged, {"n": 1.0, "s": [0.0], "S": [[0.0]]})
    with pytest.raises(ValueError, match="nothing to merge"):
        merge_moments()


def test_correlation_frame_matches_numpy_and_nulls_constants(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        correlation_frame)
    emb = _emb(spark)
    X = np.array([r["embedding"] for r in emb.collect()], dtype="float64")
    ref = np.corrcoef(X.T)
    rows = correlation_frame(emb).collect()
    dim = X.shape[1]
    assert len(rows) == dim * (dim + 1) // 2
    for r in rows:
        if r["i"] == r["j"]:
            assert r["corr"] == 1.0
        else:
            # grid rounding of cov cells before the ratio perturbs the
            # last retained digits vs the unrounded numpy path
            assert abs(r["corr"] - ref[r["i"], r["j"]]) < 5e-4, \
                (r["i"], r["j"], r["corr"], ref[r["i"], r["j"]])
    # a constant coordinate has zero grid variance: its whole row and
    # column NULL rather than claiming a correlation (incl. diagonal)
    aug = emb.select(
        "vec_id",
        F.concat(F.col("embedding").cast("array<double>"),
                 F.array(F.lit(7.0))).alias("embedding"))
    aug_rows = correlation_frame(aug).collect()
    last = dim  # index of the appended constant coordinate
    for r in aug_rows:
        if r["i"] == last or r["j"] == last:
            assert r["corr"] is None, (r["i"], r["j"], r["corr"])
        elif r["i"] == r["j"]:
            assert r["corr"] == 1.0


def test_covariance_frame_matches_numpy(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        covariance_frame)
    emb = _emb(spark)
    X = np.array([r["embedding"] for r in emb.collect()], dtype="float64")
    cov = np.round((X.T @ X) / len(X)
                   - np.outer(X.mean(0), X.mean(0)), 6)
    rows = covariance_frame(emb).collect()
    dim = X.shape[1]
    assert len(rows) == dim * (dim + 1) // 2
    for r in rows:
        assert r["i"] <= r["j"]
        assert abs(r["cov"] - cov[r["i"], r["j"]]) <= 2e-6, \
            (r["i"], r["j"], r["cov"], cov[r["i"], r["j"]])
