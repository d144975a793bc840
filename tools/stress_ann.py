"""ANN-family scale stress: proves the similarity-search stack keeps its
documented 100 TB shape at 1M vectors — candidate generation stays a
bounded fraction of the corpus (never a full scan per query), the trained
quantizer fits and buckets through the shuffle-free Arrow kernel, recall
telemetry orders the index families the way their docstrings claim, and
the quantized two-stage serving path stays exact where m covers the truth.

What it checks:

1. **Hashed-plane LSH candidate bound** (1M x 64, 50 queries, 10 planes,
   multiprobe) — the per-query candidate set is the sum of its probe
   buckets' sizes, measured exactly from the bucket histogram: the mean
   scanned fraction must stay under 5% of the corpus (the whole point of
   an index), and the top-k join must return k rows per query.
2. **Trained-centroid IVF at scale** (kernel fit k=16 on the full 1M,
   one Lloyd round) — fit wall, every centroid used, and the assignment
   histogram's max cell stays within 10x the mean (the corpus is
   near-uniform; a collapsed fit would funnel everything into one cell).
3. **Recall ordering** (100k slice, 10 queries, k=10) — mean recall:
   trained-IVF nprobe=3 >= fixed-grid one-cell floor, and multiprobe
   sign-LSH >= single-probe sign-LSH. Brute-force truth is the expensive
   part; the slice keeps it linear-bounded.
4. **Quantized rerank exactness envelope** (200k corpus, 10 queries,
   k=10) — recall vs exact brute force is monotone in m (m=40 >= m=10)
   and >= 0.9 at m=40: int8 reconstruction error must not move the true
   top-10 out of a 4x candidate margin.
5. **IVF-PQ composed candidate cut** (200k corpus, k=16 cells,
   nprobe=2) — the scored fraction is priced exactly from the cell
   histogram and recall vs exact is reported beside it.
6. **Real PQ codec at scale** (r9) — fused ``pq_fit`` at the 8-bit PQ
   standard (m=8 x k=256, one kernel pass per Lloyd round) over the
   FULL corpus, then the ADC serving envelope on the rerank slice
   against the same exact set as the int8 row: recall monotone in m
   and >= 0.5 at m=40. (An under-provisioned k=16 codebook measured
   recall ~0 here — log2(k) bits per subspace is the capacity law, and
   this quasi-uniform corpus is the hard case for it.)
7. **Persisted-index maintenance** (r10) — build the cell-partitioned
   index over 95% of the corpus, append the last 5% via
   ``refresh_ivf_pq_index`` (frozen models), serve with the probe union
   as a partition filter, and run the drift report on the affordable
   slice: no row lost, resident files untouched (size+mtime) with the new
   files holding exactly the delta's rows (cost tracks |delta| — asserted on
   the files, since local wall clocks are fixed-overhead-dominated),
   serving scan pruned, drift flag consistent with its floor.
8. **Residual vs flat codec quality** (r10) — train the residual
   codebooks at check 6's exact budget (m=8 x k=256) against check 2's
   coarse model and hold the exhaustive ADC envelope on the rerank
   slice against the SAME exact set: recall must be monotone in m and
   the m=40 recall must be >= the flat codec's at identical stored
   bytes — the measured case for residual encoding.
9. **Residual-index maintenance** (r11) — check 7's steady-state loop
   for the RESIDUAL codec: build ``write_ivf_pq_index`` over 95% of
   the corpus with check 8's residual model, append the last 5% via
   ``refresh_ivf_pq_index`` (frozen model), and assert the same
   file-level contract — resident files untouched (size+mtime), new
   files hold exactly the delta's rows, no row lost, and the pruned
   serve still reads only the probed cells' files.
10. **Batch serving at scale** (r11) — the offline path's two
    structural claims held at 1M: probing is a map-only Arrow kernel
    (100k queries exploded by their nprobe cells, no driver collect —
    wall measured), and a 200-query batch served through
    ``knn_ivf_pq_index_batch`` returns exactly k rows per query with
    the candidate volume priced from the cell histogram (check 5's
    arithmetic, applied to the batch).
11. **Refit flag FIRES under real drift** (r11) — check 7's drift row
    sits exactly at its floor (healthy index, refit False); this one
    closes the loop's True branch at scale: append an
    out-of-distribution delta (constant-offset cluster far outside the
    codebooks' training range) through the frozen-model refresh, query
    from the drifted region, and require measured recall to sag below
    the healthy baseline AND ``refit_recommended`` to go True — the
    signal an append-only deployment actually rebuilds on.
12. **PCA at scale** (r11) — one moment-kernel pass fits the full-corpus
    covariance; its eigenvalue sum must match an INDEPENDENT Catalyst
    per-coordinate variance aggregate (the trace); the projection
    kernel covers the corpus; and the PCA-reduced two-stage serving
    path (``knn`` with the ``Projection`` codec) holds its recall-vs-m
    envelope on the rerank slice against the same exact set as the
    codec rows.

Rewrites only its own section of STRESS.md (``--out``); exits non-zero on
any violated bound. Standalone; not part of the per-round bench.

Usage::

    python tools/stress_ann.py [--vectors 1000000] [--out STRESS.md]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from eirepolitic_data_pipeline_spark.operators.similarity import (  # noqa: E402
    Centroids, Grid, Int8, SignLSH, ann_recall, centroid_cells_frame,
    centroid_probe_ranks, knn)
from eirepolitic_data_pipeline_spark.operators.vectors import (  # noqa: E402
    kmeans_fit, quantize_int8)
from eirepolitic_data_pipeline_spark.session import get_spark  # noqa: E402

SECTION = "## ANN-family scale stress (tools/stress_ann.py)"

N_BITS = 10
K = 10


def build_ann_vectors(spark, n: int, dim: int, path: str):
    """n deterministic FULL-RANK 64-dim vectors: v[i] = sin((id+1)(i+1)φ).

    stress_profiling's sin-grid corpus (sin(id·dim + i)) is deliberately
    NOT reused here: by the angle-addition identity it spans a TWO
    dimensional subspace (a circle in R^64), and any hyperplane family
    cuts a circle into at most ~2·planes arcs — so no LSH, however good,
    can bucket it below ~1/(2·bits) of the corpus per probe. Bucket
    balance is governed by the corpus's INTRINSIC dimension, and a
    production embedding space is high-rank; the id×dim product phase
    makes this one high-rank while staying engine-reproducible (no RNG)."""
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    phi = 0.6180339887498949
    (spark.range(n)
     .select(F.col("id").alias("vec_id"),
             F.transform(idx, lambda i: F.sin(
                 (F.col("id") + 1).cast("double") * (i + 1) * phi))
             .alias("embedding"))
     .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--vectors", type=int, default=1_000_000)
    ap.add_argument("--recall-slice", type=int, default=100_000)
    ap.add_argument("--rerank-slice", type=int, default=200_000)
    ap.add_argument("--queries", type=int, default=50)
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "STRESS.md"))
    args = ap.parse_args()

    spark = get_spark("stress_ann")
    cores = spark.sparkContext.defaultParallelism
    failures: list[str] = []
    lines: list[str] = []

    with tempfile.TemporaryDirectory() as tmp:
        corpus = build_ann_vectors(spark, args.vectors, 64,
                                   os.path.join(tmp, "vecs"))
        queries = corpus.filter(F.col("vec_id") < args.queries)

        # 1. LSH candidate bound: measured from the bucket histogram, not
        # sampled — candidates(query) = sum over its probe buckets. The
        # sin-grid corpus has strongly CORRELATED axes (adjacent dims
        # differ by one radian), which is exactly the case the
        # axis-aligned sign_lsh_bucket docstring routes to
        # hashed_projection_bucket: measured here, the axis-aligned
        # buckets land ~15% of the corpus per query while the hashed
        # planes stay in-bound — the stress pins the hashed-plane shape
        # a correlated production embedding space would serve with.
        lsh = SignLSH(n_bits=N_BITS, probe_flips=True, dim=64)

        t0 = time.perf_counter()
        hist = (corpus
                .select(lsh.key(F.col("embedding")).alias("bucket"))
                .groupBy("bucket").count().collect())
        sizes = {r["bucket"]: r["count"] for r in hist}
        topk = knn(corpus, queries, K, quantizer=lsh)
        per_query = (topk.groupBy("query_id")
                     .agg(F.count(F.lit(1)).alias("n")).collect())
        t_lsh = round(time.perf_counter() - t0, 1)
        qrows = {r["bucket"]: r["count"] for r in (
            queries.select(lsh.key(F.col("embedding"))
                           .alias("bucket")).groupBy("bucket").count()
            .collect())}

        def probes(bucket: str) -> list[str]:
            flips = [bucket[:i]
                     + ("0" if bucket[i] == "1" else "1")
                     + bucket[i + 1:] for i in range(N_BITS)]
            return [bucket] + flips

        scanned = [sum(sizes.get(p, 0) for p in probes(b)) * nq
                   for b, nq in qrows.items()]
        frac = sum(scanned) / (args.queries * args.vectors)
        lsh_ok = frac <= 0.05 and all(r["n"] == K for r in per_query) \
            and len(per_query) == args.queries
        if not lsh_ok:
            failures.append(
                f"hashed-plane LSH: scanned fraction {frac:.4f} or short results "
                f"({len(per_query)} queries)")
        lines.append(
            f"| hashed-plane LSH multiprobe top-{K} ({args.vectors} x 64, "
            f"{args.queries} queries, {N_BITS} bits) | {t_lsh} | "
            f"{len(per_query)} x {K} neighbors | mean scanned fraction "
            f"{frac:.4f} of corpus (<= 0.05): "
            f"{'PASS' if lsh_ok else 'FAIL'} |")

        # 2. trained IVF at scale: kernel fit on the FULL corpus, corpus
        # bucketed through centroid_cells_frame (r9) — the production
        # frame-level path q82/q84 serve with (the literal centroid_cells
        # expression is parity-pinned to it and stays covered by the
        # fixture tests; at 1M x 64 with k=16 the interpreted expression
        # was the dominant term of this row's wall)
        t0 = time.perf_counter()
        cents = kmeans_fit(corpus, k=16, iters=1)
        cells = (centroid_cells_frame(corpus, cents)
                 .groupBy("__cell").count().collect())
        t_fit = round(time.perf_counter() - t0, 1)
        counts = [r["count"] for r in cells]
        balance = max(counts) / (sum(counts) / len(counts))
        fit_ok = len(counts) == 16 and balance <= 10.0
        if not fit_ok:
            failures.append(f"IVF fit: {len(counts)} cells used, "
                            f"max/mean {balance:.2f}")
        lines.append(
            f"| trained-IVF fit+bucket ({args.vectors} x 64, k=16, kernel "
            f"assignment) | {t_fit} | {len(counts)}/16 cells used | max "
            f"cell / mean {balance:.2f} (<= 10): "
            f"{'PASS' if fit_ok else 'FAIL'} |")

        # 3. recall ordering on the brute-force-affordable slice
        sl = corpus.filter(F.col("vec_id") < args.recall_slice)
        qs = sl.filter(F.col("vec_id") < 10)
        t0 = time.perf_counter()
        slc = kmeans_fit(sl, k=16, iters=1)

        def mean_recall(quantizer) -> float:
            return (ann_recall(sl, qs, K, quantizer=quantizer)
                    .agg(F.avg("recall")).first()[0])

        r_tr = mean_recall(Centroids(slc, nprobe=3))
        r_grid = mean_recall(Grid())
        r_multi = mean_recall(SignLSH(n_bits=8, probe_flips=True))
        r_single = mean_recall(SignLSH(n_bits=8))
        t_rec = round(time.perf_counter() - t0, 1)
        rec_ok = r_tr >= r_grid and r_multi >= r_single
        if not rec_ok:
            failures.append(
                f"recall ordering: trained {r_tr:.3f} vs grid "
                f"{r_grid:.3f}; multi {r_multi:.3f} vs single "
                f"{r_single:.3f}")
        lines.append(
            f"| recall ordering ({args.recall_slice} slice, 10 queries, "
            f"k={K}) | {t_rec} | trained {r_tr:.3f} >= grid {r_grid:.3f}; "
            f"multiprobe {r_multi:.3f} >= single {r_single:.3f} | "
            f"{'PASS' if rec_ok else 'FAIL'} |")

        # 4. quantized rerank exactness envelope
        rl = corpus.filter(F.col("vec_id") < args.rerank_slice)
        rq = rl.filter(F.col("vec_id") < 10)
        t0 = time.perf_counter()
        quantized = quantize_int8(rl).select("vec_id", "scale", "qvec")

        exact = {(r["query_id"], r["neighbor_id"])
                 for r in knn(rl, rq, K).collect()}

        def rr_recall(m: int) -> float:
            got = {(r["query_id"], r["neighbor_id"])
                   for r in knn(quantized, rq, K, codec=Int8(), m=m,
                                vectors=rl).collect()}
            return len(got & exact) / len(exact)

        rec10 = rr_recall(10)
        rec40 = rr_recall(40)
        t_rr = round(time.perf_counter() - t0, 1)
        rr_ok = rec40 >= rec10 and rec40 >= 0.9
        if not rr_ok:
            failures.append(
                f"quantized rerank: recall m=40 {rec40:.3f} vs m=10 "
                f"{rec10:.3f}")
        lines.append(
            f"| quantized rerank ({args.rerank_slice} corpus, 10 queries, "
            f"k={K}) | {t_rr} | recall vs exact: m=10 {rec10:.3f}, m=40 "
            f"{rec40:.3f} | monotone in m and >= 0.9 at m=40: "
            f"{'PASS' if rr_ok else 'FAIL'} |")

        # 5. full IVF-PQ composition: the candidate CUT is derived exactly
        # from the fitted cell histogram (scored rows per query = the
        # population of its nprobe probed cells), and recall vs exact is
        # reported for what the cut trades away
        t0 = time.perf_counter()
        rcents = kmeans_fit(rl, k=16, iters=1)
        got = {(r["query_id"], r["neighbor_id"])
               for r in knn(quantized, rq, K, codec=Int8(),
                            quantizer=Centroids(rcents, nprobe=2), m=40,
                            vectors=rl).collect()}
        pq_recall = len(got & exact) / len(exact)
        # histogram via the Arrow assignment kernel (parity-pinned to the
        # centroid_cells expression, which is interpreted and ~100 s at
        # this scale)
        from eirepolitic_data_pipeline_spark.operators.vectors import (
            _assign, _well_formed_vectors)
        cell_hist = {str(r["cluster"]): r["count"] for r in (
            _assign(_well_formed_vectors(rl, "embedding", "vec_id"),
                    rcents, keep_vectors=False)
            .groupBy("cluster").count().collect())}
        probe_rows = rq.select(
            centroid_probe_ranks(F.col("embedding"), rcents, nprobe=2)
            .alias("p")).collect()
        scanned_pq = sum(sum(cell_hist.get(c, 0) for c in r["p"])
                         for r in probe_rows) / (10 * args.rerank_slice)
        t_pq = round(time.perf_counter() - t0, 1)
        pq_ok = scanned_pq <= 0.5 and pq_recall >= 0.5
        if not pq_ok:
            failures.append(
                f"ivf-pq: scanned fraction {scanned_pq:.3f} or recall "
                f"{pq_recall:.3f}")
        lines.append(
            f"| IVF-PQ composed ({args.rerank_slice} corpus, k=16 cells, "
            f"nprobe=2) | {t_pq} | recall vs exact {pq_recall:.3f}; "
            f"scored fraction {scanned_pq:.3f} of corpus (exact, from the "
            f"cell histogram) | candidate cut <= 0.5 and recall >= 0.5: "
            f"{'PASS' if pq_ok else 'FAIL'} |")

        # 6. real product quantization at scale (r9): fused fit (one
        # kernel pass per Lloyd round for ALL m subspaces) on the full
        # corpus, then the ADC serving envelope on the rerank slice —
        # recall vs the SAME exact set as check 4, so int8 vs PQ
        # candidate quality is directly comparable in this table. The
        # configuration is the 8-bit PQ STANDARD (k=256 codewords per
        # subspace, one byte per code): PQ carries log2(k) bits per
        # subspace, and an under-provisioned codebook on a high-rank
        # corpus carries ~no ranking signal — k=16 (4 bits per 16-dim
        # subspace) measured recall 0.0-0.1 on THIS quasi-uniform
        # corpus while k=256 reconstructs to ~5% residual energy; the
        # capacity trade is a corpus property, which is exactly why the
        # codebooks are trained, not fixed.
        from eirepolitic_data_pipeline_spark.operators.similarity import PQ
        from eirepolitic_data_pipeline_spark.operators.vectors import (
            pq_encode, pq_fit)
        t0 = time.perf_counter()
        books = pq_fit(corpus, m=8, k=256, iters=1)
        codes = pq_encode(rl, books)

        def pq_rr_recall(m: int) -> float:
            got = {(r["query_id"], r["neighbor_id"])
                   for r in knn(codes, rq, K, codec=PQ(books), m=m,
                                vectors=rl).collect()}
            return len(got & exact) / len(exact)

        pq10 = pq_rr_recall(10)
        pq40 = pq_rr_recall(40)
        t_pqc = round(time.perf_counter() - t0, 1)
        pqc_ok = pq40 >= pq10 and pq40 >= 0.5
        if not pqc_ok:
            failures.append(
                f"pq codec: recall m=40 {pq40:.3f} vs m=10 {pq10:.3f}")
        lines.append(
            f"| PQ codec fit ({args.vectors} x 64, m=8 x k=256 — the "
            f"8-bit standard, fused kernel) + ADC serving "
            f"({args.rerank_slice} corpus) | "
            f"{t_pqc} | recall vs exact: m=10 {pq10:.3f}, m=40 "
            f"{pq40:.3f} (codes table: 8 bytes/row vs 512) | "
            f"monotone in m and >= 0.5 at m=40: "
            f"{'PASS' if pqc_ok else 'FAIL'} |")

        # 8-prep shares check 2's coarse model (cents == the
        # kmeans_fit(k=16) recipe ivf_pq_fit_residual would re-run) —
        # declared here so check 7 can keep its flat focus
        # 7. persisted-index maintenance at scale (r10): build the
        # cell-partitioned index over 95% of the FULL corpus, append the
        # remaining 5% through refresh_ivf_pq_index (frozen models —
        # cost must track |delta|, never |index|), then (a) serve from
        # the refreshed index with the probe union as a PARTITION filter
        # and (b) run the drift report on the brute-force-affordable
        # slice against check 4's exact set. The append path's
        # byte-equivalence to a full rebuild is pytest-pinned
        # (test_index_maintenance.py); here the bounds are the SCALE
        # claims: no row lost at 1M, refresh wall a small fraction of
        # build wall, and the serving scan pruned, not full.
        from eirepolitic_data_pipeline_spark.operators.similarity import (
            ivf_pq_index_drift, knn_ivf_pq_index, write_ivf_pq_index,
            refresh_ivf_pq_index)
        from eirepolitic_data_pipeline_spark.operators.vectors import (
            IVFPQModel)
        model = IVFPQModel(cents, books)
        # the drift slice's model: check 6's books + check 5's slice
        # centroids
        slice_model = IVFPQModel(rcents, books)
        delta_n = args.vectors // 20
        idx_path = os.path.join(tmp, "ivf_pq_index")
        t0 = time.perf_counter()
        write_ivf_pq_index(corpus.filter(F.col("vec_id") >= delta_n),
                           model, idx_path)
        t_build = round(time.perf_counter() - t0, 1)

        def _files(root):
            out = {}
            for d, _, fs in os.walk(root):
                for f in fs:
                    if f.endswith(".parquet"):
                        p = os.path.join(d, f)
                        st = os.stat(p)
                        # size AND mtime: an in-place rewrite of a
                        # resident file with identical byte length
                        # (same rows re-written) must still fail the
                        # append-only assertion (r10 review)
                        out[p] = (st.st_size, st.st_mtime_ns)
            return out

        before = _files(idx_path)
        t0 = time.perf_counter()
        refresh_ivf_pq_index(corpus.filter(F.col("vec_id") < delta_n),
                             model, idx_path)
        t_refresh = round(time.perf_counter() - t0, 1)
        after = _files(idx_path)
        # the append-only contract, measured on the FILES (wall clocks at
        # local scale are fixed-overhead-dominated, so "cost tracks
        # |delta|" is asserted on what was actually written): every
        # resident file survives untouched (size AND mtime), and the
        # NEW files hold exactly the delta's rows
        import pyarrow.parquet as papq
        resident_ok = all(after.get(p) == st for p, st in before.items())
        new_rows = sum(papq.ParquetFile(p).metadata.num_rows
                       for p in after if p not in before)
        index = spark.read.parquet(idx_path)
        n_rows = index.count()
        served = knn_ivf_pq_index(index, model, rq, K, nprobe=2, m=40,
                                  vectors=corpus)
        plan = served._jdf.queryExecution().executedPlan().toString()
        pruned = any("PartitionFilters" in ln and "cell" in ln
                     for ln in plan.splitlines())
        n_served = served.count()
        # drift report on the affordable slice (truth is the linear
        # cost): its own small index of the rerank slice
        idx2 = os.path.join(tmp, "ivf_pq_index_slice")
        write_ivf_pq_index(rl, slice_model, idx2)
        drift = ivf_pq_index_drift(
            spark.read.parquet(idx2), slice_model, rl, rq, k=K,
            nprobe=2, m=40, recall_floor=0.5).first()
        t_maint = round(time.perf_counter() - t0, 1)
        maint_ok = (n_rows == args.vectors and pruned
                    and n_served == 10 * K
                    and resident_ok and new_rows == delta_n
                    and drift["n_servable"] == 10
                    and drift["refit_recommended"]
                    == (drift["mean_recall"] < 0.5))
        if not maint_ok:
            failures.append(
                f"index maintenance: rows {n_rows}/{args.vectors}, "
                f"pruned {pruned}, served {n_served}, resident intact "
                f"{resident_ok}, new-file rows {new_rows}/{delta_n}, "
                f"drift {dict(drift.asDict())}")
        # mean_recall is NULL when nothing was servable — the FAIL row
        # must still render instead of dying on a None format (r10
        # review)
        mr = drift["mean_recall"]
        mr_s = f"{mr:.3f}" if mr is not None else "null"
        lines.append(
            f"| persisted-index maintenance ({args.vectors} rows, 5% "
            f"delta append, nprobe=2 serve) | {t_maint} | build "
            f"{t_build}s, refresh {t_refresh}s (fixed-overhead-bound "
            f"at local scale; volume asserted on files), drift mean "
            f"recall {mr_s} (refit: "
            f"{drift['refit_recommended']}) | no row lost, resident "
            f"files untouched (size+mtime), new files hold exactly the "
            f"{delta_n} delta rows, serve scan partition-pruned: "
            f"{'PASS' if maint_ok else 'FAIL'} |")

        # 8. residual vs flat codec quality at scale (r10): train the
        # residual codebooks (same m=8 x k=256 budget as check 6's flat
        # books) on the FULL corpus's residuals against check 2's k=16
        # coarse model, then hold the exhaustive ADC envelope on the
        # rerank slice against the SAME exact set — recall at identical
        # stored bytes is the quantitative case for residual encoding
        # (the coarse centroids absorb the corpus's large-scale
        # structure, so the codebooks spend their codewords on a
        # tighter cell of space).
        from eirepolitic_data_pipeline_spark.operators.similarity import (
            StoredCells)
        from eirepolitic_data_pipeline_spark.operators.vectors import (
            _residual_frame, _well_formed_vectors, ivf_pq_encode)
        t0 = time.perf_counter()
        corpus_wf = _well_formed_vectors(corpus, "embedding", "vec_id")
        books_r = pq_fit(_residual_frame(corpus_wf, cents), m=8, k=256,
                         iters=1, vec_col="__v", id_col="vec_id")
        model_r = IVFPQModel(cents, books_r, residual=True)
        codes_r = ivf_pq_encode(rl, model_r)

        def rpq_recall(m: int) -> float:
            got = {(r["query_id"], r["neighbor_id"])
                   for r in knn(
                       codes_r, rq, K, codec=model_r,
                       quantizer=StoredCells(cents, nprobe=len(cents)),
                       m=m, vectors=rl).collect()}
            return len(got & exact) / len(exact)

        rq10 = rpq_recall(10)
        rq40 = rpq_recall(40)
        t_rpq = round(time.perf_counter() - t0, 1)
        rpq_ok = rq40 >= rq10 and rq40 >= pq40
        if not rpq_ok:
            failures.append(
                f"residual codec: recall m=40 {rq40:.3f} vs flat "
                f"{pq40:.3f}, m=10 {rq10:.3f}")
        lines.append(
            f"| residual codec ({args.vectors} x 64 residual fit vs "
            f"check 2's k=16 coarse model, m=8 x k=256) + exhaustive "
            f"ADC ({args.rerank_slice} corpus) | {t_rpq} | recall vs "
            f"exact: m=10 {rq10:.3f}, m=40 {rq40:.3f} (flat row: "
            f"{pq10:.3f}/{pq40:.3f} at identical code size) | "
            f"monotone in m and m=40 >= flat m=40: "
            f"{'PASS' if rpq_ok else 'FAIL'} |")

        # 9. residual-index maintenance at scale (r11): check 7's loop
        # for the residual codec — the refresh encodes ONLY the delta
        # with the frozen residual model. Same file-level contract,
        # asserted the same way.
        idx_r = os.path.join(tmp, "ivf_rpq_index")
        t0 = time.perf_counter()
        write_ivf_pq_index(corpus.filter(F.col("vec_id") >= delta_n),
                           model_r, idx_r)
        t_build_r = round(time.perf_counter() - t0, 1)
        before_r = _files(idx_r)
        t0 = time.perf_counter()
        refresh_ivf_pq_index(corpus.filter(F.col("vec_id") < delta_n),
                             model_r, idx_r)
        t_refresh_r = round(time.perf_counter() - t0, 1)
        after_r = _files(idx_r)
        resident_r_ok = all(after_r.get(p) == st
                            for p, st in before_r.items())
        new_rows_r = sum(papq.ParquetFile(p).metadata.num_rows
                         for p in after_r if p not in before_r)
        index_r = spark.read.parquet(idx_r)
        n_rows_r = index_r.count()
        served_r = knn_ivf_pq_index(index_r, model_r, rq, K, nprobe=2,
                                    m=40, vectors=corpus)
        plan_r = served_r._jdf.queryExecution().executedPlan().toString()
        pruned_r = any("PartitionFilters" in ln and "cell" in ln
                       for ln in plan_r.splitlines())
        n_served_r = served_r.count()
        t_maint_r = round(time.perf_counter() - t0, 1)
        maint_r_ok = (n_rows_r == args.vectors and pruned_r
                      and n_served_r == 10 * K
                      and resident_r_ok and new_rows_r == delta_n)
        if not maint_r_ok:
            failures.append(
                f"residual maintenance: rows {n_rows_r}/{args.vectors}, "
                f"pruned {pruned_r}, served {n_served_r}, resident "
                f"intact {resident_r_ok}, new-file rows "
                f"{new_rows_r}/{delta_n}")
        lines.append(
            f"| residual-index maintenance ({args.vectors} rows, 5% "
            f"delta append through the frozen model, nprobe=2 "
            f"serve) | {t_maint_r} | build {t_build_r}s, refresh "
            f"{t_refresh_r}s (volume asserted on files) | no row lost, "
            f"resident files untouched (size+mtime), new files hold "
            f"exactly the {delta_n} delta rows, serve scan "
            f"partition-pruned: {'PASS' if maint_r_ok else 'FAIL'} |")

        # 10. batch serving at scale (r11): the offline path's claims,
        # measured BEFORE check 11 mutates the slice index. (a) The
        # probe stage is one map-only kernel pass — 100k queries
        # exploded by their nprobe cells with no driver collect; (b) a
        # 200-query batch served end-to-end returns exactly k rows per
        # query, its candidate volume priced from the cell histogram
        # exactly as check 5 prices the online path's.
        from eirepolitic_data_pipeline_spark.operators.similarity import (
            knn_ivf_pq_index_batch, probe_cells_frame)
        t0 = time.perf_counter()
        big_q = corpus.filter(F.col("vec_id") < 100_000)
        n_probe_rows = probe_cells_frame(big_q, cents, 2).count()
        t_probe = round(time.perf_counter() - t0, 1)
        t0 = time.perf_counter()
        bq = rl.filter(F.col("vec_id") < 200)
        served_b = knn_ivf_pq_index_batch(
            spark.read.parquet(idx2), slice_model, bq, K, nprobe=2,
            m=40, vectors=rl)
        n_full = (served_b.groupBy("query_id")
                  .agg(F.count(F.lit(1)).alias("n"))
                  .filter(F.col("n") == K).count())
        t_bserve = round(time.perf_counter() - t0, 1)
        probe_b = bq.select(
            centroid_probe_ranks(F.col("embedding"), rcents, nprobe=2)
            .alias("p")).collect()
        scanned_b = sum(sum(cell_hist.get(c, 0) for c in r["p"])
                        for r in probe_b) / (200 * args.rerank_slice)
        batch_ok = (n_probe_rows == 2 * 100_000 and n_full == 200
                    and scanned_b <= 0.5)
        if not batch_ok:
            failures.append(
                f"batch serving: probe rows {n_probe_rows}/200000, "
                f"full-k queries {n_full}/200, scanned {scanned_b:.3f}")
        lines.append(
            f"| batch serving (100k-query kernel probe on the 1M model; "
            f"200-query batch served from the {args.rerank_slice} index, "
            f"nprobe=2, m=40) | probe {t_probe} + serve {t_bserve} | "
            f"{n_probe_rows} probe rows (map-only, no driver collect); "
            f"{n_full}/200 queries with full top-{K}; scanned fraction "
            f"{scanned_b:.3f} (from the cell histogram) | all queries "
            f"full-k and candidate cut <= 0.5: "
            f"{'PASS' if batch_ok else 'FAIL'} |")

        # 11. the refit flag FIRES under real drift (r11): check 7's
        # drift row is the healthy baseline (recall at its floor, refit
        # False); here an out-of-distribution cluster — constant offset
        # 8.0 on every axis, far outside the codebooks' [-1,1] training
        # range, so every drifted row collapses onto the boundary
        # codewords and ADC cannot rank within the cluster — lands
        # through the frozen-model refresh, and queries drawn FROM the
        # drifted region measure what the index now actually serves
        # them: recall collapses, the flag goes True. This is the loop
        # end-to-end: append → drift report → rebuild signal.
        drift_n = 2_000
        idx64 = F.sequence(F.lit(0), F.lit(63))
        phi = 0.6180339887498949
        drifted = (spark.range(drift_n).select(
            (F.col("id") + args.vectors).alias("vec_id"),
            F.transform(idx64, lambda i: F.lit(8.0) + F.sin(
                (F.col("id") + 1).cast("double") * (i + 1) * phi))
            .alias("embedding")))
        t0 = time.perf_counter()
        refresh_ivf_pq_index(drifted, slice_model, idx2)
        universe = rl.unionByName(drifted)
        drifted_queries = drifted.filter(
            F.col("vec_id") < args.vectors + 10)
        fired = ivf_pq_index_drift(
            spark.read.parquet(idx2), slice_model, universe,
            drifted_queries, k=K, nprobe=2, m=40,
            recall_floor=0.5).first()
        t_fire = round(time.perf_counter() - t0, 1)
        healthy_mr = drift["mean_recall"]
        fire_ok = (fired["n_servable"] == 10
                   and fired["refit_recommended"]
                   and fired["mean_recall"] is not None
                   and healthy_mr is not None
                   and fired["mean_recall"] < healthy_mr)
        if not fire_ok:
            failures.append(
                f"refit flag under drift: {dict(fired.asDict())} vs "
                f"healthy mean {healthy_mr}")
        f_mr = fired["mean_recall"]
        f_mr_s = f"{f_mr:.3f}" if f_mr is not None else "null"
        h_mr_s = f"{healthy_mr:.3f}" if healthy_mr is not None else "null"
        delta_s = (f"{f_mr - healthy_mr:+.3f}"
                   if f_mr is not None and healthy_mr is not None
                   else "n/a")
        lines.append(
            f"| refit flag fires under drift ({drift_n} "
            f"out-of-distribution rows appended via frozen-model "
            f"refresh, 10 drifted queries) | {t_fire} | mean recall "
            f"{f_mr_s} vs healthy {h_mr_s} (delta {delta_s}), refit: "
            f"{fired['refit_recommended']} | recall sags below the "
            f"healthy baseline and refit_recommended goes True: "
            f"{'PASS' if fire_ok else 'FAIL'} |")

        # 12. PCA at scale (r11): ONE moment-kernel pass folds the full
        # corpus covariance (per-partition 64x64 matmul partials, only
        # the moment matrix ever moves); its eigenvalue sum must agree
        # with an INDEPENDENT per-coordinate var_pop aggregate (the
        # trace, computed by Catalyst with no shared code path); the
        # projection kernel maps the full corpus to the reduced space;
        # and the PCA-reduced two-stage serving path holds its
        # recall-vs-m envelope on the rerank slice against the SAME
        # exact set as the codec rows — dimensionality priced beside
        # bit-depth as the compression axis, on the hard-case corpus
        # (quasi-uniform spectrum: 48 of 64 directions carry ~75% of
        # the variance, the regime where reduced-space cosine is
        # weakest).
        from eirepolitic_data_pipeline_spark.operators.similarity import (
            Projection)
        from eirepolitic_data_pipeline_spark.operators.vectors import (
            pca_fit, pca_project)
        t0 = time.perf_counter()
        p_mean, p_comps, p_expl = pca_fit(corpus, k=64)
        t_fit = round(time.perf_counter() - t0, 1)
        trace = corpus.select(F.sum(F.aggregate(
            F.transform("embedding", lambda x: x * x),
            F.lit(0.0), lambda a, x: a + x)) / F.count(F.lit(1))
            - F.aggregate(F.array(*[
                F.pow(F.sum(F.element_at("embedding", i + 1))
                      / F.count(F.lit(1)), 2) for i in range(64)]),
                F.lit(0.0), lambda a, x: a + x)).first()[0]
        var_ok = abs(sum(p_expl) - trace) <= 64 * 2e-6 + 1e-4
        t0 = time.perf_counter()
        comps48 = p_comps[:48]
        n_proj = pca_project(corpus, p_mean, comps48).count()
        t_proj = round(time.perf_counter() - t0, 1)
        proj_ok = n_proj == args.vectors
        frac48 = sum(p_expl[:48]) / sum(p_expl)

        def pca_recall(m: int) -> float:
            got = {(r["query_id"], r["neighbor_id"])
                   for r in knn(
                       rl, rq, K, codec=Projection(p_mean, comps48), m=m,
                       vectors=rl).collect()}
            return len(got & exact) / len(exact)

        t0 = time.perf_counter()
        pr10 = pca_recall(10)
        pr40 = pca_recall(40)
        t_pserve = round(time.perf_counter() - t0, 1)
        pca_ok = var_ok and proj_ok and pr40 >= pr10
        if not pca_ok:
            failures.append(
                f"pca: var acct |{sum(p_expl):.4f}-{trace:.4f}|, "
                f"projected {n_proj}, recall m=40 {pr40:.3f} vs m=10 "
                f"{pr10:.3f}")
        lines.append(
            f"| PCA at scale ({args.vectors} x 64 one-pass moment fit "
            f"{t_fit}s; full-corpus 48-dim projection {t_proj}s; "
            f"reduced-space serving on the {args.rerank_slice} slice "
            f"{t_pserve}s) | {t_fit + t_proj + t_pserve} | eigenvalue "
            f"sum vs independent trace |Δ|="
            f"{abs(sum(p_expl) - trace):.2e}; 48/64 directions carry "
            f"{frac48:.2f} of variance; recall vs exact m=10 "
            f"{pr10:.3f}, m=40 {pr40:.3f} | variance accounting holds, "
            f"projection covers the corpus, recall monotone in m: "
            f"{'PASS' if pca_ok else 'FAIL'} |")

    section = (
        f"{SECTION}\n\n"
        f"Corpus: **{args.vectors} synthetic 64-dim vectors** "
        f"(deterministic full-rank sin-product grid), local[{cores}].\n\n"
        "| check | wall (s) | output | bound |\n|---|---|---|---|\n"
        + "\n".join(lines) + "\n\n"
        "Why these bounds are the 100 TB story: the LSH candidate bound is "
        "measured EXACTLY from the bucket histogram (candidates per query "
        "= the sum of its probe buckets), so the \"index scans a bounded "
        "fraction, never the corpus\" claim is arithmetic, not anecdote; "
        "the trained fit runs the shuffle-free Arrow kernel over the full "
        "1M corpus and its cell histogram bounds the per-task cost of "
        "every downstream cell-bucketed join; the recall ordering "
        "(trained >= grid floor, multiprobe >= single) is the operator "
        "contract the q78-q82 oracles certify at fixture scale, held here "
        "at 100x; the quantized serving path's recall-vs-m envelope "
        "quantifies exactly what the 8x-narrower int8 scan trades away "
        "(and that m buys it back monotonically); and the composed IVF-PQ "
        "check prices the nprobe candidate cut the same way — scored rows "
        "per query derived exactly from the kernel-assigned cell "
        "histogram, with recall vs exact reported beside it; and the "
        "real-PQ row fits its 8-bit-standard codebooks (m=8 x k=256) "
        "over the full corpus in ONE fused kernel pass per Lloyd round, "
        "then holds the ADC serving envelope against the SAME exact set "
        "as the int8 row, so the codec quality trade (8 bytes/row vs 64 "
        "vs 512) is a measured number, not a claim — and the capacity "
        "law behind it (log2(k) bits per subspace; k=16 measured ~0 "
        "recall on this quasi-uniform corpus) is stated where a user "
        "sizing a codebook will read it. The maintenance row is the "
        "steady-state story on top of the at-rest one: the refresh "
        "encodes and shuffles ONLY the delta — asserted on the files "
        "(resident files untouched by size AND mtime, new files hold "
        "exactly the delta rows), since local wall clocks are "
        "fixed-overhead-dominated — "
        "the refreshed index must hold every row, the serve scan must "
        "stay partition-pruned after the append, and the drift report — "
        "the refit feedback loop the frozen-model append path "
        "deliberately lacks — must price the recall the index actually "
        "serves. The residual-maintenance row holds the SAME file-level "
        "contract for the layout whose models are costliest to refit "
        "(the cell is part of the encoding); the batch-serving row holds "
        "the offline path's structure — probing stays a map-only kernel "
        "at 100k queries (the literal probe expression would be an "
        "interpreted per-(row, centroid) fold) and the served batch's "
        "candidate volume is priced from the same cell histogram as the "
        "online path's; and the drift-fires row "
        "closes the loop's True branch: an out-of-distribution delta "
        "appended through the frozen-model refresh must measurably sink "
        "served recall and trip refit_recommended — the signal an "
        "append-only deployment actually rebuilds on, exercised at "
        "scale, not just at its boundary. The PCA row prices "
        "dimensionality as a third compression axis next to int8 and "
        "PQ: the one-pass moment fit is checked against an independent "
        "Catalyst variance aggregate (two code paths, one answer), and "
        "the reduced-space serving envelope is measured on the SAME "
        "exact set as the codec rows — on this quasi-uniform spectrum "
        "(the hard case: 48 of 64 directions still carry only ~3/4 of "
        "the variance) the measured recall is what an embedding corpus "
        "with a genuinely flat spectrum would serve, and m buys it "
        "back the same way it does for the codecs.\n\n"
        f"Result: **{'PASS' if not failures else 'FAIL: ' + '; '.join(failures)}**. "
        "Rerun: `python tools/stress_ann.py`.\n"
    )

    prior = open(args.out).read() if os.path.exists(args.out) else ""
    if SECTION in prior:
        start = prior.index(SECTION)
        nxt = prior.find("\n## ", start + len(SECTION))
        new = prior[:start] + section + (prior[nxt + 1:] if nxt >= 0 else "")
    else:
        new = prior.rstrip("\n") + "\n\n" + section
    with open(args.out, "w") as f:
        f.write(new)
    print(section)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
