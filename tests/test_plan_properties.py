"""Plan-shape regression tests: the scale-critical physical-plan
properties the workload's docstrings claim, asserted so a future change
cannot silently regress them.

These inspect the STATIC executed plan (same mechanics as
tools/plan_audit.py) — counts hold regardless of data size, so they run
at the smoke fixture. Bounds are exact where the claim is exact ("pure
projection, zero shuffles") and upper bounds where AQE may legally vary
the plan.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    """Key-moving shuffles only (hash/range). A single round-robin
    Exchange is the `spread` fixture fan-out — lineage-visible since
    spread dropped its localCheckpoint barrier — and is a no-op at
    production split counts, so it is asserted separately."""
    return sum(1 for ln in plan.splitlines()
               if "Exchange hashpartitioning" in ln
               or "Exchange rangepartitioning" in ln)


def _roundrobins(plan: str) -> int:
    return sum(1 for ln in plan.splitlines()
               if "Exchange RoundRobinPartitioning" in ln)


def _queries():
    import __spark_entry__ as entry
    return entry.queries()


def test_no_rowwise_python_udf_anywhere(spark):
    """BatchEvalPython (row-at-a-time Python) must appear in NO query plan
    — Arrow stages (mapInPandas) are the only sanctioned Python path."""
    offenders = []
    for name, fn in _queries().items():
        if "BatchEvalPython" in _plan(fn(spark, SF_SMOKE)):
            offenders.append(name)
    assert offenders == []


def test_pure_projection_queries_have_zero_shuffles(spark):
    """q51 (dataset split), q30 (quality scores) and q72 (int8
    quantization) claim one-pass projection plans: no Exchange of any
    kind."""
    qs = _queries()
    for name in ("q51_dataset_split", "q30_quality_scores",
                 "q29_language_id", "q72_quantize_int8"):
        plan = _plan(qs[name](spark, SF_SMOKE))
        assert _shuffles(plan) == 0, f"{name} gained a shuffle"
        assert _roundrobins(plan) <= 1, f"{name}: extra round-robin"


def test_heavy_compute_plans_above_the_spread_exchange(spark):
    """spread()'s bare repartition only fans out CPU-heavy per-row work if
    Catalyst keeps the heavy operator ABOVE the round-robin Exchange
    (parents print first, so a smaller line index = runs after the
    exchange). If a future Spark version collapses the projection back
    below the exchange, the shuffle counts would still pass while the
    compute quietly runs on the single scan task — assert placement."""
    qs = _queries()
    for name in ("q28_text_stats", "q29_language_id",
                 "q49_winnowed_fingerprints"):
        lines = _plan(qs[name](spark, SF_SMOKE)).splitlines()
        heavy = next((i for i, ln in enumerate(lines)
                      if "Project" in ln or "MapInPandas" in ln), None)
        exch = next((i for i, ln in enumerate(lines)
                     if "RoundRobinPartitioning" in ln), None)
        if exch is None:  # multi-split scan: spread was a no-op
            continue
        assert heavy is not None and heavy < exch, (
            f"{name}: heavy op at line {heavy} not above exchange {exch}")


def test_exact_dedup_is_single_shuffle(spark):
    """q22: one hash shuffle on the fingerprint, nothing else (the spread
    fan-out round-robin aside)."""
    plan = _plan(_queries()["q22_exact_dedup_fingerprint"](spark, SF_SMOKE))
    assert _shuffles(plan) == 1
    assert _roundrobins(plan) <= 1


def test_no_cartesian_products_anywhere(spark):
    """Cross joins in the workload are bounded broadcast grids
    (BroadcastNestedLoopJoin); an unhinted CartesianProduct would be a
    100 TB scale bug."""
    offenders = []
    for name, fn in _queries().items():
        if "CartesianProduct" in _plan(fn(spark, SF_SMOKE)):
            offenders.append(name)
    assert offenders == []


def test_filter_pushdown_reaches_parquet_scan(spark):
    """q41's source-side filters must reach the scan (PushedFilters
    non-empty), and its scan must stay pruned to the projected columns."""
    plan = _plan(_queries()["q41_compat_projection"](spark, SF_SMOKE))
    assert re.search(r"PushedFilters: \[[^\]]", plan), "pushdown lost"
    widths = [len(s.split(",")) for s in
              re.findall(r"ReadSchema: struct<([^>\n]*)", plan)]
    assert widths and max(widths) <= 6, f"scan no longer pruned: {widths}"


def test_winnow_kernel_runs_once_in_q50(spark):
    """q50's Arrow winnowing kernel must appear AT MOST once in the plan —
    the r3 agg+join formulation re-ran it 4x; since round 5 the
    fingerprint frame is localCheckpoint-materialized (the kernel runs
    once at build, then the plan reads the checkpoint, so 0 appearances
    is the expected steady state). >1 is the regression being guarded."""
    plan = _plan(_queries()["q50_winnow_neardup_pairs"](spark, SF_SMOKE))
    arrow = sum(1 for ln in plan.splitlines()
                if "MapInPandas" in ln or "ArrowEvalPython" in ln)
    assert arrow <= 1, f"winnow kernel appears {arrow}x"


def test_q50_stop_key_filter_is_not_a_key_window(spark):
    """q50's stop-key (df<=100) filter must be a map-side-combined count
    agg + semi-join, never a window over partitionBy(key): a globally-hot
    fingerprint would funnel its whole posting list into ONE window task
    BEFORE the filter drops it. The only window left partitions by doc_id
    (bounded by document length)."""
    plan = _plan(_queries()["q50_winnow_neardup_pairs"](spark, SF_SMOKE))
    wins = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert all("doc_id" in ln for ln in wins), wins
    assert len(wins) == 1, f"unexpected extra windows: {wins}"


def test_semantic_dedup_hot_cell_guard_is_not_a_window(spark):
    """semantic_dedup's max_cell guard must not buffer the degenerate cell
    (embeddings included) in one window task to count it — the guard
    against the pathological cell must not itself be exposed to that
    cell's size. Plan must carry zero Window operators."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        semantic_dedup)
    df = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.99, max_cell=10)
    assert "windowspecdefinition(" not in _plan(out)


def test_knn_query_side_is_broadcast(spark):
    """q26: the tiny query side must broadcast — a shuffled or cartesian
    plan would move the full vector corpus."""
    plan = _plan(_queries()["q26_knn_bruteforce"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_cluster_cap_is_not_a_window(spark):
    """semdedup's max_cluster guard (r7) has the same contract as
    semantic_dedup's max_cell: a groupBy-count semi-join, never a window
    that would buffer the degenerate cluster's vectors in one task before
    filtering it out."""
    from eirepolitic_data_pipeline_spark.operators.vectors import semdedup
    df = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>")
    out = semdedup(df, k=2, iters=1, threshold=0.99, max_cluster=3)
    assert "windowspecdefinition(" not in _plan(out)


def test_ann_recall_truth_side_is_broadcast(spark):
    """q78: both the ground-truth scan and the LSH side must broadcast
    their tiny query frames — recall telemetry must never shuffle the
    corpus by anything query-shaped, and no CartesianProduct may appear
    (the brute-force side is a broadcast nested loop by construction)."""
    plan = _plan(_queries()["q78_ann_recall"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_no_jit_hostile_codegen_methods(spark):
    """No query may generate a whole-stage-codegen method over the JVM
    JIT's 8000-byte DontCompileHugeMethods limit: an over-limit method
    runs interpreted and silently costs ~8x (the r4 q34 regression — a
    14.9 KB flat projection). Wide projections must stage themselves so
    every consume() stays compilable."""
    import re as _re
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("codegen")
    offenders = {}
    for name, fn in _queries().items():
        ex = fn(spark, SF_SMOKE)._jdf.queryExecution().explainString(mode)
        big = [int(x) for x in _re.findall(r"maxMethodCodeSize:(\d+)", ex)
               if int(x) > 8000]
        if big:
            offenders[name] = sorted(big, reverse=True)[:3]
    assert offenders == {}, f"JIT-hostile generated methods: {offenders}"


def test_relevance_workload_plans_are_cache_free(spark):
    """q69/q70 register their operators with persist_stats=False: the
    workload memoizes built plans across bench passes, so a persisted
    stats frame would turn passes 2+ into block-cache reads — the memo
    silently becoming RESULT caching. Asserted on the post-action plan:
    a persisted frame would surface as InMemoryTableScan after the first
    materialization."""
    qs = _queries()
    for name in ("q69_bm25_relevance", "q70_bigram_lm_quality"):
        df = qs[name](spark, SF_SMOKE)
        df.write.format("noop").mode("overwrite").save()
        assert "InMemoryTableScan" not in _plan(df), name


def test_kmeans_assignment_is_joinless(spark):
    """q73's FINAL assignment embeds the fitted centroids as literals: a
    map-only projection, no join of any kind — the shape that lets a
    100 TB corpus be labeled in one pass once the (tiny) model is fitted."""
    plan = _plan(_queries()["q73_kmeans_clusters"](spark, SF_SMOKE))
    assert "Join" not in plan, "kmeans assignment gained a join"
    assert _shuffles(plan) == 0, "kmeans assignment gained a shuffle"


def test_source_overlap_shingles_at_most_twice(spark):
    """q74's per-source totals must enter via ONE broadcast join into the
    postings structs before pair expansion — review r6 found the previous
    two re-aliased totals joins rebuilt the kernel+distinct lineage once
    per alias (three corpus shingle passes, no exchange reuse). The plan
    must broadcast (never shuffle) the totals and run the shingle kernel
    at most twice."""
    plan = _plan(_queries()["q74_source_overlap"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan, (
        "source_overlap totals join is no longer broadcast")
    kernels = plan.count("MapInPandas")
    assert kernels <= 2, (
        f"source_overlap shingles the corpus {kernels}x (claim: <= 2)")


def test_quantized_rerank_broadcasts_candidates(spark):
    """q83's stage-2 exact re-rank must fetch full-precision vectors via a
    BROADCAST of the |queries|*m candidate set — a hash-shuffle there
    would move the corpus-sized wide table for a candidate set that fits
    in one broadcast, defeating the operator's one-narrow-scan design."""
    plan = _plan(_queries()["q83_knn_quantized_rerank"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the only key-moving exchanges allowed are the two top-k windows'
    # (query_id) partitionings — the corpus itself must never hash-shuffle
    assert _shuffles(plan) <= 2, plan


def test_pq_encode_and_cells_frame_are_map_only(spark):
    """The Arrow index-build kernels claim map-only plans — at 100 TB
    they are the single pass that rewrites the wide embedding table into
    the compressed/bucketed serving table, and ANY Exchange there would
    shuffle the full corpus for nothing."""
    import os

    from pyspark.sql import functions as F

    from eirepolitic_data_pipeline_spark.operators.similarity import (
        centroid_cells_frame)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        IVFPQModel, ivf_pq_encode, kmeans_fit, pq_encode, pq_fit)
    emb = (spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)
                   & ~F.exists("embedding", lambda x: x.isNull())))
    books = pq_fit(emb, m=4, k=4, iters=1)
    plan = _plan(pq_encode(emb, books))
    assert "Exchange" not in plan, "pq_encode gained a shuffle"
    assert "Join" not in plan, "pq_encode gained a join"
    cents = kmeans_fit(emb, k=4, iters=1)
    for residual in (False, True):
        plan = _plan(ivf_pq_encode(emb, IVFPQModel(cents, books,
                                                   residual=residual)))
        assert "Exchange" not in plan, "ivf_pq_encode gained a shuffle"
        assert "Join" not in plan, "ivf_pq_encode gained a join"
    plan = _plan(centroid_cells_frame(emb, cents))
    assert "Exchange" not in plan, "centroid_cells_frame gained a shuffle"
    assert "Join" not in plan, "centroid_cells_frame gained a join"


def test_pq_adc_serving_broadcasts_and_bounds_shuffles(spark):
    """q85/q86's serving plans: the exact re-rank fetches full precision
    via a BROADCAST of the candidate set (never a corpus hash-shuffle of
    the wide table), and key-moving exchanges stay bounded by the two
    query_id window partitionings — the compressed corpus itself flows
    scan -> (cells) -> score without hash-shuffling."""
    for name in ("q85_knn_pq_adc", "q86_knn_ivf_adc"):
        plan = _plan(_queries()[name](spark, SF_SMOKE))
        assert ("BroadcastHashJoin" in plan
                or "BroadcastNestedLoopJoin" in plan), name
        assert _shuffles(plan) <= 2, (name, plan)


def test_persisted_index_scan_prunes_to_probe_set(spark, tmp_path):
    """The at-rest 100 TB claim, asserted in the PLAN (r9 verdict ask):
    q87's serving scan carries the probe union as a PartitionFilters
    ``cell IN (...)`` predicate, and the executed scan's partition-read
    metric equals |probe set| — the parquet reader opened EXACTLY the
    probed cells' directories, not the whole index."""
    import os

    from pyspark.sql import functions as F

    from eirepolitic_data_pipeline_spark.operators.similarity import (
        centroid_probe_ranks, knn_ivf_pq_index, write_ivf_pq_index)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        ivf_pq_fit)
    emb = (spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)
                   & ~F.exists("embedding", lambda x: x.isNull())))
    model = ivf_pq_fit(emb, k_coarse=4, m=4, k_sub=8, iters=1)
    cents = model.centroids
    path = str(tmp_path / "idx_prune_metric")
    write_ivf_pq_index(emb, model, path)
    index = spark.read.parquet(path)
    n_cells = index.select("cell").distinct().count()
    # one query, nprobe=1: the probe set must be STRICTLY smaller than
    # the index's cell count, or "pruned" and "scanned everything" are
    # indistinguishable
    queries = emb.filter(F.col("vec_id") == 0)
    probe = queries.select(
        F.explode(centroid_probe_ranks(F.col("embedding"), cents,
                                       nprobe=1)).alias("c")).distinct()
    n_probe = probe.count()
    assert 0 < n_probe < n_cells, (n_probe, n_cells)
    out = knn_ivf_pq_index(index, model, queries, k=3, m=6, nprobe=1,
                           vectors=emb)
    out.collect()  # metrics are populated by execution

    def scans(node, acc):
        name = node.nodeName()
        if name.startswith("Scan parquet"):
            acc.append(node)
        ch = node.children()
        for i in range(ch.size()):
            scans(ch.apply(i), acc)
        if name.startswith("AdaptiveSparkPlan"):
            scans(node.executedPlan(), acc)
        if "QueryStage" in name:
            scans(node.plan(), acc)
        return acc

    plan = out._jdf.queryExecution().executedPlan()
    # identify the index scan by its (vec_id, codes) read schema — the
    # Location path is truncated out of simpleString under pytest's long
    # tmp dirs, and the only other parquet scan (embeddings) reads the
    # embedding column instead
    index_scans = [s for s in scans(plan, [])
                   if "codes:array<int>" in s.toString()]
    assert index_scans, "no parquet scan of the index in the plan"
    for s in index_scans:
        text = s.toString()
        # Catalyst simplifies a 1-element probe union from IN to =; both
        # are native partition predicates on the cell column
        assert re.search(
            r"PartitionFilters: \[.*cell.* (IN|=) ", text), text
        got = s.metrics().apply("numPartitions").value()
        assert got == n_probe, (got, n_probe, n_cells)


def test_spread_width_is_size_derived(spark):
    """r11 optimization: ``spread(df, per_slice_bytes)`` derives the
    round-robin width from the scan's Catalyst size estimate instead of
    the flat parallelism constant — ceil(size / per_slice_bytes), capped
    by the session parallelism, floor 1 (width 1 = no exchange at all).
    The default call keeps the original full-parallelism fan-out."""
    from eirepolitic_data_pipeline_spark.workload.registry import (
        VEC_SLICE_BYTES, spread, t)

    emb = t(spark, SF_SMOKE, "embeddings")
    p = spark.sparkContext.defaultParallelism
    est = int(str(
        emb._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    want = min(p, max(1, -(-est // VEC_SLICE_BYTES)))

    sized = spread(emb, VEC_SLICE_BYTES)
    if want > 1:
        assert sized.rdd.getNumPartitions() == want
    else:  # width 1: returned unchanged, no round-robin exchange
        assert _roundrobins(_plan(sized)) == 0

    # a slice size far above the input => always a no-op, never a shuffle
    assert _roundrobins(_plan(spread(emb, 1 << 40))) == 0

    # default call: original behavior (fan out to parallelism)
    if emb.rdd.getNumPartitions() < p:
        assert spread(emb).rdd.getNumPartitions() == p
