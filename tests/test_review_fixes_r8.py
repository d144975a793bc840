"""Round-8 review/advice follow-through tests:

1. centroid_cells / centroid_probe_ranks: the trained-centroid IVF
   quantizer agrees with kmeans_assign on the same model, NULL-guards
   malformed vectors, and ranks probes home-first / pairwise-distinct.
2. the Centroids quantizer's nprobe: end-to-end candidate generation
   through ``knn``.
3. ann_recall's universe contract (ADVICE r7): corpus rows the bucketer
   can't key are excluded from brute-force truth too, so recall is no
   longer silently depressed by structurally unreachable rows; NULL-bucket
   queries emit no row.
4. ivf_probe_cells non-numeric keys (ADVICE r7): degrade to a NULL probe
   array via try_cast instead of throwing under ANSI.
5. session.shuffle_partitions (ADVICE r7): non-numeric conf values fall
   back to defaultParallelism instead of raising ValueError.
6. semdedup kernel rewrite (r8): string-id corpora collapse to the
   LEXICOGRAPHIC min canonical, and q82's trained-IVF recall dominates
   q80's fixed-grid floor on the fixture (the claim the workload
   docstring makes).
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
    s = get_spark("test_review_fixes_r8", cores=4)
    yield s


# ---------------------------------------------------------------------------
# 1: trained-centroid quantizer
# ---------------------------------------------------------------------------

def _toy_model():
    return [[0.0, 0.0], [10.0, 10.0]]


def test_centroid_cells_matches_kmeans_assign(spark):
    """A vector's cell under centroid_cells equals its kmeans_assign
    cluster for the same (already-fitted) model — same distance fold,
    same argmin tie rule."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        centroid_cells)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        kmeans_assign, kmeans_fit)
    rows = [(i, [float(i % 7), float((3 * i) % 5)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=3, iters=2)
    cells = {r["vec_id"]: r["cell"] for r in df.select(
        "vec_id", centroid_cells(F.col("embedding"), cents).alias("cell"))
        .collect()}
    assigned = {r["vec_id"]: str(r["cluster"])
                for r in kmeans_assign(df, k=3, iters=2).collect()}
    assert cells == assigned


def test_centroid_cells_null_guards(spark):
    """NULL, wrong-dimension, and NULL-element vectors get a NULL cell —
    the sign_lsh_bucket contract (a malformed vector is not a candidate
    for anything)."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        centroid_cells)
    df = spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, None), (2, []), (3, [0.1]),
         (4, [0.1, 0.2, 0.3]), (5, [0.1, None])],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["cell"] for r in df.select(
        "vec_id",
        centroid_cells(F.col("embedding"), _toy_model()).alias("cell"))
        .collect()}
    assert out[0] == "0"
    assert all(out[i] is None for i in (1, 2, 3, 4, 5))


def test_centroid_probe_ranks_home_first_distinct(spark):
    """Probe array: first element == the home cell (the bucketer's
    argmin), pairwise distinct, ranked by query distance; nprobe past k
    degrades to all k cells; malformed vectors get a NULL array."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        centroid_cells, centroid_probe_ranks)
    model = [[0.0, 0.0], [5.0, 5.0], [10.0, 10.0]]
    df = spark.createDataFrame(
        [(0, [0.4, 0.1]), (1, [6.0, 6.2]), (2, [9.0, 9.0]), (3, None),
         (4, [1.0])],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["cell"], r["probes"]) for r in df.select(
        "vec_id",
        centroid_cells(F.col("embedding"), model).alias("cell"),
        centroid_probe_ranks(F.col("embedding"), model, nprobe=2)
        .alias("probes")).collect()}
    for i in (0, 1, 2):
        cell, probes = out[i]
        assert probes[0] == cell
        assert len(probes) == len(set(probes)) == 2
    assert out[1][1] == ["1", "2"]  # (6,6.2): nearest 5,5 then 10,10
    assert out[3] == (None, None)
    assert out[4] == (None, None)
    wide = df.filter("vec_id = 0").select(
        centroid_probe_ranks(F.col("embedding"), model, nprobe=9)
        .alias("p")).first()["p"]
    assert wide == ["0", "1", "2"]  # nprobe > k probes every cell


# ---------------------------------------------------------------------------
# 2: Centroids quantizer probes
# ---------------------------------------------------------------------------

def test_knn_lsh_vector_prober_end_to_end(spark):
    """Through the trained quantizer and its nprobe ranking, a query in
    one cluster reaches neighbors in its nprobe-nearest clusters only."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        Centroids, knn)
    model = [[0.0, 1.0], [1.0, 0.0], [-1.0, 0.0]]
    # corpus: two vectors per cluster direction
    rows = [(0, [0.1, 1.0]), (1, [0.2, 0.9]),
            (2, [1.0, 0.1]), (3, [0.9, 0.2]),
            (4, [-1.0, 0.1]), (5, [-0.9, 0.2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter("vec_id = 0")
    out = knn(df, queries, k=5, quantizer=Centroids(model, nprobe=2))
    got = {r["neighbor_id"] for r in out.collect()}
    # home cluster (0: vecs 0,1) + nearest other centroid (1: vecs 2,3);
    # cluster 2 ([-1,0]) is the farthest centroid and is never probed
    assert got == {1, 2, 3}


# ---------------------------------------------------------------------------
# 3: ann_recall universe contract
# ---------------------------------------------------------------------------

def test_ann_recall_excludes_unservable_rows_from_truth(spark):
    """A corpus row whose bucket is NULL (here: too short for the 2-bit
    index) is excluded from the brute-force truth side too — before the
    r8 fix it scored cosine in truth while the LSH side structurally
    dropped it, silently depressing recall. A NULL-bucket QUERY emits no
    row at all."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        SignLSH, ann_recall)
    rows = [(0, [1.0, 0.9]), (1, [0.9, 1.0]), (2, [0.8, 0.95]),
            (3, [0.97])]  # vec 3: near-identical direction but 1-dim
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter("vec_id = 0")
    out = ann_recall(df, queries, k=2, quantizer=SignLSH(n_bits=2))
    rec = {r["query_id"]: r for r in out.collect()}
    # all well-formed rows share bucket '11', so the index returns the
    # exact truth set {1, 2}; row 3 must NOT occupy a truth slot
    assert rec[0]["n_true"] == 2 and rec[0]["n_hit"] == 2
    assert rec[0]["recall"] == 1.0
    # an unservable query (NULL bucket) emits no row rather than 0/0
    out2 = ann_recall(df, df.filter("vec_id = 3"), k=2,
                      quantizer=SignLSH(n_bits=2))
    assert out2.count() == 0


# ---------------------------------------------------------------------------
# 4: ivf_probe_cells non-numeric keys
# ---------------------------------------------------------------------------

def test_ivf_probe_cells_non_numeric_key_degrades_to_null(spark):
    """A matching-arity but non-numeric cell key yields a NULL probe
    array (the arity-mismatch contract) instead of an ANSI cast error."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        ivf_probe_cells)
    df = spark.createDataFrame(
        [(0, "1:2"), (1, "a:b"), (2, "1:x"), (3, "1"), (4, "1:2:3")],
        "i long, cell string")
    out = {r["i"]: r["p"]
           for r in df.select(
               "i", ivf_probe_cells(F.col("cell"), dims=2).alias("p"))
           .collect()}
    assert len(out[0]) == 9 and "1:2" in out[0]
    assert out[1] is None and out[2] is None
    assert out[3] is None and out[4] is None  # arity legs, unchanged


# ---------------------------------------------------------------------------
# 5: defensive shuffle-partition parse
# ---------------------------------------------------------------------------

def test_shuffle_partitions_falls_back_on_non_numeric():
    from eirepolitic_data_pipeline_spark.session import shuffle_partitions

    class _Conf:
        def get(self, key):
            return "auto"

    class _SC:
        defaultParallelism = 7

    class _Spark:
        conf = _Conf()
        sparkContext = _SC()

    assert shuffle_partitions(_Spark()) == 7


def test_shuffle_partitions_reads_numeric(spark):
    from eirepolitic_data_pipeline_spark.session import shuffle_partitions
    assert shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions"))


# ---------------------------------------------------------------------------
# 6: semdedup kernel rewrite
# ---------------------------------------------------------------------------

def test_semdedup_string_ids_lexicographic_min_canonical(spark):
    """The kernel's union-by-min works in the id domain's own order:
    string ids collapse to the LEXICOGRAPHIC minimum, matching the SQL
    min() the oracle computes."""
    from eirepolitic_data_pipeline_spark.operators.vectors import semdedup
    rows = [("b", [1.0, 0.0]), ("a", [1.0, 0.001]), ("c", [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = {r["vec_id"]: r["canonical_id"]
           for r in semdedup(df, k=1, iters=1, threshold=0.99).collect()}
    assert out["a"] == "a" and out["b"] == "a" and out["c"] == "c"


def test_q82_trained_ivf_recall_dominates_grid_floor(spark):
    """The workload claim: mean recall of the trained-centroid IVF (q82)
    >= mean recall of the fixed-grid one-cell floor (q80) on the fixture
    — the reason the trained quantizer exists."""
    from eirepolitic_data_pipeline_spark import workload
    qs = workload.queries()
    m82 = (qs["q82_ann_recall_ivf_trained"](spark, SF_SMOKE)
           .agg(F.avg("recall")).first()[0])
    m80 = (qs["q80_ann_recall_ivf"](spark, SF_SMOKE)
           .agg(F.avg("recall")).first()[0])
    assert m82 >= m80


def test_min_label_fast_path_matches_loop_random_graphs(spark):
    """r8 small-graph union-find fast path: bit-identical to the
    distributed min-label loop on random graphs, for both numeric and
    string ids (string canonical = LEXICOGRAPHIC component min, matching
    F.min and the DuckDB oracles)."""
    import random
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        min_label_components)
    rng = random.Random(82)
    for trial in range(4):
        n = rng.randint(2, 24)
        edges = [(rng.randint(0, n - 1), rng.randint(0, n - 1))
                 for _ in range(rng.randint(0, 2 * n))]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        fast = {r["id"]: r["canonical_id"]
                for r in min_label_components(ids, pairs).collect()}
        loop = {r["id"]: r["canonical_id"]
                for r in min_label_components(
                    ids, pairs, max_iters=n + 1,
                    small_graph_max_edges=0).collect()}
        assert fast == loop, f"trial {trial}: {fast} != {loop}"
    # string ids: lexicographic min ("a10" < "a9")
    ids = spark.createDataFrame(
        [("a9",), ("a10",), ("zz",)], "id string")
    pairs = spark.createDataFrame(
        [("a9", "a10")], "doc_a string, doc_b string")
    out = {r["id"]: r["canonical_id"]
           for r in min_label_components(ids, pairs).collect()}
    assert out == {"a9": "a10", "a10": "a10", "zz": "zz"}


def test_min_label_fast_path_self_loops_and_duplicate_edges(spark):
    """Self-loops and duplicate/reversed edge rows must not perturb the
    union-find (the edge frame always carries both orientations)."""
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        min_label_components)
    ids = spark.createDataFrame([(i,) for i in range(4)], "id long")
    pairs = spark.createDataFrame(
        [(1, 1), (2, 3), (3, 2), (2, 3)], "doc_a long, doc_b long")
    out = {r["id"]: r["canonical_id"]
           for r in min_label_components(ids, pairs).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 2}


def test_minhash_dedup_keep_matches_mapping_filter(spark):
    """minhash_dedup_keep (one anti-join against the loser frame) must
    keep exactly the rows minhash_dedup's full mapping marks canonical."""
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        minhash_dedup, minhash_dedup_keep)
    docs = (spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
            .select("doc_id", "text"))
    comp = minhash_dedup(docs, num_hashes=8, band_rows=2, threshold=0.7)
    want = {r["doc_id"] for r in comp.filter(
        F.col("doc_id") == F.col("canonical_id")).collect()}
    got = {r["doc_id"] for r in minhash_dedup_keep(
        docs, num_hashes=8, band_rows=2, threshold=0.7).collect()}
    assert got == want and len(got) > 0


def test_knn_quantized_rerank_full_m_equals_bruteforce(spark):
    """With m = |corpus| the two-stage quantized path degenerates to the
    exact brute force: stage 1 keeps everything, stage 2 re-ranks all of
    it at full precision — so (query_id, neighbor_id, rank) must be
    row-identical to the exhaustive knn."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        Int8, knn)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        quantize_int8)
    emb = (spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)
                   & ~F.exists("embedding", lambda x: x.isNull())))
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 5)
    quantized = quantize_int8(emb).select("vec_id", "scale", "qvec")
    got = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                 for r in knn(quantized, queries, k=5, codec=Int8(), m=n,
                              vectors=emb).collect())
    want = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                  for r in knn(emb, queries, 5).collect())
    assert got == want and len(got) > 0


def test_knn_quantized_rerank_guards_and_approx_path(spark):
    """m < k raises; vectors=None returns the single-stage compressed
    ranking (top-k of the dequantized scores), never more than k rows per
    query; zero-scale vectors score 0.0, not NaN."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        Int8, knn)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        quantize_int8)
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
            (3, [0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    quantized = quantize_int8(emb).select("vec_id", "scale", "qvec")
    queries = emb.filter(F.col("vec_id") == 0)
    with pytest.raises(ValueError, match="m"):
        knn(quantized, queries, k=5, codec=Int8(), m=3)
    out = knn(quantized, queries, k=2, codec=Int8()).collect()
    assert len(out) == 2
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] \
        == [1, 2]
    all3 = knn(quantized, queries, k=3, codec=Int8(), m=3).collect()
    zero = [r for r in all3 if r["neighbor_id"] == 3][0]
    assert zero["cosine"] == 0.0


def test_min_label_components_drops_null_endpoint_edges(spark):
    """A NULL edge endpoint (outside the contract) must degrade to a
    dropped edge on BOTH closure paths — in the union-find kernel,
    pd.factorize would otherwise code it -1 and python-negative-index the
    parent array, silently corrupting the closure."""
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        min_label_components)
    ids = spark.createDataFrame([(i,) for i in range(3)], "id long")
    pairs = spark.createDataFrame(
        [(0, None), (None, 2), (1, 2)], "doc_a long, doc_b long")
    for kw in ({}, {"small_graph_max_edges": 0, "max_iters": 5}):
        out = {r["id"]: r["canonical_id"]
               for r in min_label_components(ids, pairs, **kw).collect()}
        assert out == {0: 0, 1: 1, 2: 1}, out


def test_knn_ivf_pq_all_probes_equals_quantized_rerank(spark):
    """Probing every centroid cell degenerates the IVF-PQ composition to
    the exhaustive compressed scan: with nprobe = k_centroids and the
    same m, (query_id, neighbor_id, rank) must match the exhaustive int8
    knn row-for-row."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        Centroids, Int8, knn)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        kmeans_fit, quantize_int8)
    emb = (spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)
                   & ~F.exists("embedding", lambda x: x.isNull())))
    cents = kmeans_fit(emb, k=4, iters=1)
    quantized = quantize_int8(emb).select("vec_id", "scale", "qvec")
    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                 for r in knn(quantized, queries, k=5, codec=Int8(),
                              quantizer=Centroids(cents, nprobe=4), m=10,
                              vectors=emb).collect())
    want = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                  for r in knn(quantized, queries, k=5, codec=Int8(),
                               m=10, vectors=emb).collect())
    assert got == want and len(got) > 0


def test_knn_ivf_pq_probe_cut_and_guards(spark):
    """nprobe=1 restricts candidates to each query's home cell (never
    more than k rows per query, all from probed cells); m < k raises;
    vectors=None returns the compressed ranking."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        Centroids, Int8, centroid_cells, knn)
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        kmeans_fit, quantize_int8)
    emb = (spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)
                   & ~F.exists("embedding", lambda x: x.isNull())))
    cents = kmeans_fit(emb, k=4, iters=1)
    quantized = quantize_int8(emb).select("vec_id", "scale", "qvec")
    queries = emb.filter(F.col("vec_id") < 5)
    with pytest.raises(ValueError, match="m"):
        knn(quantized, queries, k=5, codec=Int8(),
            quantizer=Centroids(cents), m=3)
    out = knn(quantized, queries, k=3, codec=Int8(),
              quantizer=Centroids(cents, nprobe=1)).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert all(len(v) <= 3 for v in per_q.values()) and len(per_q) > 0
    # every returned neighbor lives in its query's home cell (nprobe=1).
    # The operator keys CORPUS cells on the DEQUANTIZED (scale, qvec)
    # vectors and QUERY cells on the raw vector (asymmetric, like the
    # scoring) — so the expectation must mirror that split: neighbor
    # cells from the dequantized reconstruction, query cells from raw.
    # Computing both from raw would fail spuriously the day int8
    # reconstruction moves a fixture vector across a centroid boundary
    # (r8 ADVICE).
    dq = F.transform(F.col("qvec"),
                     lambda x: x.cast("double") * F.col("scale"))
    n_cells = {r["vec_id"]: r["cell"] for r in quantized.select(
        "vec_id", centroid_cells(dq, cents).alias("cell")).collect()}
    q_cells = {r["vec_id"]: r["cell"] for r in emb.select(
        "vec_id", centroid_cells(F.col("embedding"), cents).alias("cell"))
        .collect()}
    for qid, nbrs in per_q.items():
        for n in nbrs:
            assert n_cells[n] == q_cells[qid], (qid, n)
