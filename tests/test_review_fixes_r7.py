"""Round-7 additions and review fixes:

1. Bucket guards: NULL / empty / shorter-than-n_bits vectors get a NULL
   sign-LSH bucket (previously an empty vector THREW under ANSI getItem,
   and a NULL one pooled in the all-zeros bucket in q27/q37's inline
   copies), and ivf_grid_cells NULLs the cell the same way.
2. kmeans_assign excludes zero-length vectors alongside NULLs instead of
   silently assigning them via NULL-ordering.
3. ann_recall: per-query recall@k of the LSH path against brute-force
   ground truth — exact on a constructed corpus where the bucketing
   provably splits one true neighbor pair.
4. semdedup: the composed SemDeDup operator (kmeans -> within-cluster
   cosine collapse -> components) — transitive chains collapse to one
   canonical, cross-cluster near-dups are (by contract) NOT linked, and
   the max_cluster cap degrades to self-canonicals, never a blowup.
5. decontaminate(verify=True): flagged docs are re-checked against RAW
   benchmark shingles — same answer as the hash path on collision-free
   data, and a doc whose hits were only hash-collisions is exonerated.
6. min_label_components: empty pair frame short-circuits to
   self-canonicals (fast path must preserve the contract exactly).
7. dedupe_lines passes non-text columns through its join-back.
8. minhash_lsh_candidates(collisions=False) returns the same distinct
   pair set as the counting form.
"""

from __future__ import annotations

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# 1-2: vector guards
# ---------------------------------------------------------------------------

def test_sign_lsh_bucket_nulls_for_null_empty_short(spark):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        sign_lsh_bucket)

    df = spark.createDataFrame(
        [(1, [0.5, -0.2, 0.1, 0.3]), (2, []), (3, None), (4, [0.9, -0.1])],
        "vec_id int, embedding array<double>")
    out = {r["vec_id"]: r["b"] for r in df.select(
        "vec_id", sign_lsh_bucket(F.col("embedding"), 4).alias("b")
    ).collect()}
    assert out[1] == "1011"
    assert out[2] is None  # empty: would THROW under ANSI unguarded
    assert out[3] is None  # NULL: would pool in '0000' unguarded
    assert out[4] is None  # 2 dims < 4 bits: no valid 4-bit bucket


def test_ivf_grid_cells_null_for_short_vectors(spark):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        ivf_grid_cells)

    df = spark.createDataFrame(
        [(1, [0.5, -0.2]), (2, []), (3, None), (4, [0.25])],
        "vec_id int, embedding array<double>")
    out = {r["vec_id"]: r["c"] for r in df.select(
        "vec_id", ivf_grid_cells(F.col("embedding"), 4, 2).alias("c")
    ).collect()}
    assert out[1] == "2:-1"
    assert out[2] is None and out[3] is None and out[4] is None


def test_kmeans_excludes_empty_vectors(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        kmeans_assign)

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [0.1, 0.0]),
         (4, [0.9, 1.1]), (5, []), (6, None)],
        "vec_id int, embedding array<double>")
    rows = kmeans_assign(df, k=2, iters=2).collect()
    ids = {r["vec_id"] for r in rows}
    assert ids == {1, 2, 3, 4}  # 5 (empty) and 6 (NULL) are not clusterable


# ---------------------------------------------------------------------------
# 3: ann_recall
# ---------------------------------------------------------------------------

def test_ann_recall_exact_on_split_bucket(spark):
    """Corpus where the 2-bit sign bucketing provably separates a true
    nearest neighbor from its query: recall must be BELOW 1.0 for exactly
    that query, and the brute-force/approx bookkeeping must be exact."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        SignLSH, ann_recall)

    # q0 = (1, eps): true top-2 are id 1 (identical direction) and id 2.
    # id 1 sits in bucket '10' with q0; id 2 = (1, -eps) sits in '10'?
    # No: sign bits of (1, -0.1) -> '10' vs (1, 0.1) -> '11'. So id 2's
    # bucket differs from q0's; single-probe misses it without bit flips.
    df = spark.createDataFrame(
        [(0, [1.0, 0.1]),
         (1, [0.9, 0.09]),    # same direction as q0 -> cosine ~1, bucket 11
         (2, [1.0, -0.1]),    # near q0 but bucket 10
         (3, [-1.0, -1.0]),   # far away, bucket 00
         (4, [-1.0, 1.0])],   # far away, bucket 01
        "vec_id int, embedding array<double>")
    queries = df.filter(F.col("vec_id") == 0)
    out = ann_recall(df, queries, k=2, quantizer=SignLSH(n_bits=2))
    r = out.collect()[0]
    # true top-2 of q0: ids 1 and 2; bucket '11' holds only id 1
    assert r["n_true"] == 2 and r["n_hit"] == 1 and r["recall"] == 0.5
    # multiprobe flips one bit: bucket '10' (id 2) is now probed too
    out2 = ann_recall(df, queries, k=2,
                      quantizer=SignLSH(n_bits=2, probe_flips=True))
    r2 = out2.collect()[0]
    assert r2["n_hit"] == 2 and r2["recall"] == 1.0


# ---------------------------------------------------------------------------
# 4: semdedup
# ---------------------------------------------------------------------------

def _vec(angle_deg: float) -> list:
    import math
    a = math.radians(angle_deg)
    return [math.cos(a), math.sin(a)]


def test_semdedup_transitive_chain_one_canonical(spark):
    """A~B~C chain (A and C not directly >= threshold) collapses to one
    canonical; a vector in another cluster with similar direction is NOT
    linked (within-cluster contract)."""
    from eirepolitic_data_pipeline_spark.operators.vectors import semdedup

    # cluster 1: three nearly-parallel unit vectors forming a chain
    # cluster 2 (opposite hemisphere): far vectors, one pair of twins
    rows = [(1, _vec(0.0)), (2, _vec(8.0)), (3, _vec(16.0)),
            (10, _vec(180.0)), (11, _vec(181.0)), (12, _vec(250.0))]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {r["vec_id"]: r for r in
           semdedup(df, k=2, iters=2, threshold=0.99).collect()}
    assert len(out) == 6
    # chain 1-2-3: cos(8 deg)=0.990 >= .99 links 1~2 and 2~3; cos(16 deg)
    # = 0.961 does not link 1~3 directly -> transitive canonical = 1
    assert out[1]["canonical_id"] == 1
    assert out[2]["canonical_id"] == 1
    assert out[3]["canonical_id"] == 1
    # twins 10/11 collapse; 12 stays its own
    assert out[10]["canonical_id"] == 10
    assert out[11]["canonical_id"] == 10
    assert out[12]["canonical_id"] == 12
    # clusters are consistent within components
    assert out[1]["cluster"] == out[2]["cluster"] == out[3]["cluster"]


def test_semdedup_max_cluster_cap_degrades_to_self_canonicals(spark):
    from eirepolitic_data_pipeline_spark.operators.vectors import semdedup

    rows = [(i, _vec(float(i))) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    # cap of 1: every cluster over-populated -> no pair expansion at all
    out = semdedup(df, k=2, iters=1, threshold=0.5, max_cluster=1).collect()
    assert all(r["vec_id"] == r["canonical_id"] for r in out)
    assert len(out) == 8


# ---------------------------------------------------------------------------
# 5: decontaminate verify
# ---------------------------------------------------------------------------

def test_decontaminate_verify_matches_fast_path(spark):
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        decontaminate)

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota"),
         (2, "totally unrelated words nothing shared here at all ok"),
         (3, "alpha beta gamma delta epsilon zeta eta theta extra")],
        "doc_id int, text string")
    bench = spark.createDataFrame(
        [("alpha beta gamma delta epsilon zeta eta theta",)], "text string")
    kept_f, cont_f = decontaminate(corpus, bench, n=8)
    kept_v, cont_v = decontaminate(corpus, bench, n=8, verify=True)
    assert sorted(r["doc_id"] for r in kept_f.collect()) == \
        sorted(r["doc_id"] for r in kept_v.collect()) == [2]
    assert sorted((r["doc_id"], r["n_hits"]) for r in cont_f.collect()) == \
        sorted((r["doc_id"], r["n_hits"]) for r in cont_v.collect())


def test_decontaminate_verify_exonerates_prefix_collision(spark, monkeypatch):
    """Force the 8-byte hash path to 'collide' (constant key) — the fast
    path then flags every doc; verify=True must exonerate the genuinely
    clean ones via raw-shingle comparison. The patch targets the
    DRIVER-side shingle_postings call (an executor-side _md5_int64 patch
    would not survive worker re-import)."""
    from eirepolitic_data_pipeline_spark.operators import dedupe

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota"),
         (2, "totally unrelated words nothing shared here at all ok")],
        "doc_id int, text string")
    bench = spark.createDataFrame(
        [("alpha beta gamma delta epsilon zeta eta theta",)], "text string")
    orig = dedupe.shingle_postings
    monkeypatch.setattr(
        dedupe, "shingle_postings",
        lambda df, tc, ic, n: orig(df, tc, ic, n)
        .withColumn("key", F.lit(7).cast("long")))
    kept_f, cont_f = dedupe.decontaminate(corpus, bench, n=8)
    # degenerate hash: everything collides, both docs flagged
    assert sorted(r["doc_id"] for r in cont_f.collect()) == [1, 2]
    assert kept_f.count() == 0
    kept_v, cont_v = dedupe.decontaminate(corpus, bench, n=8, verify=True)
    # raw-shingle re-check exonerates doc 2
    assert [r["doc_id"] for r in cont_v.collect()] == [1]
    assert [r["doc_id"] for r in kept_v.collect()] == [2]


# ---------------------------------------------------------------------------
# 6: empty-pair fast path
# ---------------------------------------------------------------------------

def test_min_label_components_empty_pairs_fast_path(spark):
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        min_label_components)

    ids = spark.createDataFrame([(i,) for i in range(5)], "id int")
    pairs = spark.createDataFrame([], "doc_a int, doc_b int")
    out = min_label_components(ids, pairs).collect()
    assert sorted((r["id"], r["canonical_id"]) for r in out) == \
        [(i, i) for i in range(5)]
    assert set(min_label_components(ids, pairs).columns) == \
        {"id", "canonical_id"}


# ---------------------------------------------------------------------------
# 7: dedupe_lines passthrough
# ---------------------------------------------------------------------------

def test_dedupe_lines_passes_through_other_columns(spark):
    from eirepolitic_data_pipeline_spark.operators.dedupe import dedupe_lines

    boiler = "accept cookies please and subscribe"
    df = spark.createDataFrame(
        [(1, f"{boiler}\nunique line one here ok", "en", "a"),
         (2, f"{boiler}\nanother unique line here", "ga", "b")],
        "doc_id int, text string, lang string, source string")
    out = {r["doc_id"]: r for r in dedupe_lines(df, max_df=1).collect()}
    assert set(out[1].asDict()) == {"doc_id", "text", "lang", "source"}
    assert out[1]["lang"] == "en" and out[2]["source"] == "b"
    assert boiler not in out[1]["text"] and boiler not in out[2]["text"]
    assert "unique line one here ok" == out[1]["text"]


# ---------------------------------------------------------------------------
# 8: collisions=False
# ---------------------------------------------------------------------------

def test_minhash_candidates_distinct_form_matches(spark):
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        minhash_lsh_candidates)

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog tonight"),
         (3, "completely different text with no overlap at all here")],
        "doc_id int, text string")
    full = minhash_lsh_candidates(docs, num_hashes=16, band_rows=2)
    dist = minhash_lsh_candidates(docs, num_hashes=16, band_rows=2,
                                  collisions=False)
    assert set(dist.columns) == {"doc_a", "doc_b"}
    assert sorted((r["doc_a"], r["doc_b"]) for r in full.collect()) == \
        sorted((r["doc_a"], r["doc_b"]) for r in dist.collect())
    assert dist.count() == dist.distinct().count()


# ---------------------------------------------------------------------------
# 9: fused minhash kernel pinned to its public twins
# ---------------------------------------------------------------------------

def test_fused_minhash_kernel_matches_public_kernels(spark):
    """_minhash_postings_signatures is minhash_signatures + shingle_postings
    in one corpus pass; each output column is pinned to its public twin so
    the recipes cannot drift apart silently."""
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        _minhash_postings_signatures,
        minhash_signatures,
        shingle_postings,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, None),
         (4, "")],
        "doc_id int, text string")
    fused = _minhash_postings_signatures(docs, "text", "doc_id", 3, 8)
    sig_cols = [f"mh{h}" for h in range(8)]

    sigs_pub = sorted(tuple(r) for r in
                      minhash_signatures(docs, num_hashes=8).collect())
    sigs_fused = sorted(tuple(r) for r in
                        fused.select("doc_id", *sig_cols).collect())
    assert sigs_pub == sigs_fused

    post_pub = sorted(tuple(r) for r in
                      shingle_postings(docs, "text", "doc_id", 3).collect())
    post_fused = sorted(
        tuple(r) for r in
        fused.select("doc_id", "n_sh",
                     F.explode("keys").alias("key")).collect())
    assert post_pub == post_fused


# ---------------------------------------------------------------------------
# 10: IVF nprobe prober
# ---------------------------------------------------------------------------

def test_ivf_probe_cells_adjacency_ring(spark):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        ivf_probe_cells)

    df = spark.createDataFrame([("2:-1",), (None,)], "cell string")
    rows = df.select(ivf_probe_cells(F.col("cell")).alias("p")).collect()
    ring = rows[0]["p"]
    assert len(ring) == 9 and len(set(ring)) == 9  # pairwise distinct
    assert "2:-1" in ring                          # home cell included
    assert set(ring) == {f"{x}:{y}" for x in (1, 2, 3)
                         for y in (-2, -1, 0)}


def test_ivf_nprobe_recall_dominates_single_cell(spark):
    """The 9-cell adjacency probe must recover at least every neighbor
    the 1-cell probe found, per query — recall(q81 shape) >= recall(q80
    shape) pointwise on the fixture."""
    from conftest import SF_SMOKE
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        Grid, ann_recall)
    from eirepolitic_data_pipeline_spark.workload.registry import spread, t

    emb = (spread(t(spark, SF_SMOKE, "embeddings"))
           .filter(F.size("embedding") >= 2))
    queries = emb.filter(F.col("vec_id") < 10)
    one = {r["query_id"]: r["recall"] for r in
           ann_recall(emb, queries, k=5,
                      quantizer=Grid()).collect()}
    nine = {r["query_id"]: r["recall"] for r in
            ann_recall(emb, queries, k=5,
                       quantizer=Grid(ring=True)).collect()}
    assert set(one) == set(nine)
    assert all(nine[q] >= one[q] for q in one)
    # the ring must actually buy something on this fixture, else the
    # dominance check is vacuous
    assert sum(nine.values()) > sum(one.values())


# ---------------------------------------------------------------------------
# 11: r7b review fixes — NULL-element cells, prober ergonomics/arity
# ---------------------------------------------------------------------------

def test_ivf_grid_cells_null_on_null_element(spark):
    """A NULL ELEMENT inside the first dims coords must NULL the whole
    cell (concat_ws silently skipped it, minting malformed cells like
    '2' that the nprobe ring expanded into duplicate probes)."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        ivf_grid_cells)

    df = spark.createDataFrame(
        [(1, [0.5, None]), (2, [None, None]), (3, [0.5, -0.2, None])],
        "vec_id int, embedding array<double>")
    out = {r["vec_id"]: r["c"] for r in df.select(
        "vec_id", ivf_grid_cells(F.col("embedding"), 4, 2).alias("c")
    ).collect()}
    assert out[1] is None and out[2] is None
    assert out[3] == "2:-1"  # NULL beyond dims does not poison the cell


def test_ivf_probe_cells_null_on_arity_mismatch(spark):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        ivf_probe_cells)

    df = spark.createDataFrame([("1:2:3",), ("7",)], "cell string")
    rows = df.select(ivf_probe_cells(F.col("cell"), dims=2).alias("p")) \
        .collect()
    assert rows[0]["p"] is None and rows[1]["p"] is None


def test_kmeans_excludes_null_element_vectors(spark):
    """[0.5, NULL] previously slipped both guards and was silently
    assigned cluster 0 with NULL dist via NULL-ordering (r7b)."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        kmeans_assign, semdedup)

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [0.1, 0.0]),
         (4, [0.9, 1.1]), (5, [0.5, None])],
        "vec_id int, embedding array<double>")
    assert {r["vec_id"] for r in kmeans_assign(df, k=2, iters=1).collect()} \
        == {1, 2, 3, 4}
    assert {r["vec_id"] for r in
            semdedup(df, k=2, iters=1, threshold=0.9).collect()} \
        == {1, 2, 3, 4}


def test_quantize_propagates_null_elements(spark):
    """A NULL element must yield a NULL code and NULL mse — Spark's
    least/greatest skip NULL args, so the unguarded clamp minted code
    127 for the missing dimension (r7b). Present elements still
    quantize against a scale computed over them."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        quantize_int8)

    df = spark.createDataFrame([(1, [0.5, None])],
                               "vec_id int, embedding array<double>")
    r = quantize_int8(df).collect()[0]
    assert list(r["qvec"]) == [127, None]
    assert r["mse"] is None
    assert abs(r["scale"] - 0.5 / 127) < 1e-9
