"""Regression tests for the round-6 second-batch review findings:

1. q72's digest columns must match the DuckDB oracle on NULL and EMPTY
   embedding vectors (Spark's raw folds yield NULL where the oracle's
   list_prepend(0, ...) folds yield 0; sequence(1, 0) is [1, 0] not []).
2. ngram heavy hitters: doc_freq counts DISTINCT doc ids, not input rows
   (a re-ingested duplicate doc id must not double doc_freq).
3. kmeans_assign: NULL embeddings are excluded (not crashed on), and a
   ragged-dimension column fails loudly instead of mis-assigning.
4. source_overlap must shingle the corpus at most twice (plan-asserted in
   test_plan_properties.test_source_overlap_shingles_at_most_twice).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F  # noqa: F401

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))


def test_q72_digest_parity_on_null_and_empty_embeddings(spark, tmp_path):
    """Replay the driver's compare for q72 over a fixture that DOES carry
    a NULL and an empty embedding — the current testdata has neither, so
    this contract is invisible to the per-round gate until a regeneration
    surfaces it as a hash mismatch."""
    import duckdb

    from check_oracle import canon
    from eirepolitic_data_pipeline_spark.workload import QUERIES

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, [0.5, -1.27, 0.0], 0),
         (2, [], 1),                  # empty vector: digests must be 0
         (3, None, 2),                # NULL vector: digests must be 0
         (4, [0.0, 0.0, 0.0], 3)],    # zero vector: scale-0 contract
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{sf}/embeddings.parquet")

    q = QUERIES["q72_quantize_int8"]
    sdf = q.fn(spark, sf)
    scols = sorted(sdf.columns)
    srows = sorted(tuple(canon(r[c]) for c in scols) for r in sdf.collect())

    con = duckdb.connect()
    # Spark wrote a parquet DIRECTORY (the driver's fixtures are single
    # files) — glob the part files for DuckDB
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{sf}/embeddings.parquet/*.parquet'")
    pdf = con.execute(q.sql).fetchdf()
    ocols = sorted(pdf.columns)
    # column-wise access, NOT iterrows(): a row Series takes one dtype and
    # silently upcasts ints to float when any column in the row is float
    orows = sorted(tuple(canon(pdf[c].iloc[i]) for c in ocols)
                   for i in range(len(pdf)))
    assert scols == ocols
    assert srows == orows


def test_heavy_hitters_doc_freq_is_distinct_ids(spark):
    """Two input rows with the SAME doc_id (a re-ingested feed) count once
    in doc_freq while their occurrences still sum — the oracle's
    count(DISTINCT doc_id) semantics."""
    from eirepolitic_data_pipeline_spark.operators.profiling import (
        ngram_counts)
    docs = spark.createDataFrame(
        [(1, "a b", "s"), (1, "a b", "s"), (2, "a b", "s")],
        "doc_id long, text string, source string")
    row = ngram_counts(docs, n=2).collect()
    assert len(row) == 1
    assert row[0]["occurrences"] == 3
    assert row[0]["doc_freq"] == 2  # ids {1, 2}, not 3 rows


def test_kmeans_excludes_null_embeddings(spark):
    """A NULL embedding among the k lowest ids must neither crash the seed
    collection nor appear in the output."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        kmeans_assign)
    emb = spark.createDataFrame(
        [(0, None), (1, [0.0, 0.0]), (2, [0.1, 0.0]), (3, [9.0, 9.0])],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"] for r in kmeans_assign(emb, k=2, iters=1).collect()}
    assert out == {1, 2, 3}


def test_kmeans_ragged_dimensions_fail_loudly(spark):
    """A vector whose length differs from the seed dimension must raise a
    clear contract error, not mis-assign through NULL-padded distances."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        kmeans_assign)
    emb = spark.createDataFrame(
        [(1, [1.0]), (2, [5.0, 5.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(RuntimeError, match="ragged"):
        kmeans_assign(emb, k=1, iters=1)


def test_null_embedding_never_a_bucket_candidate(spark):
    """A NULL embedding previously collected in the all-zeros sign-LSH
    bucket (each bit's NULL comparison fell to otherwise('0')) and
    surfaced as a live candidate at cosine 0.0 whenever a query's probe
    neighborhood was thin — while the oracles exclude NULL embeddings
    outright. The bucket functions now map NULL vectors to NULL buckets,
    which every equi-join drops."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        SignLSH, hashed_projection_bucket, knn, sign_lsh_bucket)
    # query 0 is all-negative -> bucket '000...'; the only other row in
    # that bucket used to be the NULL vector
    emb = spark.createDataFrame(
        [(0, [-1.0, -1.0, -1.0, -1.0, -1.0, -1.0]),
         (1, None),
         (2, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>")
    got = knn(emb, emb.filter("vec_id = 0"), k=3,
              quantizer=SignLSH()).collect()
    assert [r["neighbor_id"] for r in got] == []  # 990004-class row gone
    buckets = {r["vec_id"]: (r["b1"], r["b2"]) for r in emb.select(
        "vec_id",
        sign_lsh_bucket(F.col("embedding"), 6).alias("b1"),
        hashed_projection_bucket(F.col("embedding"), 6, 6).alias("b2"),
    ).collect()}
    assert buckets[1] == (None, None)
    assert None not in buckets[0] and None not in buckets[2]
