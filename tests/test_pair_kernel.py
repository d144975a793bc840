"""Parity pins for the r12 Arrow pair-scoring kernel
(`similarity._scored_pairs_kernel`): the kernel must be FLOAT-IDENTICAL
to the interpreted `cosine_col` expression over every input shape the
online serving stages can see — including the malformed rows whose NULL
algebra the expression path defined (NULL vector, NULL element, ragged
lengths, zero norm, NaN element)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from eirepolitic_data_pipeline_spark.operators.similarity import (
    SignLSH, _scored_pairs_kernel, cosine_col, knn)


def _pairs_frame(spark):
    vecs = [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [4.0, 3.0, 2.0, 1.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),          # zero norm -> 0.0
        (4, None),                            # NULL vector -> 0.0
        (5, [1.0, None, 3.0, 4.0]),           # NULL element -> 0.0
        (6, [1.0, 2.0]),                      # ragged -> NULL dot
        (7, [float("nan"), 1.0, 1.0, 1.0]),   # NaN -> NaN (sorts top)
        (8, [1e308, 1e308, -1e308, 0.5]),     # overflow -> inf norms
        (9, [-1.0, -2.0, -3.0, -4.5]),
    ]
    df = spark.createDataFrame(vecs, "id long, v array<double>")
    a = df.select(F.col("id").alias("qid"), F.col("v").alias("qv"))
    b = df.select(F.col("id").alias("nid"), F.col("v").alias("nv"))
    return a.crossJoin(b).filter(F.col("qid") != F.col("nid"))


def test_kernel_matches_expression_bitwise(spark):
    pairs = _pairs_frame(spark)
    expr = pairs.select("qid", "nid",
                        cosine_col("nv", "qv").alias("cosine"))
    kern = _scored_pairs_kernel(pairs, "qid", "nid", "qv", "nv")

    def key(rows):
        out = {}
        for r in rows:
            c = r["cosine"]
            # bit-exact comparison: NaN != NaN, so compare repr of the
            # raw double (repr distinguishes -0.0 and preserves all bits)
            out[(r["qid"], r["nid"])] = repr(c)
        return out

    e, k = key(expr.collect()), key(kern.collect())
    assert e == k
    # sanity on the shapes the fixture encodes
    assert e[(4, 1)] == "0.0"            # NULL vector
    assert e[(5, 1)] == "0.0"            # NULL element
    assert e[(1, 6)] == "None"           # ragged pair -> NULL cosine
    assert e[(7, 1)] == "nan"            # NaN propagates
    assert math.isfinite(float(e[(1, 2)]))


def test_knn_bruteforce_kernel_results_pinned(spark):
    """End-to-end: the kernel-scored exhaustive knn over a clean corpus
    must reproduce the expression recipe's exact top-k (values computed
    independently here with the same sequential fold)."""
    rows = [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 3)
    got = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
           for r in knn(df, queries, k=4).collect()}

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        if not (na > 0 and nb > 0):
            return 0.0
        return dot / (math.sqrt(na) * math.sqrt(nb))

    byid = dict(rows)
    for q in range(3):
        scored = sorted(
            ((-cos(byid[n], byid[q]), n) for n in byid if n != q))
        for rk, (negc, n) in enumerate(scored[:4], start=1):
            assert got[(q, rk)] == (n, -negc)


def test_knn_lsh_kernel_handles_malformed_bucketed_rows(spark):
    """A NULL-element vector whose first n_bits coordinates still bucket
    (sign_lsh_bucket votes '0' on NULL) reaches the scoring kernel; its
    cosine must stay 0.0 (the expression's NULL-fold rule), never NaN —
    the exact hazard of the pandas NULL->NaN bridge the kernel avoids."""
    rows = [
        (1, [1.0, 1.0, 1.0, 1.0]),
        (2, [1.0, 1.0, 1.0, None]),   # buckets like row 1, NULL element
        (3, [1.0, 1.0, 0.9, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {(r["query_id"], r["neighbor_id"]): r["cosine"]
           for r in knn(df, df, k=3, quantizer=SignLSH(n_bits=3)).collect()}
    assert out[(1, 2)] == 0.0
    assert out[(3, 2)] == 0.0
    assert out[(1, 3)] > 0.99
