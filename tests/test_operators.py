"""Operator-library tests: dedupe, temporal, ranking, similarity."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from eirepolitic_data_pipeline_spark.operators import (
    argmax_per_group,
    current_else_latest,
    dedupe_with_conflicts,
    exact_duplicate_groups,
    interval_overlap_counts,
    jaccard_similar_pairs,
    SignLSH,
    knn,
    minhash_lsh_candidates,
    simhash_near_pairs,
    temporal_integrity_report,
    top_n_per_group,
)
from eirepolitic_data_pipeline_spark.operators.dedupe import minhash_dedup
from eirepolitic_data_pipeline_spark.operators.temporal import scope_replace_union


def d(s):
    return datetime.date.fromisoformat(s)


# ---------------------------------------------------------------------------
# dedupe
# ---------------------------------------------------------------------------

def test_exact_duplicate_groups(spark):
    docs = spark.createDataFrame(
        [(1, "Hello,   WORLD!"), (2, "hello world"), (3, "different text")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["canonical_id"], r["dup_group_size"])
           for r in exact_duplicate_groups(docs).collect()}
    # punctuation/case/whitespace-normalized → 1 and 2 are exact dups
    assert out[1] == (1, 2) and out[2] == (1, 2) and out[3] == (3, 1)


def test_dedupe_with_conflicts(spark):
    df = spark.createDataFrame(
        [("bk1", "x"), ("bk1", "x"), ("bk2", "a"), ("bk2", "b")],
        "bk string, val string")
    deduped, conflicts = dedupe_with_conflicts(df, ["bk"], ["val"])
    assert deduped.count() == 3  # (bk1,x), (bk2,a), (bk2,b)
    got = {r["bk"]: r["distinct_variants"] for r in conflicts.collect()}
    assert got == {"bk2": 2}


def test_jaccard_detects_near_duplicate(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tonight"
    other = "completely unrelated words about spark partitions and shuffles"
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in jaccard_similar_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.8
    assert all(3 not in p for p in pairs)


def test_jaccard_df_cap_drops_hot_shingles(spark):
    hot = "common common common common common"
    docs = spark.createDataFrame(
        [(i, hot) for i in range(5)] + [(9, "rare unique text here")],
        "doc_id long, text string")
    uncapped = jaccard_similar_pairs(docs, threshold=0.9).count()
    capped = jaccard_similar_pairs(docs, threshold=0.9, max_shingle_df=3).count()
    assert uncapped == 10  # all hot-doc pairs
    assert capped == 0     # stop-shingle removed → no candidates


def test_minhash_candidates_and_dedup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [(1, base), (2, base + " mu"), (3, "totally different content words")],
        "doc_id long, text string")
    cand = minhash_lsh_candidates(docs, num_hashes=16, band_rows=2)
    pairs = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    assert (1, 2) in pairs
    canon = {r["doc_id"]: r["canonical_id"]
             for r in minhash_dedup(docs, num_hashes=16, band_rows=2,
                                    threshold=0.5).collect()}
    assert canon == {1: 1, 2: 1, 3: 3}


def test_minhash_dedup_transitive_chain(spark):
    # A~B and B~C above threshold, A~C below: a single-hop canonical would
    # split the component (C -> B); the min-label iteration must collapse
    # all three to doc 1.
    toks = [f"w{i}" for i in range(14)]
    a_txt = " ".join(toks)                                    # 12 shingles
    b_txt = a_txt + " " + " ".join(f"x{i}" for i in range(6))  # J(A,B)=12/18
    c_txt = b_txt + " " + " ".join(f"y{i}" for i in range(6))  # J(A,C)=12/24
    docs = spark.createDataFrame(
        [(1, a_txt), (2, b_txt), (3, c_txt), (4, "unrelated island text ok")],
        "doc_id long, text string")
    canon = {r["doc_id"]: r["canonical_id"]
             for r in minhash_dedup(docs, num_hashes=16, band_rows=2,
                                    threshold=0.6).collect()}
    assert canon == {1: 1, 2: 1, 3: 1, 4: 4}


def test_simhash_near_pairs(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok7", "tok7x")
    far = " ".join(f"other{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in simhash_near_pairs(docs, max_hamming=4).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_long_packs_bitstring(spark):
    """The packed LONG encoding (the r6 search path) must be exactly the
    bit-string's binary value — including bit 63's two's-complement weight
    at bits=64, where the first '1' makes the long negative."""
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        simhash_longs, simhash_signatures)

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(30))) for i in range(12)],
        "doc_id long, text string")
    for bits in (32, 64):
        strs = {r["doc_id"]: r["simhash"]
                for r in simhash_signatures(docs, bits=bits).collect()}
        longs = {r["doc_id"]: r["sim64"]
                 for r in simhash_longs(docs, bits=bits).collect()}
        assert strs.keys() == longs.keys()
        for doc, s in strs.items():
            expect = int(s, 2)
            if bits == 64 and s[0] == "1":
                expect -= 1 << 64  # signed two's complement
            assert longs[doc] == expect, (bits, doc, s)
    # the 64-bit path must flow through the banded search end-to-end
    base = " ".join(f"tok{i}" for i in range(40))
    near_docs = spark.createDataFrame(
        [(1, base), (2, base.replace("tok7", "tok7x"))],
        "doc_id long, text string")
    got = simhash_near_pairs(near_docs, bits=64, band_bits=16,
                             max_hamming=8).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [(1, 2)]


# ---------------------------------------------------------------------------
# temporal
# ---------------------------------------------------------------------------

def test_current_else_latest_prefers_current(spark):
    df = spark.createDataFrame(
        [("m1", d("2020-01-01"), d("2021-01-01"), False),
         ("m1", d("2021-01-02"), None, True),
         ("m2", d("2018-01-01"), d("2019-01-01"), False),
         ("m2", d("2019-01-02"), d("2020-01-01"), False)],
        "member string, start date, end date, is_current boolean")
    out = {r["member"]: r["start"] for r in
           current_else_latest(df, ["member"], "start", "end", "is_current").collect()}
    assert out["m1"] == d("2021-01-02")      # the current row
    assert out["m2"] == d("2019-01-02")      # latest by end-date sentinel


def test_interval_overlap_counts(spark):
    df = spark.createDataFrame(
        [("e1", d("2020-01-01"), d("2020-06-01")),
         ("e1", d("2020-05-01"), d("2020-12-01")),   # overlaps previous
         ("e1", d("2021-01-01"), None),              # no overlap
         ("e2", d("2020-01-01"), d("2020-02-01"))],
        "entity string, start date, end date")
    out = {r["entity"]: r["overlap_count"]
           for r in interval_overlap_counts(df, ["entity"], "start", "end").collect()}
    assert out == {"e1": 1, "e2": 0}


def test_temporal_integrity_report(spark):
    df = spark.createDataFrame(
        [(d("2020-01-01"), d("2019-01-01"), False),   # start > end
         (d("2030-01-01"), None, True),               # future-dated current
         (d("2020-01-01"), d("2021-01-01"), False)],
        "start date, end date, is_current boolean")
    r = temporal_integrity_report(
        df, "start", "end", "is_current", today=F.lit("2026-01-01").cast("date")
    ).collect()[0]
    assert r["start_after_end"] == 1
    assert r["future_dated_current"] == 1


def test_scope_replace_union(spark):
    existing = spark.createDataFrame(
        [("2026W01", "a"), ("2026W02", "b")], "week string, v string")
    incoming = spark.createDataFrame(
        [("2026W02", "b2"), ("2026W02", "b3")], "week string, v string")
    out = scope_replace_union(existing, incoming, F.col("week") == "2026W02")
    got = sorted((r["week"], r["v"]) for r in out.collect())
    assert got == [("2026W01", "a"), ("2026W02", "b2"), ("2026W02", "b3")]


# ---------------------------------------------------------------------------
# ranking
# ---------------------------------------------------------------------------

def test_top_n_and_argmax(spark):
    df = spark.createDataFrame(
        [("g1", "a", 3), ("g1", "b", 5), ("g1", "c", 5), ("g2", "d", 1)],
        "g string, k string, v int")
    top = top_n_per_group(df, ["g"], [F.col("v").desc(), F.col("k")], 2)
    got = sorted((r["g"], r["k"], r["rank"]) for r in top.collect())
    assert got == [("g1", "b", 1), ("g1", "c", 2), ("g2", "d", 1)]
    am = argmax_per_group(df, ["g"], [F.col("v").desc(), F.col("k")])
    assert sorted((r["g"], r["k"]) for r in am.collect()) == [("g1", "b"), ("g2", "d")]


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

def test_knn_bruteforce_and_lsh_agree_on_obvious_neighbor(spark):
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]),
         (2, [0.99, 0.1, 0.0, 0.0]),
         (3, [-1.0, 0.0, 0.0, 0.0]),
         (4, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    q = vecs.filter(F.col("vec_id") == 1)
    bf = knn(vecs, q, k=1)
    assert [(r["query_id"], r["neighbor_id"]) for r in bf.collect()] == [(1, 2)]
    approx = knn(vecs, q, k=1, quantizer=SignLSH(n_bits=4))
    assert [(r["query_id"], r["neighbor_id"]) for r in approx.collect()] == [(1, 2)]


def test_week_id_matches_reference_semantics(spark):
    """X11 sweep incl. year boundaries against a pure-python mirror of the
    reference's first-Monday week numbering."""
    from datetime import date, timedelta
    from eirepolitic_data_pipeline_spark.functions.scalar import week_id

    def py_week_id(d):
        def first_monday(y):
            j = date(y, 1, 1)
            return j + timedelta(days=(7 - j.weekday()) % 7)
        ws = d - timedelta(days=d.weekday())
        y = d.year
        if ws < first_monday(y):
            y -= 1
        wn = ((ws - first_monday(y)).days // 7) + 1
        return f"{y}{wn:02d}"

    days = [date(2024, 1, 1) + timedelta(days=i) for i in range(0, 800, 13)]
    # Force the tricky spots: Jan 1s falling mid-week, first Mondays, Dec 31.
    days += [date(2025, 1, 1), date(2025, 1, 5), date(2025, 1, 6),
             date(2026, 1, 1), date(2026, 12, 31), date(2023, 1, 1)]
    df = spark.createDataFrame([(d.isoformat(),) for d in days], "d string")
    got = [r["w"] for r in df.select(week_id("d").alias("w")).collect()]
    assert got == [py_week_id(d) for d in days]


def test_sentence_splitting(spark):
    from eirepolitic_data_pipeline_spark.functions.text import sentences
    long_piece = ("Clause one " + "word " * 30 + "; clause two " + "word " * 25
                  + "end")
    df = spark.createDataFrame(
        [('First sentence. Second one! "Quoted start." Third? 9 lives. '
          + long_piece,)], "t string")
    got = df.select(sentences("t").alias("s")).collect()[0]["s"]
    assert got[0] == "First sentence."
    assert got[1] == "Second one!"
    # Reference lookbehind needs [.!?] directly before the space, so a
    # closing quote glues the next sentence on — kept exact.
    assert got[2] == '"Quoted start." Third?'
    assert got[3] == "9 lives."
    # The >50-word tail was re-split on the semicolon.
    assert any(s.startswith("Clause one") for s in got[4:])
    assert any(s.startswith("clause two") for s in got[4:])
    assert all(s == s.strip() and s for s in got)


# ---------------------------------------------------------------------------
# skew (salted two-phase operators)
# ---------------------------------------------------------------------------

def test_salted_top_n_matches_single_phase(spark):
    from eirepolitic_data_pipeline_spark.operators.skew import salted_top_n
    # one hot key (u1, 200 rows) + small keys; unique tiebreak = row id
    rows = [("u1", i, float(i % 37)) for i in range(200)]
    rows += [("u2", 1000 + i, float(i)) for i in range(5)]
    rows += [("u3", 2000, 9.0)]
    df = spark.createDataFrame(rows, "key string, row_id long, score double")
    order = [F.col("score").desc(), F.col("row_id")]
    got = salted_top_n(df, ["key"], order, 3, buckets=8)
    want = top_n_per_group(df, ["key"], order, 3)
    key = lambda r: (r["key"], r["rank"])
    got_m = {key(r): r["row_id"] for r in got.collect()}
    want_m = {key(r): r["row_id"] for r in want.collect()}
    assert got_m == want_m
    assert len(got_m) == 3 + 3 + 1  # u3 has a single row


def test_salted_top_n_requires_positive_n(spark):
    import pytest as _pytest
    from eirepolitic_data_pipeline_spark.operators.skew import salted_top_n
    df = spark.createDataFrame([("a", 1)], "key string, v long")
    with _pytest.raises(ValueError):
        salted_top_n(df, ["key"], [F.col("v")], 0)


def test_salted_agg_and_string_agg(spark):
    from eirepolitic_data_pipeline_spark.operators.skew import (
        salted_agg,
        salted_string_agg,
    )
    rows = [("k1", f"office_{i % 7}", float(i)) for i in range(100)]
    rows += [("k2", "solo", 1.0)]
    df = spark.createDataFrame(rows, "key string, name string, v double")
    agg = salted_agg(df, ["key"], {
        "total": ("sum", "v"),
        "n": ("count", "v"),
        "hi": ("max", "v"),
        "names": ("collect_set", "name"),
    }, buckets=8)
    out = {r["key"]: r for r in agg.collect()}
    assert out["k1"]["n"] == 100 and out["k1"]["hi"] == 99.0
    assert abs(out["k1"]["total"] - sum(float(i) for i in range(100))) < 1e-9
    assert sorted(out["k1"]["names"]) == sorted({f"office_{i}" for i in range(7)})
    assert out["k2"]["n"] == 1 and out["k2"]["names"] == ["solo"]

    s = salted_string_agg(df, ["key"], "name", buckets=8, out_col="names")
    got = {r["key"]: r["names"] for r in s.collect()}
    assert got["k1"] == "; ".join(sorted(f"office_{i}" for i in range(7)))
    assert got["k2"] == "solo"


def test_salted_agg_rejects_non_recombinable(spark):
    import pytest as _pytest
    from eirepolitic_data_pipeline_spark.operators.skew import salted_agg
    df = spark.createDataFrame([("a", 1)], "key string, v long")
    with _pytest.raises(ValueError):
        salted_agg(df, ["key"], {"bad": ("avg", "v")})


def test_winnowed_fingerprints_three_way_parity(spark):
    from eirepolitic_data_pipeline_spark.functions.text import (
        winnowed_fingerprints,
    )
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        winnow_py,
        winnowed_fingerprint_frame,
    )
    texts = [
        (1, "The quick brown fox jumps over the lazy dog!"),
        (2, "the QUICK   brown-fox"),
        (3, "ab"),                      # shorter than k -> empty
        (4, ""),                        # empty -> empty
        (5, "aaaaaaaaaaaa"),            # degenerate repeats
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    expect = {i: winnow_py(t_, k=5, window=4) for i, t_ in texts}

    kernel = {r["doc_id"]: list(r["fingerprints"])
              for r in winnowed_fingerprint_frame(df, k=5, window=4).collect()}
    assert kernel == expect

    colexpr = {r["doc_id"]: list(r["fp"]) for r in df.select(
        "doc_id", winnowed_fingerprints("text", k=5, window=4).alias("fp")
    ).collect()}
    assert colexpr == expect


def test_winnowing_shared_substring_guarantee(spark):
    # any shared normalized substring of length k + window - 1 = 8 must
    # produce at least one shared fingerprint
    from eirepolitic_data_pipeline_spark.operators.dedupe import winnow_py
    a = winnow_py("xxxx SHAREDSEQ yyyy", k=5, window=4)
    b = winnow_py("completely other SHAREDSEQ words", k=5, window=4)
    assert set(a) & set(b)


# ---------------------------------------------------------------------------
# curation (splits / sampling / packing)
# ---------------------------------------------------------------------------

def test_dataset_split_group_preserving_and_stable(spark):
    from eirepolitic_data_pipeline_spark.operators.curation import dataset_split
    rows = [(i, f"src_{i % 40}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = dataset_split(df, "source").collect()
    # group-preserving: one split per source
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_src.values())
    # deterministic across runs
    again = {(r["doc_id"]): r["split"]
             for r in dataset_split(df, "source").collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in out)
    assert {r["split"] for r in out} <= {"train", "val", "test"}


def test_dataset_split_rejects_bad_weights(spark):
    import pytest as _pytest
    from eirepolitic_data_pipeline_spark.operators.curation import dataset_split
    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with _pytest.raises(ValueError):
        dataset_split(df, "source", {"train": 0.5, "val": 0.1}).collect()


def test_hash_sample_nested_and_deterministic(spark):
    from eirepolitic_data_pipeline_spark.operators.curation import hash_sample
    df = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    small = {r["k"] for r in hash_sample(df, "k", 0.1).collect()}
    big = {r["k"] for r in hash_sample(df, "k", 0.3).collect()}
    assert small and small < big          # nested: 10% subset of 30%
    assert 100 < len(small) < 320         # roughly uniform
    assert small == {r["k"] for r in hash_sample(df, "k", 0.1).collect()}


def test_pack_sequences_budget_bound(spark):
    from eirepolitic_data_pipeline_spark.operators.curation import pack_sequences
    rows = [(i, 10 + (i * 7) % 90) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    packed = pack_sequences(df, "doc_id", "n_tok", budget=300, shards=4)
    per_batch = (packed.groupBy("shard", "batch_id")
                 .agg(F.sum("n_tok").alias("total"),
                      F.max("n_tok").alias("mx")).collect())
    # every batch bounded by budget + its largest doc; consecutive ids
    for r in per_batch:
        assert r["total"] <= 300 + r["mx"]
    # batches within a shard are contiguous in doc order
    rows_ = packed.orderBy("shard", "doc_id").collect()
    for a, b in zip(rows_, rows_[1:]):
        if a["shard"] == b["shard"]:
            assert b["batch_id"] >= a["batch_id"]


def test_point_in_interval_join_matches_naive(spark):
    import datetime as _dt
    from eirepolitic_data_pipeline_spark.operators.temporal import (
        point_in_interval_join,
    )
    base = _dt.datetime(2026, 1, 1)
    pts = spark.createDataFrame(
        [(i, base + _dt.timedelta(minutes=17 * i)) for i in range(200)],
        "pid long, ts timestamp")
    ivs = spark.createDataFrame(
        [(j, base + _dt.timedelta(hours=j * 3),
          base + _dt.timedelta(hours=j * 3, minutes=90)) for j in range(20)],
        "wid long, w_start timestamp, w_end timestamp")
    got = point_in_interval_join(pts, ivs, "ts", "w_start", "w_end",
                                 bucket="1 hour")
    naive = pts.crossJoin(ivs).filter(
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
    g = {(r["pid"], r["wid"]) for r in got.collect()}
    n = {(r["pid"], r["wid"]) for r in naive.collect()}
    assert g == n and len(g) > 0

    # left join keeps unmatched points with null interval columns
    left = point_in_interval_join(pts, ivs, "ts", "w_start", "w_end",
                                  bucket="1 hour", how="left")
    assert left.filter(F.col("wid").isNull()).count() == \
        pts.count() - len({p for p, _ in g})
    assert left.count() == len(g) + pts.count() - len({p for p, _ in g})


def test_interval_join_tolerates_malformed_and_null_rows(spark):
    import datetime as _dt
    from eirepolitic_data_pipeline_spark.operators.temporal import (
        point_in_interval_join,
    )
    base = _dt.datetime(2026, 1, 1)
    pts = spark.createDataFrame(
        [(1, base + _dt.timedelta(minutes=30), "u"),
         (2, base + _dt.timedelta(minutes=30), None),   # NULL payload col
         (3, base + _dt.timedelta(days=9), "v")],       # matches nothing
        "pid long, ts timestamp, tag string")
    ivs = spark.createDataFrame(
        [(10, base, base + _dt.timedelta(hours=1)),
         (11, base + _dt.timedelta(hours=2), base)],    # end < start: dropped
        "wid long, w_start timestamp, w_end timestamp")
    out = point_in_interval_join(pts, ivs, "ts", "w_start", "w_end",
                                 bucket="1 hour", how="left").collect()
    by_pid = {}
    for r in out:
        by_pid.setdefault(r["pid"], []).append(r["wid"])
    # NULL-column matched row appears exactly ONCE (null-safe anti-join)
    assert by_pid[2] == [10]
    assert by_pid[1] == [10]
    assert by_pid[3] == [None]
    assert len(out) == 3


def test_dataset_split_null_keys_deterministic(spark):
    from eirepolitic_data_pipeline_spark.operators.curation import (
        dataset_split, hash_sample)
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "src")], "doc_id long, source string")
    out = {r["doc_id"]: r["split"] for r in
           dataset_split(df, "source").collect()}
    assert out[1] == out[2] and out[1] in {"train", "val", "test"}
    # NULL keys participate in sampling decisions (not silently dropped)
    full = hash_sample(df, "source", 1.0)
    assert full.count() == 3


# ---------------------------------------------------------------------------
# round-4 additions: decontamination, semantic dedup, PII scrubbing
# ---------------------------------------------------------------------------

def test_decontaminate_ngram_overlap(spark):
    from eirepolitic_data_pipeline_spark.operators.dedupe import decontaminate
    corpus = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog again and again ok"),
        (2, "completely unrelated content with no benchmark overlap at all x"),
        (3, "prefix words then the quick brown fox jumps over the lazy dog"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame([
        (100, "quiz answer the quick brown fox jumps over the lazy dog end"),
    ], "doc_id long, text string")
    kept, contaminated = decontaminate(corpus, bench, n=8)
    assert sorted(r["doc_id"] for r in kept.collect()) == [2]
    bad = {r["doc_id"]: r["n_hits"] for r in contaminated.collect()}
    assert set(bad) == {1, 3} and all(v >= 1 for v in bad.values())
    # long-n grain: a short shared phrase is NOT contamination
    kept2, _ = decontaminate(
        corpus.filter("doc_id = 2"),
        spark.createDataFrame([(9, "unrelated content here")],
                              "doc_id long, text string"), n=8)
    assert kept2.count() == 1


def test_semantic_dedup_components(spark):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        semantic_dedup)
    # same-cell near-identical vectors (cosine ~1) + a distinct vector in
    # the same cell + one in another cell
    rows = [
        (1, [0.10, 0.10, 0.9, 0.0]),
        (2, [0.101, 0.1, 0.9, 0.001]),    # ~dup of 1
        (3, [0.102, 0.099, 0.901, 0.0]),  # ~dup of 1/2 (transitive chain)
        (4, [0.12, 0.12, -0.9, 0.0]),     # same cell, opposite direction
        (5, [-0.9, -0.9, 0.1, 0.0]),      # different cell
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["canonical_id"]
           for r in semantic_dedup(df, threshold=0.99).collect()}
    assert out[1] == out[2] == out[3] == 1   # chain collapses to min id
    assert out[4] == 4 and out[5] == 5       # not merged
    # keep-one-per-canonical leaves 3 rows
    assert len(set(out.values())) == 3


def test_pii_counts_and_redaction(spark):
    from eirepolitic_data_pipeline_spark.functions.text import (
        pii_counts, redact_pii)
    df = spark.createDataFrame([
        ("mail a.b-c_1@sub.example.co.uk or x@y.io, ip 192.168.0.1, "
         "call +353 1 234 5678 end",),
        ("no pii here, just version 1.2 and year 2026",),
        (None,),
    ], "t string")
    c = pii_counts("t")
    out = df.select(
        c["n_email"].alias("e"), c["n_ipv4"].alias("i"),
        c["n_phone"].alias("p"), redact_pii("t").alias("r")).collect()
    assert (out[0]["e"], out[0]["i"], out[0]["p"]) == (2, 1, 1)
    assert out[0]["r"] == ("mail [PII] or [PII], ip [PII], call [PII] end")
    # dotted-but-not-ip and bare numbers are left alone
    assert (out[1]["e"], out[1]["i"], out[1]["p"]) == (0, 0, 0)
    assert out[1]["r"].startswith("no pii here")
    assert (out[2]["e"], out[2]["i"], out[2]["p"]) == (0, 0, 0)
    assert out[2]["r"] == ""


def test_min_label_components_chain_and_isolates(spark):
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        min_label_components)
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    # chain 1-2-3, pair 5-6, isolate 4
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (6, 5)], "doc_a long, doc_b long")
    out = {r["id"]: r["canonical_id"]
           for r in min_label_components(ids, pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_incremental_additive_equals_full_recompute(spark):
    from eirepolitic_data_pipeline_spark.operators.incremental import (
        incremental_additive)
    from pyspark.sql import functions as F

    full = spark.range(10000).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("v"))
    b1, b2 = full.filter("id < 6000"), full.filter("id >= 6000")

    def rollup(df):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))

    prev = rollup(b1)
    got = {r["g"]: (r["n"], r["total"]) for r in
           incremental_additive(prev, rollup(b2), ["g"],
                                ["n", "total"]).collect()}
    want = {r["g"]: (r["n"], r["total"]) for r in rollup(full).collect()}
    assert got == want

    # delta introducing a brand-new group; prev-only group untouched
    prev2 = rollup(b1.filter("g <> 0"))
    delta = rollup(b2.filter("g = 0")).withColumn(
        "g", F.lit(99))  # synthetic new group
    out = {r["g"]: r["n"] for r in incremental_additive(
        prev2, delta, ["g"], ["n", "total"]).collect()}
    assert 99 in out and 1 in out and 0 not in out


def test_recompute_groups_partial_rebuild(spark):
    from eirepolitic_data_pipeline_spark.operators.incremental import (
        recompute_groups)
    from pyspark.sql import functions as F

    facts = spark.range(1000).select(
        (F.col("id") % 5).alias("g"), F.col("id").alias("v"))

    def agg_fn(df):
        # median: non-additive, needs the partial-rebuild path
        return df.groupBy("g").agg(
            F.expr("percentile(v, 0.5)").alias("med"))

    prev = agg_fn(facts).withColumn(
        "med", F.when(F.col("g") == 2, -1.0).otherwise(F.col("med")))
    affected = spark.createDataFrame([(2,)], "g long")
    out = {r["g"]: r["med"] for r in
           recompute_groups(prev, facts, affected, ["g"], agg_fn).collect()}
    true = {r["g"]: r["med"] for r in agg_fn(facts).collect()}
    assert out[2] == true[2]            # rebuilt group corrected
    assert out == true                  # untouched groups preserved as-is


def test_stratified_sample_deterministic_per_stratum(spark):
    from eirepolitic_data_pipeline_spark.operators.curation import (
        stratified_sample)
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(f"d{i}", "en" if i % 2 == 0 else "ga") for i in range(4000)],
        "doc_id string, lang string")
    out = stratified_sample(df, ["lang"], {("en",): 0.5, ("ga",): 0.1},
                            key_col="doc_id")
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(got["en"] / 2000 - 0.5) < 0.05
    assert abs(got["ga"] / 2000 - 0.1) < 0.05
    # deterministic across runs
    again = stratified_sample(df, ["lang"], {("en",): 0.5, ("ga",): 0.1},
                              key_col="doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == \
        sorted(r["doc_id"] for r in again.collect())
    # missing stratum => excluded (explicit opt-in)
    assert stratified_sample(df, ["lang"], {("en",): 0.5},
                             key_col="doc_id") \
        .filter("lang = 'ga'").count() == 0
    # scalar fraction applies everywhere
    flat = stratified_sample(df, ["lang"], 0.25, key_col="doc_id")
    assert abs(flat.count() / 4000 - 0.25) < 0.05


def test_resample_periodic_gap_fill(spark):
    from eirepolitic_data_pipeline_spark.operators.curation import (
        resample_periodic)
    import datetime as dt
    rows = [
        ("a", dt.datetime(2026, 1, 1, 0, 0), 1.0),
        ("a", dt.datetime(2026, 1, 1, 0, 10), 1.5),   # same hour as above
        ("a", dt.datetime(2026, 1, 1, 3, 0), 4.0),    # 2-hour gap
        ("b", dt.datetime(2026, 1, 1, 5, 0), 9.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = resample_periodic(df, ["k"], "ts", "1 hour", ["v"])
    a = {r["ts"].hour: r["v"] for r in out.filter("k = 'a'").collect()}
    # grid covers hours 0..3; bucket keeps LAST obs per tick; gap filled
    assert a == {0: 1.5, 1: 1.5, 2: 1.5, 3: 4.0}
    assert out.filter("k = 'b'").count() == 1
    # fill='none' leaves the gap hours null
    holes = resample_periodic(df, ["k"], "ts", "1 hour", ["v"], fill="none")
    a2 = {r["ts"].hour: r["v"] for r in holes.filter("k = 'a'").collect()}
    assert a2[1] is None and a2[2] is None and a2[0] == 1.5
    import pytest as _pytest
    with _pytest.raises(ValueError):
        resample_periodic(df, ["k"], "ts", "2 weeks", ["v"])


def test_incremental_additive_null_keys_merge(spark):
    """NULL group keys (groupBy emits them for null dimensions) must merge
    null-safely — not double-row."""
    from eirepolitic_data_pipeline_spark.operators.incremental import (
        incremental_additive, recompute_groups)
    from pyspark.sql import functions as F
    prev = spark.createDataFrame([(None, 5), ("a", 1)], "g string, n long")
    delta = spark.createDataFrame([(None, 3), ("b", 2)], "g string, n long")
    out = {r["g"]: r["n"] for r in
           incremental_additive(prev, delta, ["g"], ["n"]).collect()}
    assert out == {None: 8, "a": 1, "b": 2}

    # recompute_groups: a null key in affected_keys really rebuilds
    facts = spark.createDataFrame(
        [(None, 1), (None, 2), ("a", 7)], "g string, v long")

    def agg_fn(df):
        return df.groupBy("g").agg(F.sum("v").alias("n"))

    stale = spark.createDataFrame([(None, -99), ("a", 7)], "g string, n long")
    affected = spark.createDataFrame([(None,)], "g string")
    got = {r["g"]: r["n"] for r in
           recompute_groups(stale, facts, affected, ["g"], agg_fn).collect()}
    assert got == {None: 3, "a": 7}


def test_resample_periodic_pre_epoch_floor(spark):
    """Pre-1970 timestamps floor to the bucket CONTAINING them (truncation
    toward zero would push them one bucket late)."""
    from eirepolitic_data_pipeline_spark.operators.curation import (
        resample_periodic)
    import datetime as dt
    df = spark.createDataFrame(
        [("a", dt.datetime(1969, 12, 31, 23, 30), 1.0),
         ("a", dt.datetime(1970, 1, 1, 1, 30), 2.0)],
        "k string, ts timestamp, v double")
    out = sorted((r["ts"], r["v"]) for r in
                 resample_periodic(df, ["k"], "ts", "1 hour", ["v"]).collect())
    assert out[0][0] == dt.datetime(1969, 12, 31, 23, 0)   # contains the obs
    # 23:00 observed 1.0, 00:00 gap ffilled, 01:00 observed 2.0
    assert [v for _, v in out] == [1.0, 1.0, 2.0]
    assert out[-1][0] == dt.datetime(1970, 1, 1, 1, 0)


def test_cosine_zero_vector_scores_zero_not_nan(spark):
    """A zero embedding must not rank first: NaN sorts above every real in
    a descending Spark sort, so cosine of a zero-norm vector is pinned to
    0.0 instead."""
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>")
    q = vecs.filter(F.col("vec_id") == 1)
    out = knn(vecs, q, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [2, 3]
    by_id = {r["neighbor_id"]: r["cosine"] for r in out}
    assert by_id[3] == 0.0


def test_semantic_dedup_hot_cell_cap(spark):
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        semantic_dedup)
    # 30 near-identical vectors in one cell + a 2-vector dup pair elsewhere
    rows = [(i, [0.5 + i * 1e-6, 0.5, 0.5, 0.0]) for i in range(30)]
    rows += [(100, [-0.9, -0.9, 0.1, 0.0]), (101, [-0.9, -0.9001, 0.1, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # cap below the hot cell: its rows stay their own canonicals, the
    # small cell still collapses
    capped = {r["vec_id"]: r["canonical_id"]
              for r in semantic_dedup(df, threshold=0.99, max_cell=10).collect()}
    assert all(capped[i] == i for i in range(30))
    assert capped[100] == capped[101] == 100
    # uncapped: the hot cell collapses to one canonical
    full = {r["vec_id"]: r["canonical_id"]
            for r in semantic_dedup(df, threshold=0.99, max_cell=None).collect()}
    assert all(full[i] == 0 for i in range(30))


def test_dedupe_lines_strips_boilerplate_preserves_order(spark):
    from eirepolitic_data_pipeline_spark.operators.dedupe import dedupe_lines
    banner = "accept all cookies to continue"
    rows = [
        (1, f"unique opening line one\n{banner}\nmiddle content doc one\nok"),
        (2, f"{banner}\nsecond doc body text here"),
        (3, f"third doc only body line\n{banner}"),
        (4, banner),                       # fully boilerplate
        (5, "untouched standalone document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in dedupe_lines(df).collect()}
    # banner removed everywhere, original line order preserved
    assert out[1] == "unique opening line one\nmiddle content doc one\nok"
    assert out[2] == "second doc body text here"
    assert out[3] == "third doc only body line"
    # fully-boilerplate doc survives with empty text (row counts stable)
    assert out[4] == ""
    assert out[5] == "untouched standalone document"
    # "ok" is under min_chars: exempt even though it could collide
    many_ok = spark.createDataFrame(
        [(i, "ok\nbody %d" % i) for i in range(5)], "doc_id long, text string")
    out2 = {r["doc_id"]: r["text"] for r in dedupe_lines(many_ok).collect()}
    assert all(t.startswith("ok\n") for t in out2.values())


def test_exact_canonical_ids_matches_window_report(spark):
    """exact_canonical_ids (the skew-proof aggregate used by the curation
    hot path) must select exactly the survivors the per-row window report
    names as canonical."""
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        exact_canonical_ids, exact_duplicate_groups)
    rows = [(1, "same text"), (2, "same text"), (3, "other"),
            (4, "  SAME   text "), (5, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lean = {r["doc_id"] for r in exact_canonical_ids(df).collect()}
    report = exact_duplicate_groups(df)
    want = {r["doc_id"] for r in
            report.filter("doc_id = canonical_id").collect()}
    assert lean == want
    # normalization folds case/whitespace: 1,2,4 are one group
    assert lean == {1, 3, 5}


def test_knn_lsh_hot_bucket_cap(spark):
    """The quantizer's opt-in max_bucket guard drops a degenerate bucket's
    candidates (conservative recall loss) instead of funneling the whole
    bucket into one join task; default (None) keeps full recall."""
    # 50 vectors in one degenerate bucket (same signs) + 2 in another
    rows = ([(i, [1.0, float(i)]) for i in range(50)]
            + [(100, [-1.0, 5.0]), (101, [-1.0, 4.9])])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id in (0, 100)")
    full = knn(df, q, k=3, quantizer=SignLSH(n_bits=2))
    assert full.filter("query_id = 0").count() == 3
    capped = knn(df, q, k=3, quantizer=SignLSH(n_bits=2, max_bucket=10))
    # the 50-vector bucket is skipped; the small bucket still answers
    assert capped.filter("query_id = 0").count() == 0
    assert capped.filter("query_id = 100").count() == 1


# ---------------------------------------------------------------------------
# relevance scoring (operators/relevance.py)
# ---------------------------------------------------------------------------

def test_bm25_scores_hand_computed(spark):
    """BM25 against a 3-doc corpus, checked against the formula evaluated
    by hand: non-negative Lucene IDF, k1=1.2, b=0.75, 0.0 rows for
    documents matching no query term."""
    import math

    from eirepolitic_data_pipeline_spark.operators.relevance import (
        bm25_scores)
    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog fish"), (3, "bird bird bird")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["bm25"]
           for r in bm25_scores(docs, ["cat", "dog"]).collect()}
    n, avgdl, k1, b = 3, (3 + 2 + 3) / 3, 1.2, 0.75

    def score(tf, df_, dl):
        idf = math.log(1 + (n - df_ + 0.5) / (df_ + 0.5))
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp1 = round(score(2, 1, 3) + score(1, 2, 3), 6)  # cat x2, dog x1
    exp2 = round(score(1, 2, 2), 6)                   # dog x1
    assert got == {1: exp1, 2: exp2, 3: 0.0}


def test_bigram_lm_bits_hand_computed(spark):
    """Self-trained bigram LM on a 3-doc corpus, checked by hand:
    P = (c12+0.5)/(c1+0.5*V), bits = mean -log2 P over the doc's bigram
    occurrences; the 1-token doc is absent (no bigram event)."""
    import math

    from eirepolitic_data_pipeline_spark.operators.relevance import (
        bigram_lm_bits)
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in bigram_lm_bits(docs).collect()}
    # corpus bigrams: d1: ab, ba, ab; d2: ab, bc  -> c(ab)=3, c(ba)=1,
    # c(bc)=1; contexts c(a.)=3, c(b.)=2; V = {a,b,c,x} = 4
    v, k = 4, 0.5
    p_ab = (3 + k) / (3 + k * v)
    p_ba = (1 + k) / (2 + k * v)
    p_bc = (1 + k) / (2 + k * v)
    bits1 = round(-(math.log2(p_ab) + math.log2(p_ba) + math.log2(p_ab)) / 3, 6)
    bits2 = round(-(math.log2(p_ab) + math.log2(p_bc)) / 2, 6)
    assert set(rows) == {1, 2}
    assert rows[1]["n_bigrams"] == 3 and rows[1]["bits"] == bits1
    assert rows[2]["n_bigrams"] == 2 and rows[2]["bits"] == bits2


# ---------------------------------------------------------------------------
# profiling (r6)
# ---------------------------------------------------------------------------

def test_ngram_heavy_hitters_counts_and_ranks(spark):
    """Bigram occurrences vs doc_freq, rank tie broken on ngram asc, blank
    docs dropped, and the <n-token whole-text shingle contract."""
    from eirepolitic_data_pipeline_spark.operators.profiling import (
        ngram_heavy_hitters)
    docs = spark.createDataFrame(
        [(1, "a b a b", "s"),       # bigrams: "a b" x2, "b a" x1
         (2, "a b", "s"),           # "a b" x1
         (3, "", "s"),              # blank -> dropped
         (4, "solo", "s"),          # 1 token -> whole-text shingle "solo"
         (5, "z z", "t")],          # other group
        "doc_id long, text string, source string")
    out = [(r["ngram"], r["occurrences"], r["doc_freq"], r["rank"])
           for r in ngram_heavy_hitters(docs, n=2, k=3)
           .filter(F.col("source") == "s")
           .orderBy("rank").collect()]
    # "a b" 3 occurrences across 2 docs; tie between "b a" and "solo"
    # (1 occurrence each) breaks on ngram asc
    assert out == [("a b", 3, 2, 1), ("b a", 1, 1, 2), ("solo", 1, 1, 3)]


def test_source_overlap_containment_and_null_sources(spark):
    """A source whose shingle set is a subset of another's scores
    containment 1.0; NULL sources are excluded from the matrix."""
    from eirepolitic_data_pipeline_spark.operators.profiling import (
        source_overlap)
    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4", "big"),    # shingles: w1w2w3, w2w3w4
         (2, "w1 w2 w3", "sub"),       # shingles: w1w2w3 (subset of big)
         (3, "q r s t", "other"),      # disjoint
         (4, "w1 w2 w3", None)],       # NULL source -> excluded
        "doc_id long, text string, source string")
    rows = {(r["src_a"], r["src_b"]): r
            for r in source_overlap(docs, n=3).collect()}
    assert set(rows) == {("big", "sub")}  # disjoint/NULL pairs absent
    r = rows[("big", "sub")]
    assert (r["shared_ngrams"], r["n_a"], r["n_b"]) == (1, 2, 1)
    assert r["containment"] == 1.0
    assert r["jaccard"] == 0.5  # 1 / (2 + 1 - 1)


# ---------------------------------------------------------------------------
# vectors (r6)
# ---------------------------------------------------------------------------

def test_quantize_int8_roundtrip_and_zero_vector(spark):
    """Extremes map to ±127, per-element reconstruction error stays under
    scale/2, and the all-zero vector quantizes to zeros (never NaN)."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        quantize_int8)
    emb = spark.createDataFrame(
        [(1, [2.54, -2.54, 1.27, 0.0]),
         (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    rows = {r["vec_id"]: r for r in quantize_int8(emb).collect()}
    r1 = rows[1]
    assert abs(r1["scale"] - 2.54 / 127) < 1e-12
    assert r1["qvec"] == [127, -127, 64, 0]  # 1.27/scale = 63.5 -> half-up
    recon_err = max(abs(v - q * r1["scale"])
                    for v, q in zip([2.54, -2.54, 1.27, 0.0], r1["qvec"]))
    assert recon_err <= r1["scale"] / 2 + 1e-12
    assert r1["mse"] > 0
    r2 = rows[2]
    assert r2["scale"] == 0.0 and r2["qvec"] == [0, 0, 0, 0]
    assert r2["mse"] == 0.0


def test_kmeans_two_blobs_deterministic(spark):
    """Two well-separated 2-D blobs split cleanly with k=2; a second run
    reproduces the identical assignment (the 6-dp centroid pin)."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        kmeans_assign)
    pts = ([(i, [0.0 + i * 0.01, 0.0]) for i in range(5)]
           + [(10 + i, [10.0 + i * 0.01, 10.0]) for i in range(5)])
    emb = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cluster"]
           for r in kmeans_assign(emb, k=2, iters=2).collect()}
    # seeds are vec_id 0 and 1 (both in blob A); after the first mean
    # update one centroid must own blob B entirely
    blob_a = {got[i] for i in range(5)}
    blob_b = {got[10 + i] for i in range(5)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b
    again = {r["vec_id"]: r["cluster"]
             for r in kmeans_assign(emb, k=2, iters=2).collect()}
    assert again == got


def test_kmeans_empty_cluster_keeps_centroid_and_k_guard(spark):
    """A seed that loses every member keeps its previous centroid (no
    crash, k clusters remain addressable); k > |vectors| fails loudly."""
    import pytest

    from eirepolitic_data_pipeline_spark.operators.vectors import (
        kmeans_assign)
    # vec 0 and 1 are identical: both seed centroids start equal, ties go
    # to cluster 0, so cluster 1 empties on the first assignment — then its
    # CARRIED centroid (still exactly [1,1]) re-captures the identical pair
    # once cluster 0's centroid drifts to the 3-point mean
    emb = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [1.1, 1.0])],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["cluster"], r["dist"])
           for r in kmeans_assign(emb, k=2, iters=2).collect()}
    assert out == {0: (1, 0.0), 1: (1, 0.0), 2: (0, 0.0)}
    with pytest.raises(ValueError, match="exceeds"):
        kmeans_assign(emb, k=5, iters=1)


def test_diversity_sample_quota_and_determinism(spark):
    """Every cluster contributes at most `quota` picks, pick_rank is
    contiguous from 1, the pick is reproducible, and quota >= cluster size
    keeps the whole cluster."""
    from eirepolitic_data_pipeline_spark.operators.vectors import (
        diversity_sample)
    pts = ([(i, [0.0 + i * 0.01, 0.0]) for i in range(6)]
           + [(10 + i, [10.0 + i * 0.01, 10.0]) for i in range(4)])
    emb = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    out = diversity_sample(emb, quota=3, k=2, iters=2).collect()
    by_cluster: dict[int, list[int]] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r["pick_rank"])
    assert set(len(v) for v in by_cluster.values()) <= {3}
    for ranks in by_cluster.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    again = diversity_sample(emb, quota=3, k=2, iters=2).collect()
    assert sorted((r["vec_id"], r["cluster"], r["pick_rank"]) for r in out) \
        == sorted((r["vec_id"], r["cluster"], r["pick_rank"]) for r in again)
    # quota larger than any cluster: every vector survives
    all_rows = diversity_sample(emb, quota=100, k=2, iters=2).collect()
    assert len(all_rows) == 10


def test_kmeans_kernel_path_matches_literal_path(spark):
    """The Arrow kernel (the default at every model size, r8) and the
    literal semantic twin — the recipe the DuckDB oracles unroll — must
    be row-identical on the same model: the kernel's dimension-ordered
    numpy accumulation is the same float64 sequence as the literal path's
    sequential fold, and np.argmin's first-minimum is the struct-min's
    lowest-cluster tie rule."""
    from eirepolitic_data_pipeline_spark.operators import vectors as vx
    pts = [(i, [float((i * 7 + d) % 5) for d in range(8)])
           for i in range(40)]
    emb = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    kernel_rows = sorted(
        (r["vec_id"], r["cluster"], r["dist"])
        for r in vx.kmeans_assign(emb, k=3, iters=2).collect())
    orig = vx._MAX_LITERALS
    vx._MAX_LITERALS = 10_000  # force the literal semantic-twin path
    try:
        lit_rows = sorted(
            (r["vec_id"], r["cluster"], r["dist"])
            for r in vx.kmeans_assign(emb, k=3, iters=2).collect())
    finally:
        vx._MAX_LITERALS = orig
    assert kernel_rows == lit_rows
