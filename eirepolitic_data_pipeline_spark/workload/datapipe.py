"""Training-data-pipeline workload: dedup (exact / n-gram Jaccard / MinHash
LSH / SimHash), embedding similarity search, and text analysis — the
beyond-reference operator families (task brief + SURVEY.md §7 step 9).

Scale notes (these run at 100 TB, not 60k rows):
- Pairwise similarity is NEVER all-pairs: candidates come from an inverted
  shingle index (q23), MinHash band buckets (q24), or sign-LSH/IVF buckets
  (q27) — each a key-partitioned shuffle join, no driver materialization.
- All hashing is content-derived (md5/sha2 of strings), so results are
  deterministic and reproducible by any engine — no Spark-internal murmur3.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import scalar as sc
from ..functions import text as tx
from ..operators.dedupe import pairs_from_postings, shingle_postings
from .registry import (KERNEL_SLICE_BYTES, TEXT_SLICE_BYTES,
                       VEC_SLICE_BYTES, register,
                       spread, t)


def _no_null_elements(emb):
    """Drop vectors with MISSING COORDINATES (NULL elements) from a
    certified embedding query's input: DuckDB's vector kernels RAISE on
    NULL-bearing lists (``list_dot_product: ... can not contain NULL
    values``), so every ANN/vector oracle excludes them with
    ``AND (embedding IS NULL OR len(list_filter(embedding, x -> x IS
    NULL)) = 0)`` and the engine mirrors the exclusion here (r7b).
    A fully-NULL embedding passes THROUGH — each query's own NULL
    contract (NULL bucket, 0.0 cosine, q72's sentinels) handles those;
    the coalesce keeps F.exists' NULL result from dropping them."""
    return emb.filter(F.coalesce(
        ~F.exists("embedding", lambda x: x.isNull()), F.lit(True)))

# ---------------------------------------------------------------------------
# Exact dedup + fingerprinting
# ---------------------------------------------------------------------------

@register(
    "q22_exact_dedup_fingerprint",
    """
    WITH fp AS (
      -- coalesce: the Spark side's doc_fingerprint hashes NULL text as ''
      -- (one canonical NULL-content group), so the oracle must too
      SELECT doc_id,
             substr(sha256(trim(regexp_replace(lower(coalesce(text, '')),
                                               '[^a-z0-9]+', ' ', 'g'))), 1, 16)
               AS fingerprint
      FROM documents
    )
    SELECT doc_id, fingerprint,
           min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_doc_id,
           count(*)    OVER (PARTITION BY fingerprint) AS dup_group_size
    FROM fp
    """,
    survey_ref="O3,O6,X6 (+exact dedup)",
)
def q22_exact_dedup_fingerprint(spark, sf_dir):
    """Exact dedup via content fingerprint: hash-groupBy on a normalized
    sha256 key; canonical row = min(doc_id) per group. One shuffle on the
    fingerprint — the canonical 100-TB exact-dedup plan."""
    from ..operators.dedupe import exact_duplicate_groups
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    # THE operator, not an inline twin: the query exists to hash-pin
    # exact_duplicate_groups' semantics (and the operator carries the
    # hot-group caveat that routes curation to exact_canonical_ids)
    return exact_duplicate_groups(docs).withColumnRenamed(
        "canonical_id", "canonical_doc_id")


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup via inverted shingle index (no all-pairs)
# ---------------------------------------------------------------------------

_SHINGLES_SQL = """
      SELECT doc_id,
             list_distinct(list_transform(
               range(greatest(len(toks) - 2, 1)),
               -- coalesce: the shingle contract (<n tokens -> ONE
               -- whole-text shingle, '' for a blank doc — dedupe._shingle_set
               -- and functions.text.word_shingles) — DuckDB's
               -- array_to_string([], ' ') is NULL, which would silently
               -- drop blank docs from the index instead of grouping them
               i -> coalesce(array_to_string(toks[i + 1 : i + 3], ' '), '')
             )) AS shingles
      -- empty/NULL text -> [] tokens (Spark's tokens() contract); bare
      -- string_split_regex yields [''] and would fabricate a ' ' joint
      FROM (SELECT doc_id, list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), t -> t <> '') AS toks
            FROM documents)
"""


@register(
    "q23_jaccard_topk_pairs",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    exploded0 AS (
      SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS n_sh FROM sh
    ),
    stop AS (
      SELECT shingle FROM exploded0 GROUP BY shingle HAVING count(*) <= 1000
    ),
    exploded AS (
      SELECT e.* FROM exploded0 e JOIN stop USING (shingle)
    ),
    pair_counts AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS shared, any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(shared AS DOUBLE) / (n_a + n_b - shared), 4) AS jaccard
    FROM pair_counts
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
    survey_ref="beyond-ref: n-gram Jaccard near-dup",
)
def q23_jaccard_topk_pairs(spark, sf_dir):
    """3-gram Jaccard similarity via inverted index: vectorized shingle
    postings (Arrow kernel, map-side — see operators.dedupe module note),
    posting-list pair expansion co-partitioned by the 8-byte md5 shingle
    key, count shared per pair, Jaccard = |∩| / (|A|+|B|-|∩|). Top-20 pairs
    with unique tiebreaks. Hot-shingle skew is capped by default:
    pairs_from_postings drops posting lists longer than DEFAULT_MAX_DF
    (stop-shingles), and the oracle SQL applies the identical cap."""
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    ex = shingle_postings(docs, "text", "doc_id", 3)
    pairs = (
        pairs_from_postings(ex, key="key", payload_cols=["n_sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"),
             F.any_value("a_n_sh").alias("n_a"),
             F.any_value("b_n_sh").alias("n_b"))
    )
    return (
        pairs.select(
            "doc_a", "doc_b",
            F.round(F.col("shared").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

_N_HASHES = 8
_BAND_ROWS = 2  # 4 bands × 2 rows


def _minhash_sql_cols() -> str:
    cols = []
    for h in range(_N_HASHES):
        cols.append(
            "list_min(list_transform(shingles, s -> md5('%d:' || s))) AS mh%d" % (h, h))
    return ",\n             ".join(cols)


def _band_sql_exprs() -> list[str]:
    exprs = []
    for band in range(_N_HASHES // _BAND_ROWS):
        parts = " || '|' || ".join(
            f"mh{band * _BAND_ROWS + r}" for r in range(_BAND_ROWS))
        exprs.append(f"('{band}:' || {parts})")
    return exprs


@register(
    "q24_minhash_lsh_candidates",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sigs AS (
      SELECT doc_id,
             {_minhash_sql_cols()}
      FROM sh
    ),
    bands0 AS (
      SELECT doc_id, unnest([{", ".join(_band_sql_exprs())}]) AS band_key
      FROM sigs
    ),
    keep AS (
      SELECT band_key FROM bands0 GROUP BY band_key HAVING count(*) <= 1000
    ),
    bands AS (
      SELECT b.* FROM bands0 b JOIN keep USING (band_key)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(DISTINCT a.band_key) AS band_collisions
    FROM bands a JOIN bands b
      ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
    survey_ref="beyond-ref: MinHash+LSH near-dup",
)
def q24_minhash_lsh_candidates(spark, sf_dir):
    """MinHash/LSH candidate generation: shingle → 8 content-derived minhash
    values (md5 salted by hash index; min of hex = min-hash) → 4 bands of 2
    → bucket-join on band key. Only same-band docs ever meet, so the join
    cost tracks true near-dup density, not n². This is the scale path that
    replaces q23's full inverted index when shingle DF is huge."""
    from ..operators.dedupe import minhash_lsh_candidates
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    # the operator itself (an inline twin had already drifted cosmetically
    # and would silently miss any fix to the operator's banding)
    return minhash_lsh_candidates(docs, "text", "doc_id", n=3,
                                  num_hashes=_N_HASHES,
                                  band_rows=_BAND_ROWS)


# ---------------------------------------------------------------------------
# SimHash signatures
# ---------------------------------------------------------------------------

_SIMHASH_BIT_SQL = ", ".join(
    "CASE WHEN sum(CASE WHEN substr(h, %d, 1) >= '8' THEN 1 ELSE 0 END) * 2 >= count(*) "
    "THEN '1' ELSE '0' END" % (i + 1)
    for i in range(32)
)


@register(
    "q25_simhash_signatures",
    f"""
    WITH toks AS (
      -- empty/NULL text -> zero token rows, matching Spark's explode of
      -- tokens() = [] (bare split yields [''] and keeps the doc)
      SELECT doc_id, unnest(list_distinct(list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), t -> t <> ''))) AS tok
      FROM documents
    ),
    hashed AS (SELECT doc_id, md5(tok) AS h FROM toks)
    SELECT doc_id, concat({_SIMHASH_BIT_SQL}) AS simhash
    FROM hashed
    GROUP BY doc_id
    """,
    survey_ref="beyond-ref: SimHash fingerprint",
)
def q25_simhash_signatures(spark, sf_dir):
    """32-bit SimHash over distinct tokens: bit i = majority vote of the
    high bit of md5 nibble i across the doc's tokens (each nibble's high bit
    is an independent 1-bit hash). Hamming-close signatures ⇒ near-dups;
    banded search lives in operators.dedupe.simhash_near_pairs."""
    from ..operators.dedupe import simhash_signatures as simhash_op
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    # the operator itself — the inline bit-for-bit copy bypassed the
    # operator's bits<=32 guard and could drift from the banded search
    # (simhash_near_pairs) that consumes these signatures
    return simhash_op(docs, "text", "doc_id", bits=32)


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

def _cosine(a, b):
    """The repo's single cosine contract (operators.similarity.cosine_col):
    sequential-fold dot/norms — identical fold order to DuckDB's
    list_cosine_similarity, so doubles agree bit-for-bit before rounding —
    with zero-norm vectors scoring 0.0. Raw 0/0 is NaN, and Spark
    desc-sorts NaN FIRST, so an all-zero embedding would otherwise surface
    as the TOP neighbor of every query in q26/q27's rank windows (r6 fix —
    this module previously carried an unguarded copy of the fold; the
    duplicate was exactly where the guard drifted). The oracles mirror
    the guard explicitly because DuckDB's list_cosine_similarity returns
    -1.0 on a zero vector — three different answers for one degenerate
    input without the pin."""
    from ..operators.similarity import cosine_col
    return cosine_col(a, b)


@register(
    "q26_knn_bruteforce",
    """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[])) AS nn
      FROM embeddings
      -- NULL embeddings stay (NULL kernels -> cosine 0.0 via the guard);
      -- NULL-ELEMENT vectors are excluded on BOTH sides: DuckDB's vector
      -- kernels RAISE on NULL-bearing lists (r7b)
      WHERE embedding IS NULL
         OR len(list_filter(embedding, x -> x IS NULL)) = 0
    ),
    q AS (SELECT v AS qv, nn AS qn FROM e WHERE vec_id = 0)
    -- zero-norm guard mirrors the engine contract (cosine 0.0, not
    -- DuckDB's -1.0 / Spark's raw NaN)
    SELECT e.vec_id, e.label,
           round(CASE WHEN e.nn > 0 AND q.qn > 0
                 THEN list_cosine_similarity(e.v, q.qv)
                 ELSE 0.0 END, 6) AS cosine
    FROM e CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
    survey_ref="beyond-ref: ANN brute-force baseline",
)
def q26_knn_bruteforce(spark, sf_dir):
    """Brute-force cosine top-k: broadcast the query vector, one scan, one
    JVM-side fold per row (zip_with/aggregate — no Python). The exact
    baseline the LSH path (q27) approximates."""
    emb = _no_null_elements(spread(t(spark, sf_dir, "embeddings"), VEC_SLICE_BYTES)).withColumn(
        "v", F.col("embedding").cast("array<double>"))
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", F.round(_cosine(F.col("v"), F.col("qv")), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@register(
    "q27_ann_bucketed",
    """
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[])) AS nn
      FROM embeddings
      -- NULL embedding excluded (r6): not a vector. Mirrors the engine,
      -- where a NULL vector's NULL bucket joins nothing; unguarded,
      -- DuckDB's array_to_string SKIPS null elements (bucket '' instead
      -- of NULL) and its vector kernels raise on NULL-bearing lists.
      -- len >= 6 (r7): an empty/short vector has no 6-bit sign bucket —
      -- mirrors the engine's guarded sign_lsh_bucket + up-front filter
      WHERE embedding IS NOT NULL AND len(embedding) >= 6
        AND len(list_filter(embedding, x -> x IS NULL)) = 0 -- no missing coords (r7b)
    ),
    lsh AS (
      SELECT vec_id, v, nn,
             array_to_string(list_transform(range(6), i ->
               CASE WHEN v[CAST(i AS INTEGER) + 1] >= 0 THEN '1' ELSE '0' END), '')
               AS bucket
      FROM base
    ),
    cells AS (
      SELECT vec_id, v, nn,
             CAST(floor(v[1] * 4) AS INTEGER) AS cx,
             CAST(floor(v[2] * 4) AS INTEGER) AS cy
      FROM base
    ),
    -- zero-norm guard mirrors the engine contract (cosine 0.0)
    sign_hits AS (
      SELECT 'sign_lsh' AS method, q.vec_id AS query_id, n.vec_id AS neighbor_id,
             round(CASE WHEN n.nn > 0 AND q.nn > 0
                   THEN list_cosine_similarity(n.v, q.v)
                   ELSE 0.0 END, 6) AS cosine
      FROM lsh q JOIN lsh n ON n.bucket = q.bucket AND n.vec_id <> q.vec_id
      WHERE q.vec_id < 5
      QUALIFY row_number() OVER (PARTITION BY q.vec_id
                                 ORDER BY cosine DESC, n.vec_id) <= 3
    ),
    ivf_hits AS (
      SELECT 'ivf_grid' AS method, q.vec_id AS query_id, n.vec_id AS neighbor_id,
             round(CASE WHEN n.nn > 0 AND q.nn > 0
                   THEN list_cosine_similarity(n.v, q.v)
                   ELSE 0.0 END, 6) AS cosine
      FROM cells q JOIN cells n
        ON n.cx = q.cx AND n.cy = q.cy AND n.vec_id <> q.vec_id
      WHERE q.vec_id < 5
      QUALIFY row_number() OVER (PARTITION BY q.vec_id
                                 ORDER BY cosine DESC, n.vec_id) <= 3
    )
    SELECT * FROM sign_hits UNION ALL SELECT * FROM ivf_hits
    """,
    survey_ref="beyond-ref: LSH-bucketed + IVF-bucketed ANN",
)
def q27_ann_bucketed(spark, sf_dir):
    """Bucketed ANN, both scale paths over one scan, labeled by method:

    - ``sign_lsh``: axis-aligned hyperplane LSH (sign of the first 6 dims)
      → candidates share a bucket → exact cosine only within the bucket →
      top-3 per query. The bucket equi-join partitions by bucket key, so at
      scale each task sees one bucket's worth of candidates, never n².
    - ``ivf_grid``: IVF-flavored — a deterministic coarse quantizer (grid
      cell over the first two dimensions: a fixed codebook, no training
      pass) builds an inverted file; probing scans only the query's cell.
      Same partition-by-cell scaling argument as real IVF with kmeans
      centroids; the quantizer is swappable without touching the join."""
    # NULL/empty/short vectors are out of contract for a 6-bit bucketed
    # index (r7): the size filter mirrors the oracle's len(embedding) >= 6
    # and keeps the IVF cell projection off out-of-range getItems (which
    # THROW under ANSI). F.size(NULL) is NULL under ANSI, so NULL rows
    # fall out of the same predicate.
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), VEC_SLICE_BYTES))
           .filter(F.size("embedding") >= 6)
           .withColumn("v", F.col("embedding").cast("array<double>")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id"))

    def topk(frame, key_cols):
        q = frame.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
            *[F.col(c).alias(f"q_{c}") for c in key_cols])
        n = frame.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("v").alias("nv"), *key_cols)
        cond = (F.col("neighbor_id") != F.col("query_id"))
        for c in key_cols:
            cond &= F.col(c) == F.col(f"q_{c}")
        return (
            q.join(n, cond)
            .select("query_id", "neighbor_id",
                    F.round(_cosine(F.col("nv"), F.col("qv")), 6).alias("cosine"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .drop("rn")
        )

    # THE guarded operator, not an inline twin (review r7 — the r6 NULL-LSH
    # fix only landed in similarity.py; this inline copy still pooled NULL
    # embeddings in bucket '000000' as live cosine-0.0 candidates while the
    # oracle excludes them): NULL vector -> NULL bucket -> equi-join drops it
    from ..operators.similarity import sign_lsh_bucket
    lsh = topk(emb.select("vec_id", "v",
                          sign_lsh_bucket("embedding", 6).alias("bucket")),
               ["bucket"])
    cells = emb.select(
        "vec_id", "v",
        F.floor(F.col("embedding").getItem(0).cast("double") * 4).cast("int").alias("cx"),
        F.floor(F.col("embedding").getItem(1).cast("double") * 4).cast("int").alias("cy"))
    ivf = topk(cells, ["cx", "cy"])
    return (lsh.select(F.lit("sign_lsh").alias("method"), "*")
            .unionByName(ivf.select(F.lit("ivf_grid").alias("method"), "*")))


@register(
    "q37_cosine_neardup_pairs",
    """
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[])) AS nn,
             array_to_string(list_transform(range(6), i ->
               CASE WHEN embedding[CAST(i AS INTEGER) + 1] >= 0 THEN '1' ELSE '0' END), '')
               AS bucket
      FROM embeddings
      -- NULL embedding excluded (r6): not a vector. Mirrors the engine's
      -- guarded sign_lsh_bucket, where a NULL vector's NULL bucket joins
      -- nothing; unguarded, DuckDB's array_to_string SKIPS null elements
      -- (bucket '' instead of NULL) and its vector kernels raise on
      -- NULL-bearing lists. len >= 6 (r7): empty/short vectors have no
      -- 6-bit sign bucket on the engine side either
      WHERE embedding IS NOT NULL AND len(embedding) >= 6
        AND len(list_filter(embedding, x -> x IS NULL)) = 0 -- no missing coords (r7b)
    )
    -- zero-norm guard mirrors the engine contract (cosine 0.0, filtered
    -- out by the 0.3 threshold on both sides)
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           round(CASE WHEN a.nn > 0 AND c.nn > 0
                 THEN list_cosine_similarity(a.v, c.v)
                 ELSE 0.0 END, 6) AS cosine
    FROM b a JOIN b c ON c.bucket = a.bucket AND a.vec_id < c.vec_id
    WHERE round(CASE WHEN a.nn > 0 AND c.nn > 0
                THEN list_cosine_similarity(a.v, c.v)
                ELSE 0.0 END, 6) >= 0.3
    """,
    survey_ref="beyond-ref: embedding-cosine near-dup",
)
def q37_cosine_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup: sign-LSH buckets (first 6 dims) generate
    candidates, exact JVM-side cosine keeps pairs above threshold. The
    bucket equi-join partitions by bucket, so work tracks near-dup density
    — never all-pairs. Thresholding on the rounded value keeps the cut
    deterministic across engines."""
    emb = _no_null_elements(spread(t(spark, sf_dir, "embeddings"), VEC_SLICE_BYTES)).withColumn(
        "v", F.col("embedding").cast("array<double>"))
    # guarded bucket (review r7, same inline-twin fix as q27): NULL vector ->
    # NULL bucket, dropped structurally by the equi-join — parity with the
    # oracle's WHERE embedding IS NOT NULL no longer rides on the 0.3
    # threshold happening to drop cosine-0.0 NULL pairs, and NULL rows no
    # longer inflate the hot all-zeros bucket join
    from ..operators.similarity import sign_lsh_bucket
    b = emb.select("vec_id", "v",
                   sign_lsh_bucket("embedding", 6).alias("bucket"))
    a = b.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                 F.col("bucket").alias("ba"))
    c = b.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                 F.col("bucket").alias("bb"))
    # pair scoring stays the INTERPRETED fold here (r12, measured): the
    # Arrow pair kernel was tried and same-session A/B'd 0.75x — at
    # ~31k bucket pairs the per-task Python-worker round trips of a
    # MapInArrow stage cost more than the whole fold; the kernel wins
    # only at the serving operators' |queries|·|corpus| volumes
    return (
        a.join(c, (F.col("bb") == F.col("ba")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b",
                F.round(_cosine(F.col("va"), F.col("vb")), 6).alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@register(
    "q28_text_stats",
    r"""
    WITH cited AS (
      -- coalesce(text, ''): Spark's concat-with-NULL would null the whole
      -- synthetic answer, but strip_citations coalesces its input, so the
      -- oracle must synthesize from '' too
      SELECT doc_id, text, n_chars AS nc,
             'Claim [' || CAST(n_chars % 50 AS VARCHAR) || '] ' || coalesce(text, '')
               || ' [7] tail' AS t
      FROM documents
    ), stripped AS (
      SELECT doc_id, text,
             trim(regexp_replace(regexp_replace(t, '\s*\[\d+\]\s*', ' ', 'g'),
                                 '\s{2,}', ' ', 'g')) AS s
      FROM cited
    )
    SELECT doc_id,
           -- tokens() yields [] for empty/NULL text; bare split yields ['']
           CAST(len(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'), t -> t <> '')) AS INTEGER) AS n_tokens,
           -- VARCHAR: n_chars is nullable (NULL text) and the DuckDB->
           -- pandas bridge widens a nullable int to float64 ('146.0' vs
           -- Spark's '146' in the hash compare); '∅' nulls match directly
           CAST(length(text) AS VARCHAR)                                      AS n_chars,
           CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER)
             AS n_bpe_ish,
           CAST(len(list_distinct(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'), t -> t <> ''))) AS INTEGER)
             AS n_distinct_tokens,
           array_to_string(list_slice(regexp_split_to_array(s, '\s+'), 1, 12), ' ')
             AS brief,
           CAST(len(regexp_split_to_array(s, '\s+')) AS BIGINT) AS clean_words
    FROM stripped
    """,
    survey_ref="X9,X15 (+token counting, citation strip)",
)
def q28_text_stats(spark, sf_dir):
    """Token / char / BPE-ish / distinct-token counts, all JVM-side — plus
    the X15 citation-strip + word-clamp path: a synthetic web-search answer
    ([n] markers around the document text) is stripped and clamped to a
    12-word brief, the post-processing step of every web-enriched LLM
    column. One projection pass over one documents scan, zero shuffles."""
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    # coalesce: Spark's concat propagates NULL, so a NULL-text doc would
    # null the whole synthetic answer (and brief would come out '' only
    # via strip_citations' own coalesce, while the oracle's synthesized
    # string survives) — synthesize from '' on both sides instead
    cited = F.concat(
        F.lit("Claim ["), (F.col("n_chars") % 50).cast("string"), F.lit("] "),
        F.coalesce(F.col("text"), F.lit("")), F.lit(" [7] tail"))
    clean = sc.strip_citations(cited)
    return docs.select(
        "doc_id",
        tx.token_count("text").cast("int").alias("n_tokens"),
        F.length("text").cast("string").alias("n_chars"),
        tx.bpe_ish_token_count("text").cast("int").alias("n_bpe_ish"),
        F.size(F.array_distinct(tx.tokens("text"))).cast("int").alias("n_distinct_tokens"),
        sc.clamp_words(clean, 12).alias("brief"),
        F.size(F.split(clean, r"\s+")).cast("long").alias("clean_words"),
    )


def _lang_hits_sql(lang: str, markers: tuple[str, ...]) -> str:
    # coalesce(text, ''): Spark's marker_hits tokenizes through tokens()
    # (NULL -> 0 hits -> 'und'); bare NULL here would make greatest() NULL
    # and the guess CASE fall through to NULL instead of 'und'
    t = "trim(lower(coalesce(text, '')))"
    if all(len(m) == 1 for m in markers):
        # unsegmented script (zh): count marker CHARS, mirroring
        # functions/text.py:marker_hits
        joined = "".join(markers)
        return f"(length({t}) - length(translate({t}, '{joined}', '')))"
    arr = ", ".join(f"'{m}'" for m in markers)
    return (f"len(list_filter(string_split_regex({t}, '\\s+'), "
            f"tok -> list_contains([{arr}], tok)))")


def _lang_guess_sql() -> str:
    hits = {lang: _lang_hits_sql(lang, m) for lang, m in tx.LANG_MARKERS.items()}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    cases = " ".join(
        f"WHEN {expr} = {best} THEN '{lang}'" for lang, expr in hits.items())
    return f"CASE WHEN {best} = 0 THEN 'und' {cases} END"


@register(
    "q29_language_id",
    f"""
    SELECT doc_id, lang AS declared_lang,
           {_lang_guess_sql()} AS guessed_lang
    FROM documents
    """,
    survey_ref="beyond-ref: language ID heuristic",
)
def q29_language_id(spark, sf_dir):
    """Marker-stopword language ID vs the declared lang column."""
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    return docs.select(
        "doc_id", F.col("lang").alias("declared_lang"),
        tx.language_guess("text").alias("guessed_lang"),
    )


@register(
    "q30_quality_scores",
    r"""
    WITH base AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'), t -> t <> '') AS toks,
             CAST(length(text) AS DOUBLE) AS n_chars,
             -- word chars only: mean word length is sum(len(word))/n_words
             -- (the Gopher/C4 definition) — dividing the WHOLE string
             -- length by token count overstates by ~1 char per word
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
               AS n_wchars,
             -- coalesce mirrors the Spark side's NULL-text handling
             -- (pii_counts coalesces to ''); bare || would propagate NULL
             coalesce(text, '') || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.7 tel +353 1 234 5678' AS pii_text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(CASE WHEN len(toks) > 0 THEN n_wchars / len(toks) ELSE 0 END, 4)
             AS mean_word_len,
           round(CASE WHEN n_chars > 0
                 THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / n_chars
                 ELSE 0 END, 4) AS alpha_ratio,
           round(CASE WHEN len(toks) > 0
                 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                 ELSE 0 END, 4) AS distinct_token_ratio,
           CAST(len(regexp_extract_all(pii_text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
             AS n_email,
           CAST(len(regexp_extract_all(pii_text,
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER)
             AS n_ipv4,
           CAST(len(regexp_extract_all(pii_text, '\+\d[\d\- ]{7,13}\d'))
                AS INTEGER) AS n_phone,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(pii_text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[PII]', 'g'),
                '\+\d[\d\- ]{7,13}\d', '[PII]', 'g')) AS INTEGER)
             AS redacted_len
    FROM base
    """,
    survey_ref="beyond-ref: quality scoring + PII scrubbing",
)
def q30_quality_scores(spark, sf_dir):
    """Gopher/C4-style quality features + PII detection/redaction counts in
    one projection pass. The documents fixture carries no real PII, so a
    deterministic synthetic tail (doc-derived email, IP, phone) is appended
    before counting — the oracle applies the identical construction, making
    the regex semantics (Java vs RE2, chosen to agree) hash-checked rather
    than trivially zero. All JVM-side column expressions; redaction order
    (email→ip→phone) pinned in functions/text.py:redact_pii."""
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    q = tx.quality_features("text")
    # coalesce matches the oracle CTE: F.concat propagates NULL, which
    # would zero the counts on a NULL-text row while the oracle counted the
    # synthetic tail
    pii_text = F.concat(
        F.coalesce(F.col("text"), F.lit("")), F.lit(" contact u"),
        F.col("doc_id").cast("string"), F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".7 tel +353 1 234 5678"))
    counts = tx.pii_counts(pii_text)
    return docs.select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        F.round(q["mean_word_len"], 4).alias("mean_word_len"),
        F.round(q["alpha_ratio"], 4).alias("alpha_ratio"),
        F.round(q["distinct_token_ratio"], 4).alias("distinct_token_ratio"),
        counts["n_email"].cast("int").alias("n_email"),
        counts["n_ipv4"].cast("int").alias("n_ipv4"),
        counts["n_phone"].cast("int").alias("n_phone"),
        F.length(tx.redact_pii(pii_text)).cast("int").alias("redacted_len"),
    )


# Shared winnowing CTE chain (q49/q50): text → ascii codes → k=5-gram
# rolling hashes → window-4 minima → sorted distinct fingerprint list.
_WINNOW_FPS_CTE = """
    norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
      FROM documents
    ), codes AS (
      SELECT doc_id,
             CASE WHEN len(s) > 0 THEN
               list_transform(range(1, len(s) + 1),
                 i -> CAST(ascii(substr(s, CAST(i AS INTEGER), 1)) AS BIGINT))
             ELSE CAST([] AS BIGINT[]) END AS cs
      FROM norm
    ), grams AS (
      SELECT doc_id,
             CASE WHEN len(cs) >= 5 THEN
               list_transform(range(1, len(cs) - 5 + 2),
                 i -> list_reduce(
                        list_slice(cs, CAST(i AS INTEGER), CAST(i + 4 AS INTEGER)),
                        (acc, x) -> (acc * 257 + x) % 1000000007))
             ELSE CAST([] AS BIGINT[]) END AS hs
      FROM codes
    ), fps AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= 4 THEN
               list_sort(list_distinct(list_transform(
                 range(1, len(hs) - 4 + 2),
                 p -> list_min(list_slice(hs, CAST(p AS INTEGER),
                                          CAST(p + 3 AS INTEGER))))))
             ELSE CAST([] AS BIGINT[]) END AS fp
      FROM grams
    )
"""


@register(
    "q49_winnowed_fingerprints",
    f"""
    WITH {_WINNOW_FPS_CTE}
    SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp,
           coalesce(list_min(fp), -1) AS min_fp,
           coalesce(list_max(fp), -1) AS max_fp
    FROM fps
    """,
    survey_ref="beyond-ref: rolling-hash winnowing fingerprints (functions/text.py)",
)
def q49_winnowed_fingerprints(spark, sf_dir):
    """Winnowed rolling-hash fingerprints (MOSS scheme) per document:
    k=5-gram polynomial hashes, window-4 minima, sorted distinct. The
    fingerprint SET is the near-dup join key at scale (explode + equi-join —
    any shared 8-char normalized substring guarantees a shared fingerprint);
    this query hash-checks the kernel via set size and extrema. Runs the
    Arrow numpy kernel (sliding dot product + windowed min, map-side, no
    shuffle) — the interpreted-HOF column form of the same function
    (functions/text.py) is its tested twin but ~100x slower in the hot
    path; the DuckDB list-lambda oracle mirrors the semantics exactly."""
    from ..operators.dedupe import winnowed_fingerprint_frame
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    out = winnowed_fingerprint_frame(docs, "doc_id", "text", k=5, window=4)
    fp = F.col("fingerprints")
    return out.select(
        "doc_id",
        F.size(fp).cast("long").alias("n_fp"),
        F.coalesce(F.array_min(fp), F.lit(-1)).cast("long").alias("min_fp"),
        F.coalesce(F.array_max(fp), F.lit(-1)).cast("long").alias("max_fp"),
    )


@register(
    "q50_winnow_neardup_pairs",
    f"""
    WITH {_WINNOW_FPS_CTE},
    posts AS (
      SELECT doc_id, len(fp) AS n_fp, unnest(fp) AS key
      FROM fps WHERE len(fp) > 0
    ),
    ok_keys AS (
      SELECT key FROM posts GROUP BY key HAVING count(*) <= 100
    ),
    kept AS (
      SELECT p.doc_id, p.key FROM posts p JOIN ok_keys k ON p.key = k.key
    ),
    doc_sizes AS (
      SELECT doc_id, count(*) AS n_kept FROM kept GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sa.n_kept AS n_a, sb.n_kept AS n_b
      FROM kept a
      JOIN kept b ON a.key = b.key AND a.doc_id < b.doc_id
      JOIN doc_sizes sa ON sa.doc_id = a.doc_id
      JOIN doc_sizes sb ON sb.doc_id = b.doc_id
    )
    SELECT doc_a, doc_b, count(*) AS shared_fp,
           round(count(*) / CAST(least(min(n_a), min(n_b)) AS DOUBLE), 4)
             AS containment
    FROM pairs
    GROUP BY doc_a, doc_b
    HAVING containment >= 0.5
    """,
    survey_ref="beyond-ref: winnowing near-dup candidates (O11/dedup family)",
    # construction localCheckpoints the kernel output (below): memoizing the
    # built frame would make repeat harness passes read materialized results
    # instead of re-running the kernel — rebuild per call
    memoize=False,
)
def q50_winnow_neardup_pairs(spark, sf_dir):
    """Near-dup candidate pairs from winnowed fingerprints: explode the
    fingerprint set into an inverted index, drop stop keys (fingerprints
    shared by >100 docs are boilerplate word runs — winnowing minima skew
    toward globally common low-hash grams, so the df tail is heavy), then
    score containment over the SURVIVING fingerprints: shared / min(kept
    set size). Normalizing by the post-filter set is the IDF-style choice
    that keeps recall under the cap — exact copies score 1.0 no matter how
    many of their fingerprints were globally common (verified in the 20x
    scale stress; normalizing by the full set collapsed to zero pairs
    there). No all-pairs anywhere: bounded pair expansion per key.

    The fingerprint frame is localCheckpoint-materialized — the in-query
    analog of the persisted silver table it would be at production scale —
    so the winnowing kernel's Arrow passes run exactly ONCE even though
    the plan branches. That lets the STOP-KEY filter be the skew-safe
    shape: a map-side-combined groupBy(key) count joined back, never a
    window over partitionBy(key) — a globally-hot fingerprint would funnel
    its whole posting list into one window task BEFORE the df<=100 filter
    could drop it, whereas the two-level agg partial-aggregates the hot
    key on every input partition and AQE can split the join. The n_kept
    count stays a window over doc_id: that partition is bounded by
    fingerprints-per-doc (document length), not corpus popularity."""
    from ..operators.dedupe import pairs_from_postings, winnowed_fingerprint_frame
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    fpf = winnowed_fingerprint_frame(docs, "doc_id", "text", k=5,
                                     window=4).localCheckpoint()
    postings = fpf.select("doc_id", F.explode("fingerprints").alias("key"))
    ok_keys = (postings.groupBy("key")
               .agg(F.count(F.lit(1)).alias("__df"))
               .filter(F.col("__df") <= 100)
               .select("key"))
    kept = postings.join(ok_keys, "key", "left_semi")
    kept2 = (kept
             .withColumn("n_kept",
                         F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
             .select("doc_id", "key", "n_kept"))
    pairs = pairs_from_postings(kept2, key="key", payload_cols=["n_kept"],
                                max_df=100)
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"),
             F.min("a_n_kept").alias("n_a"), F.min("b_n_kept").alias("n_b"))
        .withColumn("containment",
                    F.round(F.col("shared_fp")
                            / F.least("n_a", "n_b").cast("double"), 4))
        .filter(F.col("containment") >= 0.5)
        .select("doc_a", "doc_b", "shared_fp", "containment")
    )


# ---------------------------------------------------------------------------
# Dataset curation: deterministic splits + sequence packing
# ---------------------------------------------------------------------------

@register(
    "q51_dataset_split",
    """
    WITH b AS (
      SELECT doc_id, source,
             -- coalesce mirrors hash_bucket's NULL-key contract (NULL source
             -- hashes as '__null__', a deterministic bucket — never ELSE).
             CAST(CAST('0x' || substr(md5('split' || coalesce(source, '__null__')), 1, 8)
                       AS BIGINT) % 10000 AS INTEGER) AS bucket
      FROM documents
    )
    SELECT doc_id, source, bucket,
           CASE WHEN bucket < 9800 THEN 'train'
                WHEN bucket < 9900 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
    survey_ref="beyond-ref: deterministic group-preserving dataset split (operators/curation.py)",
)
def q51_dataset_split(spark, sf_dir):
    """Deterministic group-preserving train/val/test split keyed on the
    leakage boundary (`source`, not doc_id): every document from one source
    lands in one split, re-runs and incremental refreshes can never migrate
    a document across the fence, and the md5-bucket arithmetic is
    reproducible by any SQL engine (the oracle recomputes it exactly).
    Pure projection — zero shuffles at any scale."""
    from ..operators.curation import dataset_split, hash_bucket
    docs = t(spark, sf_dir, "documents")
    out = dataset_split(docs, "source",
                        {"train": 0.98, "val": 0.01, "test": 0.01})
    return out.select(
        "doc_id", "source",
        hash_bucket("source", salt="split").alias("bucket"),
        "split")


@register(
    "q52_sequence_packing",
    """
    WITH toks AS (
      SELECT doc_id,
             CAST(doc_id % 8 AS INTEGER) AS shard,
             -- the canonical tokens() contract (str.split semantics:
             -- empty tokens dropped, NULL/blank text -> 0 tokens), same
             -- list_filter form as every other token-counting oracle
             CAST(len(list_filter(string_split_regex(lower(coalesce(text, '')),
                                                     '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tok
      FROM documents
    ), packed AS (
      SELECT shard, doc_id, n_tok,
             CAST(floor((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_tok) / 2048.0) AS INTEGER) AS batch_id
      FROM toks
    )
    SELECT shard, batch_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS VARCHAR) AS n_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM packed
    GROUP BY shard, batch_id
    """,
    survey_ref="beyond-ref: token-budget sequence packing (operators/curation.py)",
)
def q52_sequence_packing(spark, sf_dir):
    """Token-budget sequence packing: shard documents (pmod id), order
    within shard, cut batches where the running token total crosses a
    2048-token budget multiple. One window shuffle on the shard key; batch
    size bounded by budget + max doc regardless of corpus size. The
    per-batch summary (docs, tokens, id range) is hash-checked."""
    from ..operators.curation import pack_sequences
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tx.token_count("text").cast("long").alias("n_tok"))
    packed = pack_sequences(toks, "doc_id", "n_tok", budget=2048, shards=8)
    return (packed.groupBy("shard", "batch_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 # string on both sides: DuckDB→pandas widens nullable sums
                 # to float64, which would hash-mismatch the exact integer
                 F.sum("n_tok").cast("string").alias("n_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


@register(
    "q54_repetition_stats",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(coalesce(text, '')),
                                                    '\\s+'),
                                 t -> t <> '') AS tk
      FROM documents
    ), bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i + 1])) AS bigram
      FROM toks WHERE len(tk) >= 2
    ), counts AS (
      SELECT doc_id, bigram, count(*) AS c FROM bi GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(c) AS VARCHAR)        AS n_bigrams,
           max(c)                         AS top_bigram_n,
           round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_bigram_fraction
    FROM counts
    GROUP BY doc_id
    """,
    survey_ref="beyond-ref: Gopher-style intra-doc repetition filter",
)
def q54_repetition_stats(spark, sf_dir):
    """Intra-document repetition (the Gopher duplicate-n-gram filter family):
    fraction of word bigrams taken by the most frequent bigram. Computed the
    scalable way — explode bigrams, two-level aggregation keyed on
    (doc, bigram) — rather than a per-element lambda scan, so the plan is a
    plain partial-aggregated shuffle at any corpus size. High-fraction docs
    are the boilerplate/spam cut in training-data curation."""
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    # tx.tokens, NOT a raw trim-then-split: F.trim strips only ASCII
    # spaces, so \n-trailed text would grow a phantom '' token and one
    # fabricated bigram per edge — drifting from the oracle's list_filter
    # tokenizer (caught by the edge-fixture parity suite)
    bi = (docs.select("doc_id", tx.tokens("text").alias("tk"))
          .filter(F.size("tk") >= 2)
          .select("doc_id", F.explode(F.transform(
              F.sequence(F.lit(1), F.size("tk") - 1),
              lambda i: F.concat_ws(" ", F.element_at(F.col("tk"), i),
                                    F.element_at(F.col("tk"), i + 1))))
              .alias("bigram")))
    counts = bi.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    return (counts.groupBy("doc_id")
            # string on both sides: DuckDB→pandas widens nullable sums
            .agg(F.sum("c").cast("string").alias("n_bigrams"),
                 F.max("c").alias("top_bigram_n"),
                 F.round(F.max("c") / F.sum("c").cast("double"), 4)
                 .alias("top_bigram_fraction")))


@register(
    "q55_source_mixing",
    """
    WITH c AS (
      SELECT lang AS src, CAST(count(*) AS DOUBLE) AS n
      FROM documents GROUP BY 1
    ),
    norm AS (
      SELECT sum(pow(n, 0.5)) AS z, sum(n) AS total FROM c
    ),
    plan AS (
      SELECT src, n,
             (total * pow(n, 0.5) / z)                        AS quota,
             least(1.0, (total * pow(n, 0.5) / z) / n)        AS frac,
             round((total * pow(n, 0.5) / z)
                   / least(total * pow(n, 0.5) / z, n), 6)    AS mix_weight
      FROM c CROSS JOIN norm
    )
    SELECT d.doc_id, d.lang, p.mix_weight
    FROM documents d
    JOIN plan p ON d.lang IS NOT DISTINCT FROM p.src
    -- the identical md5 bucket membership test as q51's split (the
    -- operators share hash_bucket), salted 'mix'
    WHERE CAST(CAST('0x' || substr(md5('mix' || coalesce(CAST(d.doc_id AS VARCHAR),
                                                         '__null__')), 1, 8)
               AS BIGINT) % 10000 AS INTEGER) < p.frac * 10000
    """,
    survey_ref="beyond-ref: temperature-weighted source mixing (operators/curation.py)",
)
def q55_source_mixing(spark, sf_dir):
    """Temperature-weighted source rebalancing (count^alpha, alpha=0.5)
    keyed on the naturally skewed ``lang`` column: the dominant language is
    deterministically downsampled toward its alpha-tempered share while
    small languages keep every row and surface their upweight factor as
    ``mix_weight`` — the standard multilingual pretraining mix, computed
    fully distributed (dimension-sized count agg + 1-row normalizer + two
    broadcasts; the corpus itself is touched by exactly one map-side
    filter, never shuffled)."""
    from ..operators.curation import mix_sources
    docs = t(spark, sf_dir, "documents")
    out = mix_sources(docs.select("doc_id", "lang"), "lang", "doc_id",
                      alpha=0.5, salt="mix")
    return out.select("doc_id", "lang", "mix_weight")


@register(
    "q57_domain_profile",
    """
    -- ground truth from doc_id arithmetic, NOT a transliteration of the
    -- engine's URL regexes (q34's independence technique): the synthetic
    -- URL's subdomain (www./cdn.), explicit port and path must all be
    -- stripped/collapsed by url_host+registered_domain for the counts to
    -- match this direct derivation.
    WITH base AS (
      SELECT doc_id,
             'site' || CAST(doc_id % 10 AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0 THEN '.co.uk'
                       ELSE '.com' END AS domain
      FROM documents
    ),
    kept AS (
      SELECT * FROM base WHERE domain NOT IN ('site3.com', 'site7.co.uk')
    ),
    c AS (SELECT domain, count(*) AS doc_count FROM kept GROUP BY 1),
    tot AS (SELECT sum(doc_count) AS total FROM c)
    SELECT domain, doc_count,
           round(doc_count / CAST(total AS DOUBLE), 6) AS share
    FROM c CROSS JOIN tot
    """,
    survey_ref="beyond-ref: domain blocklist gate + profiling (operators/curation.py)",
)
def q57_domain_profile(spark, sf_dir):
    """Registered-domain (eTLD+1) corpus profiling behind a blocklist
    gate: synthesize a messy absolute URL per document (scheme/subdomain/
    port/path noise keyed on doc_id), drop two blocked registered domains
    (broadcast anti join — cdn./www. subdomains collapse into their
    registrant, which is the whole point of blocking at eTLD+1), then
    per-domain counts and corpus share. The corpus is touched by one map
    pass + one anti join + one map-side-combined agg; the blocklist and
    the 1-row total broadcast."""
    from ..operators.curation import domain_stats, filter_domains
    docs = t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, "https").otherwise("http"), F.lit("://"),
        F.when(d % 4 == 0, "www.").when(d % 4 == 1, "cdn.").otherwise(""),
        F.lit("site"), (d % 10).cast("string"),
        F.when(d % 3 == 0, ".co.uk").otherwise(".com"),
        F.when(d % 5 == 0, ":8443").otherwise(""),
        F.lit("/p/"), d.cast("string"))
    tagged = docs.select("doc_id", url.alias("url"))
    kept = filter_domains(tagged, "url", ["site3.com", "site7.co.uk"],
                          mode="block")
    return domain_stats(kept, "url").select("domain", "doc_count", "share")


@register(
    "q58_stratified_sample",
    """
    WITH b AS (
      SELECT doc_id, lang,
             CAST(CAST('0x' || substr(md5('strat' || coalesce(CAST(doc_id AS VARCHAR),
                                                              '__null__')), 1, 8)
                  AS BIGINT) % 10000 AS INTEGER) AS bucket
      FROM documents
    )
    SELECT doc_id, lang FROM b
    -- absent strata (es, fr, NULL) keep fraction 0.0 and vanish — the
    -- explicit-opt-in contract the operator documents
    WHERE (lang = 'en' AND bucket < 2500)
       OR (lang = 'de' AND bucket < 10000)
       OR (lang = 'zh' AND bucket < 5000)
    """,
    survey_ref="beyond-ref: deterministic stratified sampling (operators/curation.py)",
)
def q58_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling over the language column:
    en keeps 25%, de 100%, zh 50%, and every stratum NOT in the fraction
    map (es, fr, NULL lang) keeps nothing — curation allow-lists opt in
    explicitly. Membership is the same engine-portable md5 bucket as the
    splits, so re-runs and incremental refreshes keep identical rows; the
    fraction map is dimension-sized and joins broadcast (one map-side
    filter over the corpus, no shuffle)."""
    from ..operators.curation import stratified_sample
    docs = t(spark, sf_dir, "documents")
    out = stratified_sample(docs.select("doc_id", "lang"), ["lang"],
                            {"en": 0.25, "de": 1.0, "zh": 0.5},
                            "doc_id", salt="strat")
    return out.select("doc_id", "lang")


@register(
    "q59_hll_sketch_rollup",
    """
    -- exact side is ground truth; the sketch path must land within the
    -- documented 5% bound for the literal to match (q43's bounded-check
    -- pattern for approximate operators)
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           'ok' AS hll_within_5pct
    FROM events
    GROUP BY 1
    """,
    survey_ref="beyond-ref: mergeable HLL sketch rollups (Spark's DataSketches hll_sketch_agg / hll_union_agg / hll_sketch_estimate)",
)
def q59_hll_sketch_rollup(spark, sf_dir):
    """The incremental distinct-count path end-to-end: the event log is
    split into three disjoint 'refresh batches' (event_id mod 3), each
    batch aggregates its own per-event_type HLL sketch (map-side combined,
    dimension-sized output), the sketches union+merge WITHOUT rescanning
    any batch, and the estimate read off the merged sketch must land
    within the lg_k=12 error budget of the exact distinct computed from
    the full log. This is the refresh-cycle contract: history is never
    rescanned, only sketch bytes merge."""
    ev = t(spark, sf_dir, "events").select("event_id", "event_type",
                                           "user_id")
    # lg_k=12: ~1.6% relative error, 4 KiB per group
    parts = [ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
             .groupBy("event_type")
             .agg(F.hll_sketch_agg("user_id", F.lit(12))
                  .alias("distinct_sketch"))
             for i in range(3)]
    stacked = parts[0].unionByName(parts[1]).unionByName(parts[2])
    # allowDifferentLgConfigK: sketches of different precisions merge
    # at the coarser one
    est = (stacked.groupBy("event_type")
           .agg(F.hll_union_agg(F.col("distinct_sketch"), F.lit(True))
                .alias("distinct_sketch"))
           .withColumn("approx_distinct",
                       F.hll_sketch_estimate("distinct_sketch"))
           .drop("distinct_sketch"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"))
    return (est.join(exact, "event_type")
            .select("event_type", "exact_users",
                    F.when(F.abs(F.col("approx_distinct")
                                 - F.col("exact_users"))
                           / F.col("exact_users") <= 0.05, "ok")
                    .otherwise("hll outside 5% bound")
                    .alias("hll_within_5pct")))


@register(
    "q60_incremental_rollup_equivalence",
    """
    -- the oracle recomputes from the full log; the Spark side must reach
    -- the same numbers through BOTH maintenance paths (additive merge and
    -- partial group recompute) for the 'ok' literals to match
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           'ok' AS additive_matches_full,
           'ok' AS recompute_matches_full
    FROM events
    GROUP BY 1
    """,
    survey_ref="beyond-ref: incremental additive rollups + partial recompute (operators/incremental.py)",
)
def q60_incremental_rollup_equivalence(spark, sf_dir):
    """Incremental aggregate maintenance end-to-end under the oracle gate:
    the event log splits into a persisted 'base' (3/4 of rows) and an
    append 'delta' (1/4); the base rollup is updated (a) additively —
    dimension-sized full-outer merge of the two rollups, history untouched
    — and (b) by partial group recompute over the delta's affected keys.
    Both maintained rollups must equal the full recompute exactly on
    counts and within float tolerance on sums (addition reassociates
    across the base/delta boundary) for the 'ok' gates to hold; the
    emitted metrics themselves come from the full rollup so the oracle
    derives them independently."""
    from ..operators.incremental import incremental_additive, recompute_groups
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def roll(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"))

    base = ev.filter(F.pmod(F.col("event_id"), F.lit(4)) != 3)
    delta = ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == 3)
    maintained = incremental_additive(roll(base), roll(delta),
                                      ["event_type"],
                                      ["n_events", "sum_value"])
    recomputed = recompute_groups(roll(base), ev,
                                  delta.select("event_type").distinct(),
                                  ["event_type"], roll)
    full = roll(ev)

    def close(a, b):
        return F.abs(a - b) <= F.lit(1e-6) * F.abs(b) + F.lit(1e-9)

    m = maintained.select(F.col("event_type").alias("m_et"),
                          F.col("n_events").alias("m_n"),
                          F.col("sum_value").alias("m_s"))
    r = recomputed.select(F.col("event_type").alias("r_et"),
                         F.col("n_events").alias("r_n"),
                         F.col("sum_value").alias("r_s"))
    return (full
            .join(m, full["event_type"].eqNullSafe(m["m_et"]))
            .join(r, full["event_type"].eqNullSafe(r["r_et"]))
            .select(
                "event_type", "n_events",
                F.round("sum_value", 2).alias("sum_value"),
                F.when((F.col("m_n") == F.col("n_events"))
                       & close(F.col("m_s"), F.col("sum_value")), "ok")
                .otherwise("additive drifted from full")
                .alias("additive_matches_full"),
                F.when((F.col("r_n") == F.col("n_events"))
                       & close(F.col("r_s"), F.col("sum_value")), "ok")
                .otherwise("recompute drifted from full")
                .alias("recompute_matches_full")))


@register(
    "q61_line_dedup_boilerplate",
    """
    WITH docs AS (
      -- concat_ws skips NULL text on both engines, so a NULL doc becomes
      -- the 3 synthetic lines rather than poisoning the whole string
      SELECT doc_id,
             concat_ws(chr(10), text,
                       'this shared boilerplate banner line appears everywhere',
                       'ok',
                       'tail marker ' || CAST(doc_id AS VARCHAR)) AS t2
      FROM documents
    ),
    split AS (SELECT doc_id, string_split(t2, chr(10)) AS l FROM docs),
    exploded AS (
      SELECT doc_id, l, unnest(range(len(l))) AS pos FROM split
    ),
    lines AS (
      SELECT doc_id, pos, l[pos + 1] AS line,
             lower(trim(l[pos + 1])) AS norm
      FROM exploded
    ),
    counts AS (
      SELECT norm, count(DISTINCT doc_id) AS df FROM lines GROUP BY 1
    ),
    kept AS (
      SELECT li.doc_id, li.pos, li.line
      FROM lines li JOIN counts c USING (norm)
      WHERE len(li.norm) < 10 OR c.df <= 50
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(r.text, '') AS text
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """,
    survey_ref="beyond-ref: corpus-level boilerplate line removal (operators/dedupe.py:dedupe_lines)",
)
def q61_line_dedup_boilerplate(spark, sf_dir):
    """Corpus-level line dedup under the oracle gate: every document gains
    a shared banner line (document frequency = corpus size, dropped), a
    short 'ok' line (equally common but under the min_chars exemption —
    kept), and a unique tail line (df=1, kept); the operator must drop
    exactly the banner and reassemble the survivors in original order.
    The per-line df is a two-level map-side-combined aggregate joined
    back — the corpus-wide banner is a partial-aggregated scalar, never a
    per-row doc set — so the hottest possible line (present in EVERY doc)
    costs one skew-splittable equi-join at any corpus size."""
    from ..operators.dedupe import dedupe_lines
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    t2 = F.concat_ws(
        "\n", F.col("text"),
        F.lit("this shared boilerplate banner line appears everywhere"),
        F.lit("ok"),
        F.concat(F.lit("tail marker "), F.col("doc_id").cast("string")))
    return dedupe_lines(docs.select("doc_id", t2.alias("text")),
                        "text", "doc_id", max_df=50)


@register(
    "q62_minhash_dedup_components",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
    sigs AS (
      SELECT doc_id,
             {_minhash_sql_cols()}
      FROM sh
    ),
    bands0 AS (
      SELECT doc_id, unnest([{", ".join(_band_sql_exprs())}]) AS band_key
      FROM sigs
    ),
    keepb AS (
      SELECT band_key FROM bands0 GROUP BY band_key HAVING count(*) <= 1000
    ),
    bands AS (
      SELECT b.* FROM bands0 b JOIN keepb USING (band_key)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE len(list_intersect(sa.shingles, sb.shingles))
            / CAST(len(sa.shingles) + len(sb.shingles)
                   - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            >= 0.7
    ),
    edges AS (
      SELECT doc_a, doc_b FROM verified
      UNION ALL
      SELECT doc_b AS doc_a, doc_a AS doc_b FROM verified
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT e.doc_a AS id, reach.r
      FROM edges e JOIN reach ON reach.id = e.doc_b
    )
    SELECT id AS doc_id, min(r) AS canonical_id
    FROM reach GROUP BY id
    """,
    survey_ref="beyond-ref: MinHash full dedup + connected components (operators/dedupe.py:minhash_dedup)",
    # the closure runs actions at construction (the edge-count gate, then
    # the union-find kernel's checkpoint or the loop's per-round counts)
    # — the plan memo must not turn repeat passes into result reads
    memoize=False,
)
def q62_minhash_dedup_components(spark, sf_dir):
    """The complete near-dup collapse under the oracle gate: banded
    MinHash candidates (the q24 recipe) → exact-Jaccard verification at
    0.7 over distinct 3-shingles → iterative min-label propagation to the
    component fixed point, so duplicate CHAINS (A~B~C with A≁C) share one
    canonical id. The oracle reproduces the whole chain in SQL, computing
    the transitive closure with a recursive CTE and taking each node's
    component minimum — an independent algorithm (BFS closure vs label
    propagation) that must land on the identical assignment."""
    from ..operators.dedupe import minhash_dedup
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    return minhash_dedup(docs, "text", "doc_id", n=3,
                         num_hashes=_N_HASHES, band_rows=_BAND_ROWS,
                         threshold=0.7)


@register(
    "q63_curate_corpus_certified",
    f"""
    WITH RECURSIVE
    -- stage 1: quality gate on raw text (token floor + alpha ratio)
    q0 AS (
      SELECT doc_id, text, lang, source,
             list_filter(string_split_regex(lower(coalesce(text, '')),
                                            '\\s+'),
                         t -> t <> '') AS toks,
             CAST(length(text) AS DOUBLE) AS nch
      FROM documents
    ),
    g1 AS (
      SELECT doc_id, text, lang, source FROM q0
      WHERE len(toks) >= 5
        AND (CASE WHEN nch > 0
             THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / nch
             ELSE 0 END) >= 0.5
    ),
    -- stage 2: corpus-level line dedup (max_df=100, min_chars=10 exemption)
    -- over the gate survivors, then the token floor re-check
    l0 AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM g1),
    le AS (SELECT doc_id, l, unnest(range(len(l))) AS pos FROM l0),
    ln AS (SELECT doc_id, pos, l[pos + 1] AS line,
                  lower(trim(l[pos + 1])) AS norm FROM le),
    lc AS (SELECT norm, count(DISTINCT doc_id) AS df FROM ln GROUP BY 1),
    lk AS (SELECT ln.doc_id, ln.pos, ln.line
           FROM ln JOIN lc USING (norm)
           WHERE len(ln.norm) < 10 OR lc.df <= 100),
    lr AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
           FROM lk GROUP BY doc_id),
    g2 AS (
      SELECT g1.doc_id, coalesce(lr.text, '') AS text, g1.lang, g1.source
      FROM g1 LEFT JOIN lr USING (doc_id)
    ),
    g2f AS (
      SELECT * FROM g2
      WHERE len(list_filter(string_split_regex(lower(coalesce(text, '')),
                                               '\\s+'),
                            t -> t <> '')) >= 5
    ),
    -- stage 3: exact dedup, min id per normalized-content fingerprint
    fp AS (
      SELECT doc_id,
             substr(sha256(trim(regexp_replace(lower(coalesce(text, '')),
                                               '[^a-z0-9]+', ' ', 'g'))),
                    1, 16) AS f
      FROM g2f
    ),
    canon AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
    g3 AS (SELECT g2f.* FROM g2f JOIN canon USING (doc_id)),
    -- stage 4: MinHash near-dup components at 0.7, keep component minima
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(greatest(len(tk) - 2, 1)),
               i -> coalesce(array_to_string(tk[i + 1 : i + 3], ' '), '')
             )) AS shingles
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '\\s+'),
                               t -> t <> '') AS tk
            FROM g3)
    ),
    sigs AS (
      SELECT doc_id,
             {_minhash_sql_cols()}
      FROM sh
    ),
    bands0 AS (
      SELECT doc_id, unnest([{", ".join(_band_sql_exprs())}]) AS band_key
      FROM sigs
    ),
    keepb AS (
      SELECT band_key FROM bands0 GROUP BY band_key HAVING count(*) <= 1000
    ),
    bands AS (SELECT b.* FROM bands0 b JOIN keepb USING (band_key)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE len(list_intersect(sa.shingles, sb.shingles))
            / CAST(len(sa.shingles) + len(sb.shingles)
                   - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            >= 0.7
    ),
    edges AS (
      SELECT doc_a, doc_b FROM verified
      UNION ALL
      SELECT doc_b AS doc_a, doc_a AS doc_b FROM verified
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM g3
      UNION
      SELECT e.doc_a AS id, reach.r
      FROM edges e JOIN reach ON reach.id = e.doc_b
    ),
    comp AS (SELECT id, min(r) AS canonical FROM reach GROUP BY id),
    g4 AS (
      SELECT g3.* FROM g3
      JOIN comp ON g3.doc_id = comp.id AND comp.canonical = g3.doc_id
    )
    -- stage 6: leakage-safe split keyed on source (default weights)
    SELECT doc_id, lang, source,
           CASE WHEN b < 9800 THEN 'train'
                WHEN b < 9900 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT g4.*,
                 CAST(CAST('0x' || substr(md5('split' || coalesce(source,
                                                                  '__null__')),
                                          1, 8) AS BIGINT) % 10000 AS INTEGER)
                   AS b
          FROM g4)
    """,
    survey_ref="beyond-ref: curate_corpus end-to-end (operators/curation.py) — quality gate, line dedup, exact dedup, near-dup components, split",
    # the recipe's closure runs actions at construction (edge-count gate +
    # union-find checkpoint, or loop rounds on big graphs)
    memoize=False,
)
def q63_curate_corpus_certified(spark, sf_dir):
    """The FLAGSHIP composed curation recipe under the driver's value-hash
    gate: quality gate → corpus-level line dedup → exact dedup → MinHash
    near-dup collapse (8 hashes × 2-row bands, 0.7 verify) → deterministic
    leakage-safe split, exactly the chain jobs/curate.py ships. The oracle
    re-derives every stage in SQL — including the component closure by an
    independent recursive-CTE algorithm — so the final kept-set AND the
    split assignment must both match row-for-row."""
    from ..operators.curation import curate_corpus
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    out = curate_corpus(docs.select("doc_id", "text", "lang", "source"),
                        near_dup_hashes=_N_HASHES,
                        near_dup_band_rows=_BAND_ROWS)
    return out.select("doc_id", "lang", "source", "split")


@register(
    "q64_decontaminate_benchmark",
    r"""
    WITH bench AS (
      SELECT text FROM documents WHERE doc_id % 97 = 0
    ),
    corp AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
    ),
    -- the shared shingle contract at n=8 (tokens(): empty tokens dropped;
    -- <n tokens -> ONE whole-text shingle, '' for a blank doc)
    csh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(greatest(len(tk) - 7, 1)),
               i -> coalesce(array_to_string(tk[i + 1 : i + 8], ' '), '')
             )) AS shingles
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '\s+'),
                               t -> t <> '') AS tk
            FROM corp)
    ),
    bsh AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
               range(greatest(len(tk) - 7, 1)),
               i -> coalesce(array_to_string(tk[i + 1 : i + 8], ' '), ''))))
             AS s
      FROM (SELECT list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '\s+'),
                               t -> t <> '') AS tk
            FROM bench)
    ),
    hits AS (
      SELECT c.doc_id, count(*) AS n_hits
      FROM (SELECT doc_id, unnest(shingles) AS s FROM csh) c
      JOIN bsh USING (s)
      GROUP BY 1
    )
    SELECT corp.doc_id,
           CASE WHEN h.doc_id IS NULL THEN 'kept' ELSE 'dropped' END AS status,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
    FROM corp LEFT JOIN hits h USING (doc_id)
    """,
    survey_ref="beyond-ref: benchmark decontamination (operators/dedupe.py:decontaminate)",
)
def q64_decontaminate_benchmark(spark, sf_dir):
    """Benchmark decontamination under the oracle gate: every 97th document
    plays the eval set, the rest the training corpus; corpus documents
    sharing ANY distinct word 8-gram with the eval set are dropped, with
    the distinct-overlap count reported. Drives the REAL operator (both
    outputs — the anti-joined keep set and the contaminated report — feed
    the result), whose plan is one map-side shingle pass per side + a
    broadcast join on the benchmark's distinct 8-byte keys: the corpus is
    never shuffled. The oracle recomputes the overlap from raw text.

    Caveat on the certification argument: the engine joins on 8-byte md5
    shingle prefixes while the oracle joins full shingle strings, so a
    64-bit prefix collision between a corpus shingle and a DIFFERENT
    benchmark shingle would add a spurious hit the oracle lacks (there is
    no exact re-verify here, unlike q66). With ~10^5 distinct shingles a
    side the birthday bound puts that at ~10^-9 per round — accepted, but
    the parity claim is probabilistic, not airtight."""
    from ..operators.dedupe import decontaminate
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    corp = docs.filter(F.col("doc_id") % 97 != 0).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    kept, contaminated = decontaminate(corp, bench, "text", "doc_id", n=8)
    return (kept.select("doc_id", F.lit("kept").alias("status"),
                        F.lit(0).cast("long").alias("n_hits"))
            .unionByName(contaminated.select(
                "doc_id", F.lit("dropped").alias("status"),
                F.col("n_hits").cast("long"))))


@register(
    "q65_knn_lsh_multiprobe",
    """
    WITH lsh AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[])) AS nn,
             array_to_string(list_transform(range(6), i ->
               CASE WHEN embedding[CAST(i AS INTEGER) + 1] >= 0
                    THEN '1' ELSE '0' END), '') AS bucket
      FROM embeddings
      -- NULL embedding excluded (r6): not a vector. Mirrors the engine's
      -- guarded sign_lsh_bucket, where a NULL vector's NULL bucket joins
      -- nothing; unguarded, DuckDB's array_to_string SKIPS null elements
      -- (bucket '' instead of NULL) and its vector kernels raise on
      -- NULL-bearing lists. len >= 6 (r7): empty/short vectors have no
      -- 6-bit sign bucket on the engine side either
      WHERE embedding IS NOT NULL AND len(embedding) >= 6
        AND len(list_filter(embedding, x -> x IS NULL)) = 0 -- no missing coords (r7b)
    ),
    probes AS (
      -- home bucket + each 1-bit flip, pairwise distinct by construction
      SELECT vec_id AS query_id, v AS qv, nn AS qn,
             unnest(list_prepend(bucket, list_transform(range(6), i ->
               substr(bucket, 1, CAST(i AS INTEGER))
               || (CASE WHEN substr(bucket, CAST(i AS INTEGER) + 1, 1) = '1'
                        THEN '0' ELSE '1' END)
               || substr(bucket, CAST(i AS INTEGER) + 2,
                         6 - CAST(i AS INTEGER) - 1)))) AS probe
      FROM lsh WHERE vec_id < 5
    ),
    -- zero-norm guard mirrors the engine contract (cosine 0.0); the rank
    -- orders on the RAW guarded double, rounding is display-only
    cand AS (
      SELECT p.query_id, n.vec_id AS neighbor_id,
             CASE WHEN n.nn > 0 AND p.qn > 0
                  THEN list_cosine_similarity(n.v, p.qv)
                  ELSE 0.0 END AS cos_raw
      FROM probes p JOIN lsh n
        ON n.bucket = p.probe AND n.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id,
           round(cos_raw, 6) AS cosine,
           CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY cos_raw DESC, neighbor_id)
             AS INTEGER) AS rank
    FROM cand
    QUALIFY rank <= 3
    """,
    survey_ref="beyond-ref: multiprobe LSH kNN (operators/similarity.py:knn with the SignLSH quantizer)",
)
def q65_knn_lsh_multiprobe(spark, sf_dir):
    """The RECALL path of the ANN operator under the oracle gate: top-3
    neighbors per query via ``knn`` with 1-bit multiprobe sign-LSH — each
    query probes its home sign-LSH bucket plus the 6 one-bit-flip buckets,
    so near neighbors that land just across a hyperplane are still found
    (q27's single-bucket form misses them by design). The probe set is
    pairwise distinct, so no dedup shuffle is needed (operator contract);
    candidates still arrive via bucket equi-join — never n². The oracle
    re-derives the probe expansion and ranks by the identical
    sequential-fold cosine (ranked on the RAW double on both engines —
    rounding is display-only)."""
    from ..operators.similarity import SignLSH, knn
    emb = _no_null_elements(spread(t(spark, sf_dir, "embeddings"), VEC_SLICE_BYTES))
    queries = emb.filter(F.col("vec_id") < 5)
    out = knn(emb, queries, k=3,
              quantizer=SignLSH(n_bits=6, probe_flips=True))
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


def _simhash_sql_sig() -> str:
    """One 32-bit simhash bit-string per doc in SQL: per-bit majority vote
    of md5-nibble high bits over the doc's DISTINCT tokens — the exact
    functions/text.py recipe (hex chars '8'..'f' carry the high bit; hex
    digits sort identically as chars in both engines)."""
    votes = ",\n             ".join(
        f"sum(CASE WHEN substr(h, {i + 1}, 1) >= '8' THEN 1 ELSE 0 END) AS v{i}"
        for i in range(32))
    bits = " || ".join(
        f"(CASE WHEN v{i} * 2 >= n THEN '1' ELSE '0' END)" for i in range(32))
    return f"""
    toks AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(string_split_regex(lower(coalesce(text, '')),
                                              '\\s+'),
                           t -> t <> ''))) AS tok
      FROM documents
    ),
    hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
    agg AS (
      SELECT doc_id, count(*) AS n,
             {votes}
      FROM hashed GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {bits} AS simhash FROM agg)
    """


@register(
    "q66_simhash_banded_pairs",
    f"""
    WITH {_simhash_sql_sig()},
    bands0 AS (
      SELECT doc_id, simhash, i,
             substr(simhash, CAST(i AS INTEGER) * 8 + 1, 8) AS b
      FROM sig, unnest(range(4)) AS t(i)
    ),
    -- the engine's DEFAULT_MAX_DF stop-key cap, mirrored (q24's pattern):
    -- a band value shared by >1000 docs is dropped WHOLE on both sides —
    -- at sf0.1 the synthetic corpus concentrates enough near-identical
    -- docs that the cap genuinely binds, so an uncapped oracle diverges
    keepb AS (
      SELECT i, b FROM bands0 GROUP BY i, b HAVING count(*) <= 1000
    ),
    bands AS (SELECT b0.* FROM bands0 b0 JOIN keepb USING (i, b)),
    -- under the cap, banding is exact, not a recall heuristic: hamming
    -- <= 3 over 4 bands pigeonholes at least one band into exact
    -- equality (Manku et al. 2007), so band-join + exact verify
    -- reproduces the full answer over the surviving bands
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM bands a JOIN bands b ON a.i = b.i AND a.b = b.b
                               AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_filter(range(32), i ->
             substr(sa, CAST(i AS INTEGER) + 1, 1)
             <> substr(sb, CAST(i AS INTEGER) + 1, 1))) AS INTEGER) AS hamming
    FROM cand
    WHERE len(list_filter(range(32), i ->
            substr(sa, CAST(i AS INTEGER) + 1, 1)
            <> substr(sb, CAST(i AS INTEGER) + 1, 1))) <= 3
    """,
    survey_ref="beyond-ref: SimHash banded Hamming search (operators/dedupe.py:simhash_near_pairs)",
)
def q66_simhash_banded_pairs(spark, sf_dir):
    """The SimHash SEARCH path under the oracle gate (q25 certifies only
    the signatures): all document pairs within Hamming distance 3, found
    by the banded equi-join (4 x 8-bit bands, DEFAULT_MAX_DF stop-band
    cap on — the oracle mirrors the cap, q24's pattern) + exact verify.
    Over the surviving bands banding is EXACT, not approximate — d <= 3
    with 4 bands forces at least one band to agree exactly (pigeonhole),
    so the engine's band-partitioned plan and the oracle's band join must
    produce the identical pair set. The engine's band keys are the TRUE
    band values (integer ``(band_index << 8) | band_byte`` extracted from
    the packed LONG signature, r6 — previously xxhash64 of a band string),
    so the stop-band cap decisions mirror the oracle's per-(i, band) HAVING
    exactly, with no hash-collision caveat on either the candidate set or
    the cap."""
    from ..operators.dedupe import simhash_near_pairs
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    return simhash_near_pairs(docs, "text", "doc_id",
                              bits=32, band_bits=8, max_hamming=3)


@register(
    "q67_conflict_evidence_dedupe",
    """
    WITH src AS (
      SELECT o_custkey, o_orderstatus, o_orderpriority FROM orders
    ),
    collapsed AS (
      SELECT DISTINCT o_custkey, o_orderstatus, o_orderpriority FROM src
    ),
    per_key AS (
      SELECT o_custkey, count(*) AS distinct_rows FROM collapsed GROUP BY 1
    ),
    conflicts AS (
      SELECT o_custkey,
             count(DISTINCT (o_orderstatus, o_orderpriority))
               AS distinct_variants
      FROM src GROUP BY 1
      HAVING count(DISTINCT (o_orderstatus, o_orderpriority)) > 1
    )
    SELECT p.o_custkey, p.distinct_rows,
           CASE WHEN c.o_custkey IS NULL THEN 'clean' ELSE 'conflict' END
             AS status,
           CAST(coalesce(c.distinct_variants, 1) AS INTEGER)
             AS distinct_variants
    FROM per_key p LEFT JOIN conflicts c USING (o_custkey)
    """,
    survey_ref="O6 (operators/dedupe.py:dedupe_with_conflicts — reference history_dedupe.py:16-63)",
)
def q67_conflict_evidence_dedupe(spark, sf_dir):
    """O6 conflict-evidence dedupe under the oracle gate (previously
    pytest-only): exact duplicate business rows collapse, while business
    keys whose compared fields DISAGREE are reported as conflicts instead
    of silently resolved. This ADAPTS the reference's history-dedupe
    contract rather than reproducing it: the reference
    (history_dedupe.py:16-63) keeps exactly ONE row per business key
    (first wins) and reports the conflicts it discarded, while this
    operator is evidence-preserving — every distinct (key, compared)
    variant survives, so a reviewer sees the conflicting rows themselves,
    not just that a conflict happened. The oracle certifies the adapted
    semantics. Both
    operator outputs feed the result: the collapsed frame supplies the
    per-key distinct-row counts, the conflict report supplies the variant
    counts. Plan: one dropDuplicates shuffle + one map-side-combined
    distinct-count agg, both on the business key."""
    from ..operators.dedupe import dedupe_with_conflicts
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderpriority")
    deduped, conflicts = dedupe_with_conflicts(
        orders, ["o_custkey"], ["o_orderstatus", "o_orderpriority"])
    per_key = deduped.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("distinct_rows"))
    return (per_key.join(conflicts, "o_custkey", "left")
            .select("o_custkey", "distinct_rows",
                    F.when(F.col("distinct_variants").isNull(), "clean")
                    .otherwise("conflict").alias("status"),
                    F.coalesce("distinct_variants", F.lit(1)).cast("int")
                    .alias("distinct_variants")))


@register(
    "q68_tally_integrity_report",
    """
    WITH detail AS (
      SELECT CAST(l_orderkey AS VARCHAR) AS division_id,
             CASE WHEN l_returnflag = 'A' THEN 'ta'
                  WHEN l_returnflag = 'R' THEN 'nil'
                  ELSE 'staon' END AS vote_code
      FROM lineitem
    ),
    obs AS (
      SELECT division_id, vote_code, count(*) AS observed
      FROM detail GROUP BY 1, 2
    ),
    -- tally header with planted defects: +1 on 'ta' for divisions %37
    -- (reconciliation mismatch), non-numeric declared on %41 (the
    -- reference's comparable-mask skip semantics)
    header AS (
      SELECT division_id, vote_code,
             CASE WHEN CAST(division_id AS BIGINT) % 41 = 0 THEN 'n/a'
                  WHEN CAST(division_id AS BIGINT) % 37 = 0
                       AND vote_code = 'ta'
                    THEN CAST(observed + 1 AS VARCHAR)
                  ELSE CAST(observed AS VARCHAR) END AS member_count,
             observed
      FROM obs
    ),
    a10 AS (
      SELECT division_id, 'missing_categories' AS issue,
             array_to_string(list_sort(list_filter(
               ['ta', 'nil', 'staon'],
               r -> NOT list_contains(codes, r))), ',') AS detail,
             -- VARCHAR: nullable ints widen to float64 through the
             -- DuckDB->pandas bridge ('2.0' vs '2' hash mismatch)
             CAST(NULL AS VARCHAR) AS declared_count,
             CAST(NULL AS VARCHAR) AS observed_count
      FROM (SELECT division_id, list(DISTINCT vote_code) AS codes
            FROM header GROUP BY 1)
      WHERE len(list_filter(['ta', 'nil', 'staon'],
                            r -> NOT list_contains(codes, r))) > 0
    ),
    a11 AS (
      SELECT division_id, 'tally_mismatch' AS issue, vote_code AS detail,
             CAST(TRY_CAST(member_count AS INTEGER) AS VARCHAR)
               AS declared_count,
             CAST(observed AS VARCHAR) AS observed_count
      FROM header
      WHERE TRY_CAST(member_count AS INTEGER) IS NOT NULL
        AND TRY_CAST(member_count AS INTEGER) <> observed
    )
    SELECT * FROM a10 UNION ALL SELECT * FROM a11
    """,
    survey_ref="A10,A11 (plans/quality.py:tally_completeness_evidence, tally_reconciliation_evidence — reference table_division_tallies.py:239-283)",
)
def q68_tally_integrity_report(spark, sf_dir):
    """A10+A11 under the oracle gate (previously pytest-only): lineitem
    plays the exploded member-vote rows (division = orderkey, vote kind
    from returnflag), a tally header is derived per (division, kind) with
    two planted defect families — +1 over-declared 'ta' counts on %37
    divisions, non-numeric declared counts on %41 (which the comparable
    mask must SKIP, not flag) — and the REAL check plans produce the
    evidence: divisions missing a required category (completeness) and
    declared-vs-observed mismatches (reconciliation), unioned into one
    review report.

    Plan shape (r6 — was 5.35s with the counting check wrappers): the
    single `obs` aggregate (one map-side-combined shuffle on the division
    key) feeds BOTH checks — the header carries `observed`, so
    reconciliation is a pure projection+filter (observed_col fast path, no
    re-aggregation and no join) and completeness is one further groupBy
    over the already-aggregated ~3-rows-per-division frame. The lazy
    evidence plans replace the (CheckResult, evidence) wrappers, whose
    construction-time count() actions executed the pipeline twice before
    the report's own action ran it again."""
    from ..plans.quality import (tally_completeness_evidence,
                                 tally_reconciliation_evidence)
    li = t(spark, sf_dir, "lineitem")
    detail = li.select(
        F.col("l_orderkey").cast("string").alias("division_id"),
        F.when(F.col("l_returnflag") == "A", "ta")
        .when(F.col("l_returnflag") == "R", "nil")
        .otherwise("staon").alias("vote_code"))
    obs = (detail.groupBy("division_id", "vote_code")
           .agg(F.count(F.lit(1)).alias("observed")))
    header = obs.select(
        "division_id", "vote_code", "observed",
        F.when(F.col("division_id").cast("long") % 41 == 0, F.lit("n/a"))
        .when((F.col("division_id").cast("long") % 37 == 0)
              & (F.col("vote_code") == "ta"),
              (F.col("observed") + 1).cast("string"))
        .otherwise(F.col("observed").cast("string")).alias("member_count"))
    missing = tally_completeness_evidence(header)
    mismatches = tally_reconciliation_evidence(header, observed_col="observed")
    a10 = missing.select(
        "division_id", F.lit("missing_categories").alias("issue"),
        F.array_join("missing_codes", ",").alias("detail"),
        F.lit(None).cast("string").alias("declared_count"),
        F.lit(None).cast("string").alias("observed_count"))
    a11 = mismatches.select(
        "division_id", F.lit("tally_mismatch").alias("issue"),
        F.col("vote_code").alias("detail"),
        F.col("declared_count").cast("string").alias("declared_count"),
        F.col("observed_count").cast("string").alias("observed_count"))
    return a10.unionByName(a11)


# ---------------------------------------------------------------------------
# Lexical relevance / statistical quality scoring (operators/relevance.py)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "filter", "stream")


@register(
    "q69_bm25_relevance",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(coalesce(text, '')),
                                            '\s+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    dl AS (SELECT doc_id, len(t) AS dl FROM tk),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS tok FROM tk)
      WHERE tok IN ('join', 'filter', 'stream')
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf * (1.2 + 1)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS s
      FROM tf
      JOIN dfreq USING (tok)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY 1
    )
    SELECT d.doc_id, round(coalesce(s, 0.0), 6) AS bm25
    FROM dl d LEFT JOIN scored USING (doc_id)
    """,
    survey_ref="beyond-ref: BM25 relevance mining (operators/relevance.py:bm25_scores)",
)
def q69_bm25_relevance(spark, sf_dir):
    """Okapi BM25 of every document against a fixed query-term set, the
    sparse ranker used to mine domain-relevant docs from a web corpus.
    One row per input document (0.0 when no term matches), non-negative
    Lucene IDF, k1=1.2 / b=0.75. Plan: tokenize projection for lengths,
    one term-filtered explode, tf groupBy on doc_id, term-df and the
    1-row (N, avgdl) statistics broadcast back — the corpus shuffles once,
    on the doc key. Oracle re-derives every component in SQL; the 6-dp
    round absorbs float summation-order drift across <= 3 terms."""
    from ..operators.relevance import bm25_scores
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    # persist_stats=False: the workload memoizes built plans across bench
    # passes, so the operator's default lazy persist would turn passes 2+
    # into block-cache reads — the 'memo becomes RESULT caching' failure
    # mode (workload/__init__._tuned). The cache-free plan re-scans per
    # consumer: the honest one-shot cost the bench must measure.
    return bm25_scores(docs, _BM25_TERMS, "text", "doc_id",
                       persist_stats=False)


@register(
    "q70_bigram_lm_quality",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(coalesce(text, '')),
                                            '\s+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    occ AS (
      SELECT doc_id,
             t[CAST(i AS INTEGER) + 1] AS w1,
             t[CAST(i AS INTEGER) + 2] AS w2
      FROM tk, unnest(range(len(t) - 1)) AS u(i)
      WHERE len(t) >= 2
    ),
    joint AS (SELECT w1, w2, count(*) AS c12 FROM occ GROUP BY 1, 2),
    ctx AS (SELECT w1, sum(c12) AS c1 FROM joint GROUP BY 1),
    vocab AS (
      SELECT count(DISTINCT tok) AS v
      FROM (SELECT unnest(t) AS tok FROM tk)
    ),
    prob AS (
      SELECT w1, w2, (c12 + 0.5) / (c1 + 0.5 * v) AS p
      FROM joint JOIN ctx USING (w1) CROSS JOIN vocab
    )
    SELECT occ.doc_id,
           count(*) AS n_bigrams,
           round(avg(-log2(p)), 6) AS bits
    FROM occ JOIN prob USING (w1, w2)
    GROUP BY 1
    """,
    survey_ref="beyond-ref: self-trained bigram-LM quality filter (operators/relevance.py:bigram_lm_bits; CCNet-style perplexity gate)",
)
def q70_bigram_lm_quality(spark, sf_dir):
    """The CCNet-style statistical quality gate without the external LM:
    a bigram model with add-0.5 smoothing is trained ON THE CORPUS ITSELF
    (joint + context counts, distinct-unigram vocabulary), then every
    document is scored mean -log2 P(w2|w1) in bits per bigram — gibberish
    and mojibake score high. Documents under two tokens have no bigram
    event and are absent by contract. Plan: two explode passes (count
    pass, score pass), aggregations keyed by bigram (map-side combined),
    the 1-row vocabulary broadcast; the only wide state is the
    distinct-bigram count table — never |corpus|^2. The oracle re-trains
    the same LM in SQL; the per-doc mean is rounded to 6 dp to absorb
    summation-order drift."""
    from ..operators.relevance import bigram_lm_bits
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    # persist_stats=False: same reasoning as q69 — memoized plans across
    # bench passes must not read a persisted count table for free.
    return bigram_lm_bits(docs, "text", "doc_id", persist_stats=False)


# ---------------------------------------------------------------------------
# Corpus profiling: n-gram heavy hitters + source overlap (r6)
# ---------------------------------------------------------------------------

@register(
    "q71_ngram_heavy_hitters",
    r"""
    WITH tk AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(coalesce(text, '')),
                                            '\s+'),
                         t -> t <> '') AS toks
      FROM documents
    ),
    -- word_shingles contract (functions.text): <n tokens -> ONE whole-text
    -- shingle; '' for a blank doc (dropped below — a blank doc says nothing
    -- about corpus content). coalesce: array_to_string([]) is NULL.
    sh AS (
      SELECT doc_id, source,
             coalesce(array_to_string(
               toks[CAST(i AS INTEGER) + 1 : CAST(i AS INTEGER) + 2], ' '),
               '') AS ngram
      FROM tk, unnest(range(greatest(len(toks) - 1, 1))) AS u(i)
    ),
    hh AS (
      SELECT source, ngram, count(*) AS occurrences,
             count(DISTINCT doc_id) AS doc_freq
      FROM sh WHERE ngram <> '' GROUP BY 1, 2
    )
    SELECT source, ngram, occurrences, doc_freq, rank FROM (
      SELECT source, ngram, occurrences, doc_freq,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY occurrences DESC, ngram) AS INTEGER) AS rank
      FROM hh
    ) WHERE rank <= 10
    """,
    survey_ref="beyond-ref: corpus profiling top-k n-grams (operators/profiling.py:ngram_heavy_hitters); skew-safe via operators.skew.salted_top_n",
)
def q71_ngram_heavy_hitters(spark, sf_dir):
    """Top-10 word bigrams per source by occurrence count, with document
    frequency — the "what is this corpus made of" profiling report and the
    empirical stop-shingle candidates the dedupe caps drop. Plan: the
    Arrow shingle kernel emits per-DOCUMENT pre-aggregated (source, ngram,
    occ) rows map-side (the Catalyst transform×slice×array_join form is
    interpreted per element — measured 155 s of a 175 s pass at 250k
    docs), one map-side-combined (source, ngram) aggregation, then the
    two-phase SALTED top-k (a source holding most of the corpus ranks
    inside bounded buckets; only <= buckets*k survivors meet one reducer).
    Rank ties break on ngram asc — a total order, so the oracle's
    row_number reproduces it exactly."""
    from ..operators.profiling import ngram_heavy_hitters
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    return ngram_heavy_hitters(docs, n=2, k=10, group_cols=("source",))


@register(
    "q74_source_overlap",
    r"""
    WITH tk AS (
      SELECT source,
             list_filter(string_split_regex(lower(coalesce(text, '')),
                                            '\s+'),
                         t -> t <> '') AS toks
      FROM documents WHERE source IS NOT NULL
    ),
    sh AS (
      SELECT DISTINCT source,
             coalesce(array_to_string(
               toks[CAST(i AS INTEGER) + 1 : CAST(i AS INTEGER) + 3], ' '),
               '') AS ngram
      FROM tk, unnest(range(greatest(len(toks) - 2, 1))) AS u(i)
    ),
    sh2 AS (SELECT * FROM sh WHERE ngram <> ''),
    tot AS (SELECT source, count(*) AS n FROM sh2 GROUP BY 1),
    p AS (
      SELECT a.source AS src_a, b.source AS src_b,
             count(*) AS shared_ngrams
      FROM sh2 a JOIN sh2 b ON a.ngram = b.ngram AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b, p.shared_ngrams,
           ta.n AS n_a, tb.n AS n_b,
           round(CAST(p.shared_ngrams AS DOUBLE)
                 / (ta.n + tb.n - p.shared_ngrams), 6) AS jaccard,
           round(CAST(p.shared_ngrams AS DOUBLE)
                 / least(ta.n, tb.n), 6) AS containment
    FROM p JOIN tot ta ON ta.source = p.src_a
           JOIN tot tb ON tb.source = p.src_b
    """,
    survey_ref="beyond-ref: cross-source shingle-overlap matrix (operators/profiling.py:source_overlap); feeds mix_sources weighting",
    memoize=False,  # source_overlap lazily localCheckpoints its distinct
    # (source, key) frame (r8): a memoized plan would re-read those blocks
    # on repeat runs and time cached data instead of the shingle pass
)
def q74_source_overlap(spark, sf_dir):
    """Pairwise distinct 3-shingle overlap between sources: shared count,
    Jaccard, and containment (1.0 = the smaller source is a subset — a
    syndication feed). The report that decides source weights before
    temperature mixing. Plan: the Arrow posting kernel emits per-doc
    distinct shingles keyed by their 8-byte md5 prefix (the repo's
    standard compact shuffle key — same astronomically-unlikely
    prefix-collision caveat documented on q23/q64; the oracle joins RAW
    strings, so a collision would fail certification rather than pass
    silently), then a distinct on (source, key), a postings array per
    shingle BOUNDED BY #SOURCES (not documents — no df cap needed, unlike
    document-pair expansion), exploded to source pairs and
    count-aggregated; per-source totals broadcast back."""
    from ..operators.profiling import source_overlap
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    return source_overlap(docs, n=3)


# ---------------------------------------------------------------------------
# Embedding maintenance: int8 quantization + deterministic k-means (r6)
# ---------------------------------------------------------------------------

@register(
    "q72_quantize_int8",
    r"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings
               -- NULL embeddings stay (sentinel digests); NULL-ELEMENT
               -- vectors are excluded on BOTH sides — the digest folds'
               -- NULL-propagation details differ between engines, and
               -- quantize_int8 documents missing coordinates as outside
               -- the certified contract (r7b)
               WHERE embedding IS NULL
                  OR len(list_filter(embedding, x -> x IS NULL)) = 0),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM e
    ),
    q AS (
      SELECT vec_id, v, scale,
             CASE WHEN scale > 0 THEN
               list_transform(v, x -> CAST(greatest(-127, least(127,
                 floor(x / scale + 0.5))) AS INTEGER))
             ELSE list_transform(v, x -> 0) END AS qv
      FROM s
    )
    SELECT vec_id,
           round(scale, 9) AS scale,
           -- -128 sentinel for NULL/empty vectors: keeps the column
           -- non-nullable so pandas does not upcast it to float64
           coalesce(list_min(qv), -128) AS q_min,
           coalesce(list_max(qv), -128) AS q_max,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(qv, x -> CAST(abs(x) AS BIGINT))),
             (a, x) -> a + x) AS q_l1,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(len(qv)),
               i -> CAST(qv[CAST(i AS INTEGER) + 1] AS BIGINT) * (i + 1))),
             (a, x) -> a + x) AS q_posdot,
           round(CASE WHEN len(v) > 0 THEN
             list_reduce(list_prepend(0.0,
               list_transform(list_zip(v, qv),
                 z -> (z[1] - z[2] * scale)
                      * (z[1] - z[2] * scale))),
               (a, x) -> a + x) / len(v)
           ELSE 0.0 END, 12) AS mse
    FROM q
    """,
    survey_ref="beyond-ref: symmetric int8 embedding quantization (operators/vectors.py:quantize_int8); ANN memory/IO 4x cut",
)
def q72_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization with reconstruction-error
    telemetry: scale = max|x|/127, q_i = clamp(floor(x_i/scale + .5)) —
    explicit floor(+0.5) half-up, the one rounding rule every engine
    agrees on — plus digest columns over the quantized vector (min/max,
    L1 mass, position-weighted dot — catches any permutation) and the
    reconstruction MSE. An all-zero vector quantizes to scale 0 and zero
    codes, never NaN. Pure projection: zero shuffle, the whole transform
    runs inside the scan's WholeStageCodegen — the plan that rewrites a
    100 TB embedding table in one map-only pass. Folds are sequential on
    both sides (F.aggregate ~ list_reduce) so doubles agree bit-for-bit
    before the 9/12-dp rounds."""
    from ..operators.vectors import quantize_int8
    emb = _no_null_elements(spread(t(spark, sf_dir, "embeddings"), VEC_SLICE_BYTES))
    q = quantize_int8(emb)
    qv = F.col("qvec")
    # NULL/empty-vector digest contract, pinned to what the DuckDB side
    # computes (review r6): the oracle's list_prepend(0, ...) folds yield 0
    # for BOTH a NULL and an empty qvec, while raw Spark would yield NULL
    # (aggregate over NULL) and — for the empty posdot — sequence(1, 0)
    # is the DESCENDING [1, 0], not []. coalesce + an explicit empty guard
    # keep the two engines identical on rows the operator itself treats
    # as in-contract (quantize_int8's mse has the same size-0 branch).
    posdot = F.when(
        F.size(qv) > 0,
        F.aggregate(
            F.zip_with(qv, F.sequence(F.lit(1), F.size(qv)),
                       lambda x, i: x.cast("long") * i),
            F.lit(0).cast("long"),
            lambda a, x: a + x)).otherwise(F.lit(0).cast("long"))
    # q_min/q_max coalesce to -128 (outside the int8 code range) for
    # NULL/empty vectors: a NULLable int column round-trips through the
    # harness's pandas frame as float64 ('0' vs '0.0' canon mismatch) —
    # the q49 min_fp/max_fp sentinel precedent
    return q.select(
        "vec_id", "scale",
        F.coalesce(F.array_min(qv), F.lit(-128)).alias("q_min"),
        F.coalesce(F.array_max(qv), F.lit(-128)).alias("q_max"),
        F.coalesce(
            F.aggregate(F.transform(qv, lambda x: F.abs(x).cast("long")),
                        F.lit(0).cast("long"),
                        lambda a, x: a + x),
            F.lit(0).cast("long")).alias("q_l1"),
        F.coalesce(posdot, F.lit(0).cast("long")).alias("q_posdot"),
        "mse",
    )


def _kmeans_assign_sql(cent_cte: str, out: str, vec_cte: str = "e") -> str:
    """One k-means assignment round in DuckDB SQL: squared L2 to every
    centroid in ``cent_cte`` via the same sequential fold the Spark side
    uses, argmin with ties to the lowest cluster id. ``vec_cte`` names
    the (vec_id, v) frame being assigned (default the shared ``e``
    universe; the PQ oracles pass per-subspace slice CTEs — with the
    default, the emitted SQL is byte-identical to the pre-r9 form)."""
    return f"""
    {out}d AS (
      SELECT {vec_cte}.vec_id, c.cluster,
             list_reduce(list_prepend(0.0,
               list_transform(list_zip({vec_cte}.v, c.v),
                 z -> (z[1] - z[2]) * (z[1] - z[2]))),
               (a, x) -> a + x) AS d2
      FROM {vec_cte} CROSS JOIN {cent_cte} c
    ),
    {out} AS (
      SELECT vec_id, cluster, d2 FROM (
        SELECT vec_id, cluster, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS rn
        FROM {out}d
      ) WHERE rn = 1
    )"""


def _kmeans_means_sql(assign_cte: str, prev_cte: str, out: str,
                      vec_cte: str = "e") -> str:
    """Centroid update round: per-(cluster, dimension) mean rounded to
    6 dp (the cross-engine reproducibility pin), empty clusters keep
    their previous centroid. ``vec_cte`` as in ``_kmeans_assign_sql``."""
    return f"""
    {out}m AS (
      SELECT a.cluster, CAST(u.i AS INTEGER) AS pos,
             round(avg({vec_cte}.v[CAST(u.i AS INTEGER) + 1]), 6) AS mv
      FROM {assign_cte} a JOIN {vec_cte} USING (vec_id),
           unnest(range(len({vec_cte}.v))) AS u(i)
      GROUP BY 1, 2
    ),
    {out} AS (
      SELECT p.cluster, coalesce(m.v, p.v) AS v
      FROM {prev_cte} p LEFT JOIN (
        SELECT cluster, list(mv ORDER BY pos) AS v FROM {out}m GROUP BY 1
      ) m USING (cluster)
    )"""


@register(
    "q73_kmeans_clusters",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings
               -- mirrors kmeans_assign's exclusion: a NULL, EMPTY, or
               -- NULL-ELEMENT embedding is not clusterable (empty leg
               -- r7, missing-coordinate leg r7b)
               WHERE embedding IS NOT NULL AND len(embedding) > 0
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cluster, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
    ),
    {_kmeans_assign_sql('c0', 'a0')},
    {_kmeans_means_sql('a0', 'c0', 'c1')},
    {_kmeans_assign_sql('c1', 'a1')},
    {_kmeans_means_sql('a1', 'c1', 'c2')},
    {_kmeans_assign_sql('c2', 'a2')}
    SELECT vec_id, cluster, round(sqrt(d2), 6) AS dist FROM a2
    """,
    survey_ref="beyond-ref: deterministic Lloyd k-means (operators/vectors.py:kmeans_assign); IVF coarse quantizer / SemDeDup clustering",
    memoize=False,  # construction COLLECTS the fitted centroids (k*dim
    # doubles): memoizing the built plan would skip the training jobs on
    # every bench pass after the first — result caching, not plan reuse
)
def q73_kmeans_clusters(spark, sf_dir):
    """Deterministic Lloyd k-means (k=4, 2 iterations): init = the 4
    lowest-id vectors, per-iteration centroids ROUNDED to 6 dp — the
    reproducibility pin that makes the fitted model (and so every
    assignment) bit-identical across runs and engines despite
    nondeterministic float summation order in the means. Ties in the
    argmin go to the lowest cluster id; an emptied cluster keeps its
    previous centroid. The coarse quantizer an IVF index trains, and the
    clustering stage of SemDeDup-style cluster-based curation. Scale
    shape: per iteration one MAP-ONLY assignment pass (the Arrow kernel —
    no join, no shuffle at any k, parity-pinned to the literal semantic
    twin the oracle unrolls) and one map-side-combined (cluster, dim)
    mean — k*dim rows — collected as the next model; driver state is the
    model only. The oracle unrolls both iterations as CTE rounds sharing
    the identical sequential-fold distance."""
    from ..operators.vectors import kmeans_assign
    emb = spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES)
    return kmeans_assign(emb, k=4, iters=2)


@register(
    "q75_diversity_sample",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings
               -- mirrors kmeans_assign's exclusion: a NULL, EMPTY, or
               -- NULL-ELEMENT embedding is not clusterable (empty leg
               -- r7, missing-coordinate leg r7b)
               WHERE embedding IS NOT NULL AND len(embedding) > 0
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cluster, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
    ),
    {_kmeans_assign_sql('c0', 'a0')},
    {_kmeans_means_sql('a0', 'c0', 'c1')},
    {_kmeans_assign_sql('c1', 'a1')},
    {_kmeans_means_sql('a1', 'c1', 'c2')},
    {_kmeans_assign_sql('c2', 'a2')}
    SELECT vec_id, cluster, pick_rank FROM (
      SELECT vec_id, cluster,
             CAST(row_number() OVER (
               PARTITION BY cluster
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER)
               AS pick_rank
      FROM a2
    ) WHERE pick_rank <= 25
    """,
    survey_ref="beyond-ref: cluster-quota diversity sampling (operators/vectors.py:diversity_sample); SSL-prototype cluster balancing",
    memoize=False,  # same reason as q73: construction collects the model
)
def q75_diversity_sample(spark, sf_dir):
    """Cluster-balanced diversity sample: k-means the embedding space
    (q73's deterministic fit, k=4 x 2 iterations), then keep 25 vectors
    per cluster by md5-hash order of the id — a reproducible,
    engine-portable pick (same contract as the md5 split/stratified
    samplers, q51/q58). A uniform sample over-represents dense corpus
    modes; the per-cluster quota flattens coverage across semantic
    regions — the SSL-prototype / cluster-balancing curation recipe.
    Plan: the kmeans fit's bounded aggregations + ONE row_number window
    per cluster over the assignment projection."""
    from ..operators.vectors import diversity_sample
    emb = spread(t(spark, sf_dir, "embeddings"), VEC_SLICE_BYTES)
    return diversity_sample(emb, quota=25, k=4, iters=2)


@register(
    "q77_dataset_card",
    f"""
    WITH per_doc AS (
      SELECT source,
             CAST(len(list_filter(string_split_regex(
               lower(coalesce(text, '')), '\\s+'), t -> t <> ''))
               AS BIGINT) AS n_tok,
             {_lang_guess_sql()} AS lang_guess,
             substr(sha256(trim(regexp_replace(lower(coalesce(text, '')),
                                               '[^a-z0-9]+', ' ', 'g'))),
                    1, 16) AS fp
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           -- CAST: DuckDB's sum(BIGINT) is HUGEINT, which the pandas
           -- bridge renders as float64 ('1136.0' vs Spark's '1136')
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(avg(n_tok), 2) AS mean_doc_tokens,
           round(100.0 * avg(CASE WHEN lang_guess = 'en' THEN 1 ELSE 0 END),
                 2) AS pct_english,
           count(DISTINCT fp) AS distinct_fingerprints,
           round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 4)
             AS dup_rate
    FROM per_doc
    GROUP BY source
    """,
    survey_ref="beyond-ref: per-source dataset card (composes X9 token counts, language-ID, X6 fingerprints); the summary artifact a curation run publishes",
)
def q77_dataset_card(spark, sf_dir):
    """The per-source DATASET CARD: document and token counts, English
    share by the marker-heuristic language ID, and the exact-duplication
    rate from content fingerprints — the one-page summary artifact a
    curation run publishes next to its output (and the report that says
    which source needs dedup before mixing). NULL sources form their own
    row (unattributed docs are still corpus mass — q55's contract). Plan:
    ONE projection pass computes token count, language guess, and
    fingerprint per document (all JVM-side column expressions), then a
    single map-side-combined groupBy(source); the distinct-fingerprint
    count shuffles on the same key. Integer avgs divide once at the end,
    so the 2-dp rounds see identical doubles on both engines."""
    docs = spread(t(spark, sf_dir, "documents"), TEXT_SLICE_BYTES)
    n_tok = tx.token_count("text").cast("long")
    lang = tx.language_guess("text")
    fp = tx.doc_fingerprint("text")
    per_doc = docs.select("source", n_tok.alias("n_tok"),
                          lang.alias("lang_guess"), fp.alias("fp"))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("total_tokens"),
                 F.round(F.avg("n_tok"), 2).alias("mean_doc_tokens"),
                 F.round(100.0 * F.avg((F.col("lang_guess") == "en")
                                       .cast("int")), 2)
                 .alias("pct_english"),
                 F.countDistinct("fp").alias("distinct_fingerprints"),
                 F.round(F.lit(1.0) - F.countDistinct("fp").cast("double")
                         / F.count(F.lit(1)), 4).alias("dup_rate")))


# ---------------------------------------------------------------------------
# ANN telemetry + SemDeDup composition (round 7)
# ---------------------------------------------------------------------------

@register(
    "q78_ann_recall",
    """
    WITH lsh AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[])) AS nn,
             array_to_string(list_transform(range(6), i ->
               CASE WHEN embedding[CAST(i AS INTEGER) + 1] >= 0
                    THEN '1' ELSE '0' END), '') AS bucket
      FROM embeddings
      -- the q27/q65 vector contract: NULL/empty/short vectors have no
      -- 6-bit sign bucket (engine filters F.size >= 6 up front)
      WHERE embedding IS NOT NULL AND len(embedding) >= 6
        AND len(list_filter(embedding, x -> x IS NULL)) = 0 -- no missing coords (r7b)
    ),
    -- ground truth: exact top-5 per query over the FULL corpus, ranked on
    -- the raw guarded cosine with the neighbor-id tiebreak (q26's recipe)
    truth AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
      FROM lsh q JOIN lsh n ON n.vec_id <> q.vec_id
      WHERE q.vec_id < 20
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY CASE WHEN n.nn > 0 AND q.nn > 0
                      THEN list_cosine_similarity(n.v, q.v)
                      ELSE 0.0 END DESC, n.vec_id) <= 5
    ),
    -- the index under test: q65's multiprobe expansion (home bucket +
    -- each 1-bit flip), top-5 per query within the probed buckets
    probes AS (
      SELECT vec_id AS query_id, v AS qv, nn AS qn,
             unnest(list_prepend(bucket, list_transform(range(6), i ->
               substr(bucket, 1, CAST(i AS INTEGER))
               || (CASE WHEN substr(bucket, CAST(i AS INTEGER) + 1, 1) = '1'
                        THEN '0' ELSE '1' END)
               || substr(bucket, CAST(i AS INTEGER) + 2,
                         6 - CAST(i AS INTEGER) - 1)))) AS probe
      FROM lsh WHERE vec_id < 20
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, n.vec_id AS neighbor_id,
               CASE WHEN n.nn > 0 AND p.qn > 0
                    THEN list_cosine_similarity(n.v, p.qv)
                    ELSE 0.0 END AS cos_raw
        FROM probes p JOIN lsh n
          ON n.bucket = p.probe AND n.vec_id <> p.query_id
      ) QUALIFY row_number() OVER (
          PARTITION BY query_id
          ORDER BY cos_raw DESC, neighbor_id) <= 5
    )
    SELECT t.query_id,
           count(*) AS n_true,
           count(a.neighbor_id) AS n_hit,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6)
             AS recall
    FROM truth t
    LEFT JOIN approx a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY t.query_id
    """,
    survey_ref="beyond-ref: ANN recall@k telemetry (operators/similarity.py:ann_recall) — brute-force ground truth vs the multiprobe LSH index",
    memoize=False,  # ann_recall lazily localCheckpoints the bucketed
    # corpus (r8): a memoized plan would re-read those blocks on repeat
    # runs and time cached data instead of the index path
)
def q78_ann_recall(spark, sf_dir):
    """Recall@5 of the multiprobe sign-LSH index against brute-force
    ground truth, per query — the telemetry every ANN tuning decision
    (n_bits, probe count, bucketer) needs and that r6 left unmeasured:
    the certified q27/q65 paths state their own contracts but nothing
    said what recall the bucketing actually bought. One row per query
    ``(query_id, n_true, n_hit, recall)``; mean recall is one avg over
    the result, deliberately not pre-averaged away (a degenerate bucket
    shows up as one query's 0.0, invisible in a mean). Plan: ground
    truth is the broadcast-queries linear scan (q26's shape), the
    approx side is the bucket equi-join under test (q65's shape), and
    the comparison join is |queries| x k rows — noise. At 100 TB this
    runs on a query SAMPLE; the brute-force side is the deliberate
    cost of measuring truth."""
    from ..operators.similarity import SignLSH, ann_recall
    # the q27 vector contract: NULL/empty/short vectors are out of
    # contract for a 6-bit bucketed index and for brute-force ground
    # truth alike (a NULL query would score 0.0 against everything)
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), VEC_SLICE_BYTES))
           .filter(F.size("embedding") >= 6))
    queries = emb.filter(F.col("vec_id") < 20)
    return ann_recall(emb, queries, k=5,
                      quantizer=SignLSH(n_bits=6, probe_flips=True))


@register(
    "q79_semdedup_clusters",
    f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      -- mirrors kmeans_assign's exclusion: a NULL, EMPTY, or
      -- NULL-ELEMENT embedding is not clusterable
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cluster, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)
    ),
    {_kmeans_assign_sql('c0', 'a0')},
    {_kmeans_means_sql('a0', 'c0', 'c1')},
    {_kmeans_assign_sql('c1', 'a2')},
    -- UNIT vectors once per row (the engine's exact operation sequence:
    -- norm = sqrt(sequential fold of squares), u_i = x_i / norm,
    -- zero-norm -> all-zero unit vector) so the pair stage is a single
    -- dot fold; cosine ROUNDED to 6 dp before the threshold (the q37
    -- cross-engine pin)
    u AS (
      SELECT vec_id,
             CASE WHEN nrm > 0 THEN list_transform(v, x -> x / nrm)
                  ELSE list_transform(v, x -> 0.0) END AS u
      FROM (SELECT vec_id, v,
                   sqrt(list_reduce(list_prepend(0.0,
                     list_transform(v, x -> x * x)),
                     (a, x) -> a + x)) AS nrm
            FROM e)
    ),
    pairs AS (
      SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
      FROM a2 x JOIN a2 y ON y.cluster = x.cluster AND x.vec_id < y.vec_id
      JOIN u ux ON ux.vec_id = x.vec_id
      JOIN u uy ON uy.vec_id = y.vec_id
      WHERE round(list_reduce(list_prepend(0.0,
              list_transform(list_zip(ux.u, uy.u), z -> z[1] * z[2])),
              (a, x) -> a + x), 6) >= 0.4
    ),
    edges AS (
      SELECT doc_a, doc_b FROM pairs
      UNION ALL
      SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
    ),
    reach AS (
      SELECT vec_id AS id, vec_id AS r FROM e
      UNION
      SELECT ed.doc_a AS id, reach.r
      FROM edges ed JOIN reach ON reach.id = ed.doc_b
    )
    SELECT a2.vec_id, a2.cluster, m.canonical_id
    FROM a2 JOIN (SELECT id, min(r) AS canonical_id
                  FROM reach GROUP BY id) m
      ON m.id = a2.vec_id
    """,
    survey_ref="beyond-ref: SemDeDup composed (operators/vectors.py:semdedup = kmeans_assign + within-cluster cosine collapse + min_label_components)",
    memoize=False,  # the kmeans fit inside semdedup collects centroids and
    # the closure localCheckpoints — construction runs actions (q73's rule)
)
def q79_semdedup_clusters(spark, sf_dir):
    """SemDeDup as ONE certified operator (r6 review: both pieces were
    certified separately — q73's kmeans fit, q37's cosine collapse — but
    the composition cluster -> within-cluster collapse never ran under
    the gate). One deterministic Lloyd round at k=16 partitions the
    embedding space (the fit is a PARTITION FUNCTION here, not a
    convergence exercise — q73 certifies the 2-iteration fit; one round
    halves the per-pass training jobs of this honestly-refitting
    memoize=False query), then cosine >= 0.4 pairs WITHIN each cluster
    link into connected components collapsed to min-id canonicals. The
    0.4 threshold is fixture-calibrated (the synthetic embeddings'
    cosine ceiling is ~0.51 — the production default stays 0.95, where
    true semantic twins live), and k=16 is the SemDeDup-faithful
    setting: cluster count scales with corpus so per-cluster pair work
    stays flat, and — since the pair join's parallelism is bounded by k
    distinct cluster keys — k IS the pair stage's max task fan-out (k=4
    ran the sf0.1 pair join on 4 tasks; the operator docstring carries
    the sizing rule). The oracle re-derives the full chain: the
    unrolled k-means CTE round, the unit-vector dot pair join
    (identical operation sequence both engines), and an independent
    recursive-CTE transitive closure (q62's
    BFS-vs-label-propagation cross-check, now over embedding space).
    max_cluster=None EXPLICITLY: the oracle models no cap, so the query
    certifies the uncapped semantics — the default-cap path (an over-cap
    cluster degrading to self-canonicals) is covered by
    tools/stress_semdedup.py and the unit tests instead; inheriting the
    default here would certify green only until a fixture regeneration
    pushed one cluster past 10k rows, then hash-mismatch with the root
    cause visible in neither query text (review r7)."""
    from ..operators.vectors import semdedup
    emb = spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES)
    return semdedup(emb, k=16, iters=1, threshold=0.4, max_cluster=None)


@register(
    "q80_ann_recall_ivf",
    """
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[])) AS nn,
             CAST(floor(embedding[1] * 4) AS BIGINT) AS cx,
             CAST(floor(embedding[2] * 4) AS BIGINT) AS cy
      FROM embeddings
      -- the IVF cell contract: NULL/empty/1-dim vectors have no 2-dim
      -- grid cell (engine filters F.size >= 2 up front)
      WHERE embedding IS NOT NULL AND len(embedding) >= 2
        AND len(list_filter(embedding, x -> x IS NULL)) = 0 -- no missing coords (r7b)
    ),
    truth AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
      FROM base q JOIN base n ON n.vec_id <> q.vec_id
      WHERE q.vec_id < 20
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY CASE WHEN n.nn > 0 AND q.nn > 0
                      THEN list_cosine_similarity(n.v, q.v)
                      ELSE 0.0 END DESC, n.vec_id) <= 5
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               CASE WHEN n.nn > 0 AND q.nn > 0
                    THEN list_cosine_similarity(n.v, q.v)
                    ELSE 0.0 END AS cos_raw
        FROM base q JOIN base n
          ON n.cx = q.cx AND n.cy = q.cy AND n.vec_id <> q.vec_id
        WHERE q.vec_id < 20
      ) QUALIFY row_number() OVER (
          PARTITION BY query_id
          ORDER BY cos_raw DESC, neighbor_id) <= 5
    )
    SELECT t.query_id,
           count(*) AS n_true,
           count(a.neighbor_id) AS n_hit,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6)
             AS recall
    FROM truth t
    LEFT JOIN approx a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY t.query_id
    """,
    survey_ref="beyond-ref: ANN recall@k for the IVF-grid path (operators/similarity.py:ann_recall with the Grid quantizer swapped in)",
    memoize=False,  # ann_recall lazily localCheckpoints the bucketed
    # corpus (r8): a memoized plan would re-read those blocks on repeat
    # runs and time cached data instead of the index path
)
def q80_ann_recall_ivf(spark, sf_dir):
    """q78's recall telemetry pointed at the OTHER index family: the
    IVF-grid coarse quantizer (q27's ivf_grid path) instead of sign-LSH —
    certifying that ann_recall's ``quantizer`` really is a swap-in
    (the operator contract q78 alone can't show). Single-probe (no
    adjacency ring), so this measures the one-cell recall floor an
    nprobe parameter would buy back. Same plan shape as q78: linear
    broadcast ground truth, cell equi-join under test, |queries| x k
    comparison join."""
    from ..operators.similarity import Grid, ann_recall
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), VEC_SLICE_BYTES))
           .filter(F.size("embedding") >= 2))
    queries = emb.filter(F.col("vec_id") < 20)
    return ann_recall(emb, queries, k=5, quantizer=Grid())


@register(
    "q81_ann_recall_ivf_nprobe",
    """
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[])) AS nn,
             CAST(floor(embedding[1] * 4) AS BIGINT) AS cx,
             CAST(floor(embedding[2] * 4) AS BIGINT) AS cy
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) >= 2
        AND len(list_filter(embedding, x -> x IS NULL)) = 0 -- no missing coords (r7b)
    ),
    truth AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
      FROM base q JOIN base n ON n.vec_id <> q.vec_id
      WHERE q.vec_id < 20
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY CASE WHEN n.nn > 0 AND q.nn > 0
                      THEN list_cosine_similarity(n.v, q.v)
                      ELSE 0.0 END DESC, n.vec_id) <= 5
    ),
    -- the 3x3 adjacency ring: home cell plus every (dx, dy) neighbor
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               CASE WHEN n.nn > 0 AND q.nn > 0
                    THEN list_cosine_similarity(n.v, q.v)
                    ELSE 0.0 END AS cos_raw
        FROM base q
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) ox
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) oy
        JOIN base n
          ON n.cx = q.cx + ox.dx AND n.cy = q.cy + oy.dy
         AND n.vec_id <> q.vec_id
        WHERE q.vec_id < 20
      ) QUALIFY row_number() OVER (
          PARTITION BY query_id
          ORDER BY cos_raw DESC, neighbor_id) <= 5
    )
    SELECT t.query_id,
           count(*) AS n_true,
           count(a.neighbor_id) AS n_hit,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6)
             AS recall
    FROM truth t
    LEFT JOIN approx a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY t.query_id
    """,
    survey_ref="beyond-ref: IVF nprobe recall (operators/similarity.py:ivf_probe_cells as the Grid quantizer's ring probes)",
    memoize=False,  # ann_recall lazily localCheckpoints the bucketed
    # corpus (r8): a memoized plan would re-read those blocks on repeat
    # runs and time cached data instead of the index path
)
def q81_ann_recall_ivf_nprobe(spark, sf_dir):
    """q80's IVF recall with the nprobe dial turned: each query probes its
    home cell PLUS the 3x3 adjacency ring (ivf_probe_cells as the
    ``Grid(ring=True)`` quantizer's probes — the nprobe mechanism a real
    IVF index serves with). Certifies the recall-vs-cost trade the
    telemetry pair exists to inform: q80 is the 1-cell floor, this is the
    9-cell rung, and the per-query rows make the bought-back neighbors
    visible (recall here must dominate q80's per query — asserted in
    tests). The probe set stays pairwise distinct (distinct offsets ->
    distinct cell strings), so the no-dedup join contract holds."""
    from ..operators.similarity import Grid, ann_recall
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), VEC_SLICE_BYTES))
           .filter(F.size("embedding") >= 2))
    queries = emb.filter(F.col("vec_id") < 20)
    return ann_recall(emb, queries, k=5, quantizer=Grid(ring=True))


@register(
    "q82_ann_recall_ivf_trained",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[])) AS nn
      FROM embeddings
      -- the kmeans_fit universe: NULL, EMPTY, and NULL-ELEMENT
      -- embeddings are not clusterable (and not servable by a trained
      -- quantizer)
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    -- the deterministic one-round Lloyd fit, unrolled (q73/q79's CTE
    -- recipe): init = the 8 lowest-id vectors, one assignment + one
    -- 6-dp-rounded mean update, final assignment a1 = home cells
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cluster, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
    ),
    {_kmeans_assign_sql('c0', 'a0')},
    {_kmeans_means_sql('a0', 'c0', 'c1')},
    {_kmeans_assign_sql('c1', 'a1')},
    truth AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
      FROM e q JOIN e n ON n.vec_id <> q.vec_id
      WHERE q.vec_id < 20
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY CASE WHEN n.nn > 0 AND q.nn > 0
                      THEN list_cosine_similarity(n.v, q.v)
                      ELSE 0.0 END DESC, n.vec_id) <= 5
    ),
    -- nprobe = the 3 NEAREST fitted centroids by query distance (ties
    -- to the lowest cluster id) — a1d is the assignment CTE's full
    -- (vec_id, cluster, d2) distance table, so the probe ranking reuses
    -- the exact fold the home-cell argmin used
    probes AS (
      SELECT vec_id AS query_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS rn
        FROM a1d WHERE vec_id < 20
      ) WHERE rn <= 3
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, n.vec_id AS neighbor_id,
               CASE WHEN ne.nn > 0 AND qe.nn > 0
                    THEN list_cosine_similarity(ne.v, qe.v)
                    ELSE 0.0 END AS cos_raw
        FROM probes p
        JOIN a1 n ON n.cluster = p.cluster AND n.vec_id <> p.query_id
        JOIN e ne ON ne.vec_id = n.vec_id
        JOIN e qe ON qe.vec_id = p.query_id
      ) QUALIFY row_number() OVER (
          PARTITION BY query_id
          ORDER BY cos_raw DESC, neighbor_id) <= 5
    )
    SELECT t.query_id,
           count(*) AS n_true,
           count(a.neighbor_id) AS n_hit,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6)
             AS recall
    FROM truth t
    LEFT JOIN approx a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY t.query_id
    """,
    survey_ref="beyond-ref: trained-centroid IVF recall (operators/similarity.py:centroid_cells + centroid_probe_ranks over kmeans_fit's model, as ann_recall's Centroids quantizer)",
    memoize=False,  # kmeans_fit COLLECTS the centroid model at
    # construction (q73's rule) — memoizing the plan would cache the fit
)
def q82_ann_recall_ivf_trained(spark, sf_dir):
    """The production IVF shape, closed (r7 verdict's #1 residual): the
    coarse quantizer is a TRAINED k-means codebook (``kmeans_fit``, k=8,
    one deterministic Lloyd round), home cell = nearest centroid
    (the ``Centroids`` quantizer's key), and nprobe = the 3 nearest
    centroids BY QUERY DISTANCE (``centroid_probe_ranks`` — the probe
    ranking needs the query vector, which the fixed grid's
    cell-adjacency ring never did). The fixed grid degrades in >2
    effective dimensions because it quantizes only the leading
    coordinates; the trained codebook partitions the full 64-dim space,
    and the fixture shows it: mean recall ~0.73 here vs ~0.37 for q80's
    one-cell grid floor and this query's recall dominates q80's on 18/20
    queries (mean dominance asserted in tests). The oracle re-derives
    the ENTIRE chain — the unrolled fit (q73's CTE recipe), the argmin
    home cells, the top-nprobe probe ranking off the same distance
    table, brute-force truth, and the recall join — so the certification
    covers fit + bucketing + probing + telemetry as one contract."""
    from ..operators.similarity import Centroids, ann_recall
    from ..operators.vectors import kmeans_fit
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    cents = kmeans_fit(emb, k=8, iters=1)
    queries = emb.filter(F.col("vec_id") < 20)
    # the corpus side keys through the Arrow assignment kernel, the
    # 20-row query side through the parity-pinned literal expression
    return ann_recall(emb, queries, k=5,
                      quantizer=Centroids(cents, nprobe=3))


@register(
    "q83_knn_quantized_rerank",
    r"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      -- the codec universe: NULL, empty, and NULL-element embeddings
      -- are not servable by a quantized index (q72's contract)
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    -- q72's quantization recipe verbatim: qv from the RAW scale, the
    -- EMITTED scale rounded to 9 dp (the codec's reproducibility pin)
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS rscale
      FROM e
    ),
    qz AS (
      SELECT vec_id, round(rscale, 9) AS scale,
             CASE WHEN rscale > 0 THEN
               list_transform(v, x -> CAST(greatest(-127, least(127,
                 floor(x / rscale + 0.5))) AS INTEGER))
             ELSE list_transform(v, x -> 0) END AS qv
      FROM s
    ),
    -- dequantize with the EMITTED scale, exactly as the serving scan does
    dq AS (
      SELECT vec_id, list_transform(qv, c -> c * scale) AS dv
      FROM qz
    ),
    dqn AS (SELECT vec_id, dv, list_dot_product(dv, dv) AS nn FROM dq),
    qs AS (
      SELECT vec_id AS query_id, v AS qvf, list_dot_product(v, v) AS qn
      FROM e WHERE vec_id < 20
    ),
    -- stage 1: top-m candidates by DEQUANTIZED cosine (m=10)
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 CASE WHEN n.nn > 0 AND q.qn > 0
                      THEN list_cosine_similarity(n.dv, q.qvf)
                      ELSE 0.0 END DESC, n.vec_id) AS rn
        FROM qs q JOIN dqn n ON n.vec_id <> q.query_id
      ) WHERE rn <= 10
    ),
    -- stage 2: exact re-rank of the |queries| x m candidates
    ex AS (
      SELECT c.query_id, c.neighbor_id,
             CASE WHEN ne.nn2 > 0 AND q.qn > 0
                  THEN list_cosine_similarity(ne.v, q.qvf)
                  ELSE 0.0 END AS cos_raw
      FROM cand c
      JOIN (SELECT vec_id, v, list_dot_product(v, v) AS nn2 FROM e) ne
        ON ne.vec_id = c.neighbor_id
      JOIN qs q ON q.query_id = c.query_id
    )
    SELECT query_id, neighbor_id,
           round(cos_raw, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
    FROM ex
    QUALIFY rank <= 5
    """,
    survey_ref="beyond-ref: quantized-candidate kNN with exact re-rank (operators/similarity.py:knn with quantize_int8's Int8 codec) — the IVF-PQ serving pattern",
)
def q83_knn_quantized_rerank(spark, sf_dir):
    """Compressed-corpus serving kNN (the IVF-PQ pattern, composed from
    the repo's certified int8 codec): stage 1 scores the whole corpus on
    the DEQUANTIZED ``quantize_int8`` columns — at serving scale that
    scan reads the ~8x narrower (scale, qvec) table, never the float64
    embedding column — and keeps the top-m=10 candidates per query;
    stage 2 re-ranks exactly against full precision for just
    |queries| x m rows (broadcast-candidate join, no second corpus scan)
    and emits the top-k=5. The oracle re-derives the codec (q72's recipe
    verbatim, 9-dp emitted scale), the dequantized stage-1 ranking, and
    the exact stage-2 re-rank — certifying that the compressed index and
    the full-precision truth agree on every emitted (neighbor, rank)."""
    from ..operators.similarity import Int8, knn
    from ..operators.vectors import quantize_int8
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), VEC_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    quantized = quantize_int8(emb).select("vec_id", "scale", "qvec")
    queries = emb.filter(F.col("vec_id") < 20)
    out = knn(quantized, queries, k=5, codec=Int8(), m=10, vectors=emb)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


def _ivf_pq_oracle_sql() -> str:
    """The q84 oracle: the full IVF-PQ serving chain assembled from the
    CTE recipes its two certified halves already use verbatim — q82's
    unrolled deterministic fit (c0 → a0 → c1, one Lloyd round at k=8)
    and q83's codec (q72's quantization recipe, 9-dp emitted scale,
    dequantize-with-emitted-scale) — plus the three joints the
    composition adds: corpus index cells = argmin centroid over the
    DEQUANTIZED vectors (the operator keys the index at the codec's
    precision), probe set = top-nprobe centroids by RAW query distance
    (asymmetric, like the scoring), and the candidate cut restricted to
    probed cells before q83's top-m / exact-re-rank stages."""
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      -- the shared fit + codec universe (q82/q83): NULL, EMPTY, and
      -- NULL-ELEMENT embeddings are neither clusterable nor servable
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    -- q82's fit, verbatim: init = the 8 lowest-id vectors, ONE
    -- assignment + ONE 6-dp-rounded mean update; c1 is the model
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cluster, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
    ),
    {_kmeans_assign_sql('c0', 'a0')},
    {_kmeans_means_sql('a0', 'c0', 'c1')},
    -- q83's codec, verbatim (q72's recipe): 9-dp EMITTED scale,
    -- dequantize with the emitted scale
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS rscale
      FROM e
    ),
    qz AS (
      SELECT vec_id, round(rscale, 9) AS scale,
             CASE WHEN rscale > 0 THEN
               list_transform(v, x -> CAST(greatest(-127, least(127,
                 floor(x / rscale + 0.5))) AS INTEGER))
             ELSE list_transform(v, x -> 0) END AS qv
      FROM s
    ),
    dq AS (
      SELECT vec_id, list_transform(qv, c -> c * scale) AS dv
      FROM qz
    ),
    -- joint 1: corpus index cells over the DEQUANTIZED vectors — the
    -- same sequential d2 fold and (d2, cluster) argmin as the fit's
    -- assignment CTEs, pointed at dv instead of v (the Arrow kernel's
    -- parity contract)
    celld AS (
      SELECT d.vec_id, c.cluster,
             list_reduce(list_prepend(0.0,
               list_transform(list_zip(d.dv, c.v),
                 z -> (z[1] - z[2]) * (z[1] - z[2]))),
               (a, x) -> a + x) AS d2
      FROM dq d CROSS JOIN c1 c
    ),
    cells AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS rn
        FROM celld
      ) WHERE rn = 1
    ),
    dqn AS (SELECT vec_id, dv, list_dot_product(dv, dv) AS nn FROM dq),
    qs AS (
      SELECT vec_id AS query_id, v AS qvf, list_dot_product(v, v) AS qn
      FROM e WHERE vec_id < 20
    ),
    -- joint 2: probe set = the 3 NEAREST centroids by RAW query
    -- distance (centroid_probe_ranks' rule — ADC asymmetry: exact
    -- query, compressed corpus), ties to the lowest cluster id
    probd AS (
      SELECT q.query_id, c.cluster,
             list_reduce(list_prepend(0.0,
               list_transform(list_zip(q.qvf, c.v),
                 z -> (z[1] - z[2]) * (z[1] - z[2]))),
               (a, x) -> a + x) AS d2
      FROM qs q CROSS JOIN c1 c
    ),
    probes AS (
      SELECT query_id, cluster FROM (
        SELECT query_id, cluster,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2, cluster) AS rn
        FROM probd
      ) WHERE rn <= 3
    ),
    -- joint 3: q83's top-m stage-1 cut, restricted to probed cells
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.query_id ORDER BY
                 CASE WHEN dn.nn > 0 AND q.qn > 0
                      THEN list_cosine_similarity(dn.dv, q.qvf)
                      ELSE 0.0 END DESC, n.vec_id) AS rn
        FROM probes p
        JOIN cells n ON n.cluster = p.cluster
        JOIN dqn dn ON dn.vec_id = n.vec_id
        JOIN qs q ON q.query_id = p.query_id
        WHERE n.vec_id <> p.query_id
      ) WHERE rn <= 10
    ),
    -- q83's exact re-rank, verbatim
    ex AS (
      SELECT c.query_id, c.neighbor_id,
             CASE WHEN ne.nn2 > 0 AND q.qn > 0
                  THEN list_cosine_similarity(ne.v, q.qvf)
                  ELSE 0.0 END AS cos_raw
      FROM cand c
      JOIN (SELECT vec_id, v, list_dot_product(v, v) AS nn2 FROM e) ne
        ON ne.vec_id = c.neighbor_id
      JOIN qs q ON q.query_id = c.query_id
    )
    SELECT query_id, neighbor_id,
           round(cos_raw, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
    FROM ex
    QUALIFY rank <= 5
    """


@register(
    "q84_knn_ivf_pq",
    _ivf_pq_oracle_sql(),
    survey_ref="beyond-ref: composed IVF-PQ serving (operators/similarity.py:knn with the Int8 codec and Centroids quantizer — trained cells via the Arrow assignment kernel, nprobe probe ranking, compressed-candidate scoring, broadcast exact re-rank)",
    memoize=False,  # kmeans_fit COLLECTS the centroid model at
    # construction (q73's rule) — memoizing the plan would cache the fit
)
def q84_knn_ivf_pq(spark, sf_dir):
    """THE serving query a 100 TB ANN user runs (r8 verdict's #1 ask):
    ``knn`` composed from the int8 codec and a trained coarse quantizer
    (``kmeans_fit`` k=8, one Lloyd round), corpus index cells computed
    over the DEQUANTIZED int8 codec by the Arrow assignment kernel
    (map-only — the literal ``centroid_cells`` fold measured ~100 s at
    200k x 16), each query probing its nprobe=3 nearest centroids by raw
    query distance, compressed-candidate scoring inside the probed cells
    (top-m=10), and an exact full-precision re-rank to top-k=5. q82
    certified the quantizer/prober halves and q83 the compressed-scoring/
    re-rank halves; this row certifies their COMPOSITION — the
    kernel-bucketed cells join and the ADC asymmetry (raw query vs
    dequantized corpus) — as one end-to-end oracle contract. Plan shape:
    one narrow (scale, qvec) scan bucketed map-only, a cell equi-join
    whose work tracks probed-cell population, the pruned ids+cosine top-m
    window, and a broadcast-candidate exact fetch touching full precision
    for only |queries| x m rows."""
    from ..operators.similarity import Centroids, Int8, knn
    from ..operators.vectors import kmeans_fit, quantize_int8
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    cents = kmeans_fit(emb, k=8, iters=1)
    quantized = quantize_int8(emb).select("vec_id", "scale", "qvec")
    queries = emb.filter(F.col("vec_id") < 20)
    out = knn(quantized, queries, k=5, codec=Int8(),
              quantizer=Centroids(cents, nprobe=3), m=10, vectors=emb)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


def _pq_codec_sql(m_sub: int = 4, kc: int = 8, src: str = "e") -> str:
    """The PQ codec re-derived as CTE text, shared by the q85/q86/q89
    oracles: ``m_sub`` INDEPENDENT deterministic subspace fits (each is
    q73/q82's exact CTE recipe pointed at a ``list_slice`` of the
    vectors via the helpers' r9 ``vec_cte`` parameter), ENCODE as one
    more assignment round against each fitted book, DECODE (the ``dq``
    CTE this fragment ends with) as the concatenation of each
    subspace's assigned codeword. Slice bounds derive from ``len(v)``
    so the oracle is dimension-agnostic, matching ``pq_fit``'s dynamic
    subspace width. ``src`` (r10) points the whole codec at another
    (vec_id, v) CTE — the residual chain trains/encodes/decodes on
    ``er`` instead of the raw universe. Emits CTE names
    e_s*/c0_s*/a0_s*/c1_s*/enc_s*/dq — callers must not collide."""
    frames = ",\n    ".join(
        f"e_s{j} AS (SELECT vec_id, list_slice(v, len(v)//{m_sub}*{j} + 1, "
        f"len(v)//{m_sub}*{j + 1}) AS v FROM {src})"
        for j in range(m_sub))
    fits = ",".join(f"""
    c0_s{j} AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cluster, v
      FROM (SELECT vec_id, v FROM e_s{j} ORDER BY vec_id LIMIT {kc})
    ),
    {_kmeans_assign_sql(f'c0_s{j}', f'a0_s{j}', f'e_s{j}')},
    {_kmeans_means_sql(f'a0_s{j}', f'c0_s{j}', f'c1_s{j}', f'e_s{j}')},
    {_kmeans_assign_sql(f'c1_s{j}', f'enc_s{j}', f'e_s{j}')}"""
                    for j in range(m_sub))
    decode_joins = "\n      ".join(
        f"JOIN enc_s{j} x{j} ON x{j}.vec_id = e.vec_id "
        f"JOIN c1_s{j} b{j} ON b{j}.cluster = x{j}.cluster"
        for j in range(m_sub))
    concat = " || ".join(f"b{j}.v" for j in range(m_sub))
    return f"""
    {frames},
    {fits},
    -- decode: reconstruct each vector as the concatenation of its
    -- assigned codeword per subspace (pq_decode's rule)
    dq AS (
      SELECT e.vec_id, {concat} AS dv
      FROM {src} e
      {decode_joins}
    )"""


def _pq_adc_oracle_sql(m_sub: int = 4, kc: int = 8) -> str:
    """The q85 oracle: the shared PQ codec fragment (``_pq_codec_sql``)
    followed by q83's compressed top-m / exact re-rank stages verbatim
    over the reconstruction."""
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      -- the shared fit + codec universe (q82/q83/q84): NULL, EMPTY, and
      -- NULL-ELEMENT embeddings are neither clusterable nor servable
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    {_pq_codec_sql(m_sub, kc)},
    dqn AS (SELECT vec_id, dv, list_dot_product(dv, dv) AS nn FROM dq),
    qs AS (
      SELECT vec_id AS query_id, v AS qvf, list_dot_product(v, v) AS qn
      FROM e WHERE vec_id < 20
    ),
    -- q83's stage 1 verbatim: top-m=10 candidates by RECONSTRUCTED
    -- cosine (asymmetric: raw query vs decoded corpus)
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 CASE WHEN n.nn > 0 AND q.qn > 0
                      THEN list_cosine_similarity(n.dv, q.qvf)
                      ELSE 0.0 END DESC, n.vec_id) AS rn
        FROM qs q JOIN dqn n ON n.vec_id <> q.query_id
      ) WHERE rn <= 10
    ),
    -- q83's exact re-rank, verbatim
    ex AS (
      SELECT c.query_id, c.neighbor_id,
             CASE WHEN ne.nn2 > 0 AND q.qn > 0
                  THEN list_cosine_similarity(ne.v, q.qvf)
                  ELSE 0.0 END AS cos_raw
      FROM cand c
      JOIN (SELECT vec_id, v, list_dot_product(v, v) AS nn2 FROM e) ne
        ON ne.vec_id = c.neighbor_id
      JOIN qs q ON q.query_id = c.query_id
    )
    SELECT query_id, neighbor_id,
           round(cos_raw, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
    FROM ex
    QUALIFY rank <= 5
    """


@register(
    "q85_knn_pq_adc",
    _pq_adc_oracle_sql(),
    survey_ref="beyond-ref: product-quantization codec + ADC serving (operators/vectors.py:pq_fit/pq_encode/pq_decode; operators/similarity.py:knn with the PQ codec) — the real PQ half of IVF-PQ",
    memoize=False,  # pq_fit COLLECTS the m codebooks at construction
    # (q73's rule) — memoizing the plan would cache the fit
)
def q85_knn_pq_adc(spark, sf_dir):
    """REAL product quantization, certified (r9): until now the repo's
    'IVF-PQ' compositions honestly substituted the scalar int8 codec for
    the PQ half; this query ships and certifies the genuine article —
    ``pq_fit`` trains m=4 independent deterministic subspace codebooks
    (k=8 codewords each, one Lloyd round, all seeded from ONE corpus
    TakeOrdered), ``pq_encode`` compresses the corpus to 4 small ints
    per vector via the Arrow kernel (map-only; 64 doubles -> 4 codes, a
    ~64x narrower serving scan vs int8's 8x), and ``knn`` serves
    top-k=5 by scoring the ``pq_decode`` reconstructions against the
    raw queries (asymmetric distance computation) with q83's top-m=10 /
    exact-re-rank stages. The oracle re-derives every step — 4 unrolled
    subspace fits, encode-as-assignment, decode-as-concatenation, both
    serving stages — so fit, codec, and serving certify as ONE
    contract."""
    from ..operators.similarity import PQ, knn
    from ..operators.vectors import pq_encode, pq_fit
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    books = pq_fit(emb, m=4, k=8, iters=1)
    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 20)
    out = knn(codes, queries, k=5, codec=PQ(books), m=10, vectors=emb)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


def _ivf_adc_oracle_sql(m_sub: int = 4, kc: int = 8,
                        k_coarse: int = 8, nprobe: int = 3,
                        q_pred: str = "vec_id < 20") -> str:
    """The q86/q87/q92 oracle: FAISS-shape IVFPQ re-derived end to end —
    q84's coarse-quantizer joints (trained fit over FULL vectors, index
    cells argmin'd over the COMPRESSED reconstructions, probe ranking
    by raw query distance, candidate cut restricted to probed cells)
    assembled around q85's PQ codec fragment (``_pq_codec_sql``)
    instead of the int8 recipe, then the shared top-m / exact re-rank
    stages. The chain through ``ex`` is shared with the q88 drift
    oracle (``_ivf_adc_chain_sql``), which aggregates the same served
    rows into a recall report instead of emitting them. ``q_pred``
    (r11) sizes the query batch — q92 certifies the BATCH serving path
    on a 10x batch against the same chain."""
    return _ivf_adc_chain_sql(m_sub, kc, k_coarse, nprobe, q_pred) + """
    SELECT query_id, neighbor_id,
           round(cos_raw, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
    FROM ex
    QUALIFY rank <= 5
    """


def _ivf_adc_chain_sql(m_sub: int = 4, kc: int = 8,
                       k_coarse: int = 8, nprobe: int = 3,
                       q_pred: str = "vec_id < 20") -> str:
    """The shared IVFPQ WITH-chain (universe → coarse fit → PQ codec →
    index cells → probes → candidate cut → exact re-rank ``ex``).
    ``q_pred`` (r11) selects the query batch from the universe."""
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      -- the shared fit + codec universe: NULL, EMPTY, and NULL-ELEMENT
      -- embeddings are neither clusterable nor servable
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    -- coarse quantizer: q82/q84's fit, verbatim (k={k_coarse}, one
    -- Lloyd round over the FULL vectors)
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cluster, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k_coarse})
    ),
    {_kmeans_assign_sql('c0', 'a0')},
    {_kmeans_means_sql('a0', 'c0', 'c1')},
    {_pq_codec_sql(m_sub, kc)},
    -- index cells over the PQ RECONSTRUCTIONS — the same sequential d2
    -- fold and (d2, cluster) argmin as the fit's assignment CTEs,
    -- pointed at dv (the Arrow kernel's parity contract)
    celld AS (
      SELECT d.vec_id, c.cluster,
             list_reduce(list_prepend(0.0,
               list_transform(list_zip(d.dv, c.v),
                 z -> (z[1] - z[2]) * (z[1] - z[2]))),
               (a, x) -> a + x) AS d2
      FROM dq d CROSS JOIN c1 c
    ),
    cells AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS rn
        FROM celld
      ) WHERE rn = 1
    ),
    dqn AS (SELECT vec_id, dv, list_dot_product(dv, dv) AS nn FROM dq),
    qs AS (
      SELECT vec_id AS query_id, v AS qvf, list_dot_product(v, v) AS qn
      FROM e WHERE {q_pred}
    ),
    -- probe set = the {nprobe} NEAREST coarse centroids by RAW query
    -- distance (centroid_probe_ranks' rule), ties to the lowest id
    probd AS (
      SELECT q.query_id, c.cluster,
             list_reduce(list_prepend(0.0,
               list_transform(list_zip(q.qvf, c.v),
                 z -> (z[1] - z[2]) * (z[1] - z[2]))),
               (a, x) -> a + x) AS d2
      FROM qs q CROSS JOIN c1 c
    ),
    probes AS (
      SELECT query_id, cluster FROM (
        SELECT query_id, cluster,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2, cluster) AS rn
        FROM probd
      ) WHERE rn <= {nprobe}
    ),
    -- stage 1 restricted to probed cells: top-m=10 by RECONSTRUCTED
    -- cosine (asymmetric: raw query vs decoded corpus)
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.query_id ORDER BY
                 CASE WHEN dn.nn > 0 AND q.qn > 0
                      THEN list_cosine_similarity(dn.dv, q.qvf)
                      ELSE 0.0 END DESC, n.vec_id) AS rn
        FROM probes p
        JOIN cells n ON n.cluster = p.cluster
        JOIN dqn dn ON dn.vec_id = n.vec_id
        JOIN qs q ON q.query_id = p.query_id
        WHERE n.vec_id <> p.query_id
      ) WHERE rn <= 10
    ),
    -- the shared exact re-rank, verbatim
    ex AS (
      SELECT c.query_id, c.neighbor_id,
             CASE WHEN ne.nn2 > 0 AND q.qn > 0
                  THEN list_cosine_similarity(ne.v, q.qvf)
                  ELSE 0.0 END AS cos_raw
      FROM cand c
      JOIN (SELECT vec_id, v, list_dot_product(v, v) AS nn2 FROM e) ne
        ON ne.vec_id = c.neighbor_id
      JOIN qs q ON q.query_id = c.query_id
    )
    """


@register(
    "q86_knn_ivf_adc",
    _ivf_adc_oracle_sql(),
    survey_ref="beyond-ref: FAISS-shape IVFPQ, fully literal (operators/similarity.py:knn with the IVFPQModel codec and StoredCells quantizer — trained coarse cells keyed on pq_decode reconstructions by ivf_pq_encode, nprobe probing, ADC scoring, exact re-rank)",
    memoize=False,  # kmeans_fit + pq_fit COLLECT their models at
    # construction (q73's rule) — memoizing the plan would cache the fits
)
def q86_knn_ivf_adc(spark, sf_dir):
    """The name 'IVF-PQ' made fully literal (r9): trained coarse
    quantizer (k=8) + REAL product quantization (m=4 subspace
    codebooks) + ADC scoring + exact re-rank, as ONE oracle-certified
    chain (``ivf_pq_fit`` → ``ivf_pq_encode`` → ``knn``). q84
    certified the composition with the int8 stand-in codec; q85
    certified the PQ codec + exhaustive ADC; this row certifies their
    union — index cells argmin'd over the PQ reconstructions by the
    encode kernel, nprobe=3 probing by raw query distance, compressed
    scoring inside probed cells, top-m=10, exact top-k=5. The serving
    scan a 1000-executor cluster runs here reads m=4 small ints and a
    cell per corpus row plus the bounded broadcast model — the
    narrowest serving path in the family."""
    from ..operators.similarity import StoredCells, knn
    from ..operators.vectors import ivf_pq_encode, ivf_pq_fit
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    # the fused trainer: bit-identical to the separate
    # kmeans_fit(k=8) + pq_fit(m=4, k=8) pair (test-pinned), in ONE
    # seed collection + ONE kernel pass per Lloyd round (r9)
    model = ivf_pq_fit(emb, k_coarse=8, m=4, k_sub=8, iters=1)
    codes = ivf_pq_encode(emb, model)
    queries = emb.filter(F.col("vec_id") < 20)
    out = knn(codes, queries, k=5, codec=model,
              quantizer=StoredCells(model.centroids, nprobe=3), m=10,
              vectors=emb)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


#: Scratch roots already scheduled for end-of-process removal (one per
#: (query, pid); the set makes the atexit registration idempotent
#: across repeated builder invocations in one process).
_INDEX_TMP_ROOTS: set = set()


def _index_tmp_path(tag: str, sf_dir: str) -> str:
    """Per-process scratch path for the persisted-index certification
    queries (q87/q88/q90/q91): a fixed pid-keyed root + overwrite mode
    means each (honest, per-pass) rebuild replaces the previous pass's
    files instead of leaking one temp dir per timed pass — and an
    ``atexit`` rmtree removes the root itself when the process exits
    (r10 ADVICE: the bare layout leaked one index dir per harness
    process per scale dir in the system temp). Each query keeps its
    OWN root (``tag``): a shared path rewritten by a sibling builder
    between one query's construction and action would change its rows
    — the files reopen the two-time-point window ``_pruned_probe_scan``
    closes for queries."""
    import atexit
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    root = _os.path.join(_tempfile.gettempdir(),
                         f"spark_graft_{tag}_index_{_os.getpid()}")
    if root not in _INDEX_TMP_ROOTS:
        _INDEX_TMP_ROOTS.add(root)
        atexit.register(_shutil.rmtree, root, ignore_errors=True)
    return _os.path.join(root, _os.path.basename(sf_dir.rstrip("/")))


@register(
    "q87_knn_ivf_pq_index",
    _ivf_adc_oracle_sql(nprobe=2),
    survey_ref="beyond-ref: persisted IVF-PQ index serving (operators/similarity.py:write_ivf_pq_index + knn_ivf_pq_index — parquet partitioned by cell at rest, the query batch's probe union pushed into the scan as a typed partition filter)",
    memoize=False,  # construction trains the models, ENCODES the corpus,
    # and WRITES the index — memoizing would cache all three and the
    # timed pass would serve without ever paying the build (q73's rule)
)
def q87_knn_ivf_pq_index(spark, sf_dir):
    """The AT-REST serving path certified end to end (r10, the r9
    verdict's #3 ask): train the model (``ivf_pq_fit``), encode the
    corpus and WRITE the partitioned index in one pass
    (``write_ivf_pq_index`` — parquet partitioned by coarse cell), read
    it back cold, and serve top-k through ``knn_ivf_pq_index`` — the
    probe union pushed down as a ``cell IN (...)`` PARTITION filter, so
    the scan reads only the probed cells' files. The oracle is q86's
    full CTE chain at nprobe=2: the persisted path must return the
    in-memory composition's EXACT rows (same models, same probe rule,
    same ADC top-m, same exact re-rank) — which was previously only
    test-pinned, never driver-certified. At 100 TB this is the serving
    shape that matters: the index is built once (one shuffle), and each
    query batch's IO is nprobe/k_coarse of the index, not a corpus
    re-bucketing per batch."""
    from ..operators.similarity import (knn_ivf_pq_index,
                                        write_ivf_pq_index)
    from ..operators.vectors import ivf_pq_fit
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    model = ivf_pq_fit(emb, k_coarse=8, m=4, k_sub=8, iters=1)
    path = _index_tmp_path("q87", sf_dir)
    write_ivf_pq_index(emb, model, path)
    index = spark.read.parquet(path)
    queries = emb.filter(F.col("vec_id") < 20)
    out = knn_ivf_pq_index(index, model, queries, k=5, m=10, nprobe=2,
                           vectors=emb)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


def _ivf_drift_oracle_sql(m_sub: int = 4, kc: int = 8,
                          k_coarse: int = 8, nprobe: int = 2,
                          k: int = 5, floor: float = 0.8) -> str:
    """The q88 oracle: the drift REPORT re-derived end to end — the
    shared IVFPQ chain's served top-k (exactly what the persisted index
    returns, q87's certification) compared against brute-force truth
    over the full-precision universe (q26's rule: self excluded,
    zero-norm cosine 0.0, ties to the lowest neighbor id), folded to
    the operator's one-row contract. Per-query recall is n_hit/n_true
    as a double; mean/min round to 6 dp; the refit flag compares the
    ROUNDED mean against the floor (the operator's exact rule)."""
    return _ivf_adc_chain_sql(m_sub, kc, k_coarse, nprobe) \
        + _drift_fold_sql(k, floor)


def _drift_fold_sql(k: int = 5, floor: float = 0.8) -> str:
    """The drift REPORT fold shared by the q88 (flat) and q91
    (residual) oracles: appended to either serving chain (both end at
    ``ex`` over a ``qs``/``e`` universe), it takes the chain's served
    top-k, re-derives brute-force truth (q26's rule: self excluded,
    zero-norm cosine 0.0, ties to the lowest neighbor id), folds
    per-query recall, and emits the operator's one-row contract."""
    return f"""
    , served AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_raw DESC, neighbor_id) AS rn
        FROM ex
      ) WHERE rn <= {k}
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, ne.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 CASE WHEN ne.nn2 > 0 AND q.qn > 0
                      THEN list_cosine_similarity(ne.v, q.qvf)
                      ELSE 0.0 END DESC, ne.vec_id) AS rn
        FROM qs q CROSS JOIN
             (SELECT vec_id, v, list_dot_product(v, v) AS nn2 FROM e) ne
        WHERE ne.vec_id <> q.query_id
      ) WHERE rn <= {k}
    ),
    per_q AS (
      SELECT t.query_id,
             COUNT(*) * 1.0 AS n_true,
             COUNT(s.neighbor_id) * 1.0 AS n_hit
      FROM truth t
      LEFT JOIN served s ON s.query_id = t.query_id
                        AND s.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
    )
    SELECT (SELECT COUNT(*) FROM qs) AS n_queries,
           COUNT(*) AS n_servable,
           round(avg(n_hit / n_true), 6) AS mean_recall,
           round(min(n_hit / n_true), 6) AS min_recall,
           CAST(CASE WHEN round(avg(n_hit / n_true), 6) < {floor}
                     THEN 1 ELSE 0 END AS INTEGER) AS refit_recommended
    FROM per_q
    """


@register(
    "q88_index_drift_report",
    _ivf_drift_oracle_sql(),
    survey_ref="beyond-ref: persisted-index drift telemetry (operators/similarity.py:ivf_pq_index_drift — recall the index ACTUALLY serves vs brute-force truth on a held-out sample, with the refit_recommended floor flag)",
    memoize=False,  # trains, encodes, writes the index, and the report
    # itself runs Spark actions at construction (probe collection) —
    # memoizing would cache the whole maintenance cycle
)
def q88_index_drift_report(spark, sf_dir):
    """The refit feedback loop certified end to end (r10): build the
    persisted index exactly as q87, then run ``ivf_pq_index_drift`` —
    serving through the partition-pruned scan with the CURRENT models
    against brute-force truth on the 20-query held-out sample — and
    emit the operator's one-row report. The oracle re-derives the
    whole cycle: the IVFPQ chain's served top-k, the exact top-k
    truth, per-query recall, the 6-dp-rounded mean/min, and the
    floor-flag on the rounded mean. This is the number an append-only
    deployment watches (``refresh_ivf_pq_index`` keeps the models
    frozen, so recall decay is invisible to the write path) — now a
    driver-certified contract, not just a pytest pin."""
    from ..operators.similarity import (ivf_pq_index_drift,
                                        write_ivf_pq_index)
    from ..operators.vectors import ivf_pq_fit
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    model = ivf_pq_fit(emb, k_coarse=8, m=4, k_sub=8, iters=1)
    path = _index_tmp_path("q88", sf_dir)
    write_ivf_pq_index(emb, model, path)
    queries = emb.filter(F.col("vec_id") < 20)
    rep = ivf_pq_index_drift(spark.read.parquet(path), model, emb,
                             queries, k=5, nprobe=2, m=10,
                             recall_floor=0.8)
    return rep.select(
        "n_queries", "n_servable", "mean_recall", "min_recall",
        F.col("refit_recommended").cast("int")
        .alias("refit_recommended"))


def _ivf_rpq_oracle_sql(m_sub: int = 4, kc: int = 8,
                        k_coarse: int = 8, nprobe: int = 3,
                        k: int = 5, m: int = 10,
                        q_pred: str = "vec_id < 20") -> str:
    """The q89/q90/q93 oracle: RESIDUAL-encoding IVFPQ re-derived end
    to end — the shared residual WITH-chain (``_ivf_rpq_chain_sql``)
    emitting its served rows. The q91 drift oracle aggregates the SAME
    chain into a recall report instead (``_drift_fold_sql``), exactly
    as q88 does over the flat chain; q93 certifies the BATCH serving
    path on a 10x batch (``q_pred``, r11)."""
    return _ivf_rpq_chain_sql(m_sub, kc, k_coarse, nprobe, m,
                              q_pred) + f"""
    SELECT query_id, neighbor_id,
           round(cos_raw, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
    FROM ex
    QUALIFY rank <= {k}
    """


def _ivf_rpq_chain_sql(m_sub: int = 4, kc: int = 8,
                       k_coarse: int = 8, nprobe: int = 3,
                       m: int = 10, q_pred: str = "vec_id < 20") -> str:
    """The shared residual-IVFPQ WITH-chain (universe → coarse fit →
    raw-vector cells → residuals → residual PQ codec → centroid-added
    reconstruction → probes → candidate cut → exact re-rank ``ex``) —
    the actual FAISS recipe. Differences from the flat chain
    (``_ivf_adc_chain_sql``), each a deliberate joint of the residual
    design: (1) index cells are the argmin over the RAW vectors (the
    cell is part of the encoding, not a re-binning of reconstructions);
    (2) the PQ codec (``_pq_codec_sql``) trains/encodes/decodes on the
    RESIDUALS ``v - centroid[cell]`` via its r10 ``src`` parameter;
    (3) the serving reconstruction adds the centroid back
    (``centroid[cell] + decoded residual``). Probe ranking, candidate
    cut, ADC scoring and the exact re-rank are the family's verbatim
    stages."""
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    -- coarse quantizer: the family's fit, verbatim (k={k_coarse}, one
    -- Lloyd round over the FULL vectors)
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cluster, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k_coarse})
    ),
    {_kmeans_assign_sql('c0', 'a0')},
    {_kmeans_means_sql('a0', 'c0', 'c1')},
    -- index cells over the RAW vectors: the residual is defined BY the
    -- cell, so assignment precedes (and parameterizes) the codec
    celld AS (
      SELECT e.vec_id, c.cluster,
             list_reduce(list_prepend(0.0,
               list_transform(list_zip(e.v, c.v),
                 z -> (z[1] - z[2]) * (z[1] - z[2]))),
               (a, x) -> a + x) AS d2
      FROM e CROSS JOIN c1 c
    ),
    cells AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS rn
        FROM celld
      ) WHERE rn = 1
    ),
    -- residuals: raw minus the (rounded) assigned centroid — exact
    -- float64 subtraction, the distribution the codebooks train on
    er AS (
      SELECT e.vec_id,
             list_transform(list_zip(e.v, c.v), z -> z[1] - z[2]) AS v
      FROM e
      JOIN cells cl ON cl.vec_id = e.vec_id
      JOIN c1 c ON c.cluster = cl.cluster
    ),
    {_pq_codec_sql(m_sub, kc, src='er')},
    -- full reconstruction = centroid[cell] + decoded residual
    dqf AS (
      SELECT d.vec_id, cl.cluster,
             list_transform(list_zip(c.v, d.dv), z -> z[1] + z[2]) AS dv
      FROM dq d
      JOIN cells cl ON cl.vec_id = d.vec_id
      JOIN c1 c ON c.cluster = cl.cluster
    ),
    dqn AS (SELECT vec_id, cluster, dv,
                   list_dot_product(dv, dv) AS nn FROM dqf),
    qs AS (
      SELECT vec_id AS query_id, v AS qvf, list_dot_product(v, v) AS qn
      FROM e WHERE {q_pred}
    ),
    -- probe set: the {nprobe} nearest coarse centroids by RAW query
    -- distance (centroid_probe_ranks' rule), ties to the lowest id
    probd AS (
      SELECT q.query_id, c.cluster,
             list_reduce(list_prepend(0.0,
               list_transform(list_zip(q.qvf, c.v),
                 z -> (z[1] - z[2]) * (z[1] - z[2]))),
               (a, x) -> a + x) AS d2
      FROM qs q CROSS JOIN c1 c
    ),
    probes AS (
      SELECT query_id, cluster FROM (
        SELECT query_id, cluster,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2, cluster) AS rn
        FROM probd
      ) WHERE rn <= {nprobe}
    ),
    -- stage 1 restricted to probed cells: top-m={m} by RECONSTRUCTED
    -- cosine (asymmetric: raw query vs centroid+residual decode)
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.query_id ORDER BY
                 CASE WHEN n.nn > 0 AND q.qn > 0
                      THEN list_cosine_similarity(n.dv, q.qvf)
                      ELSE 0.0 END DESC, n.vec_id) AS rn
        FROM probes p
        JOIN dqn n ON n.cluster = p.cluster
        JOIN qs q ON q.query_id = p.query_id
        WHERE n.vec_id <> p.query_id
      ) WHERE rn <= {m}
    ),
    -- the shared exact re-rank, verbatim
    ex AS (
      SELECT c.query_id, c.neighbor_id,
             CASE WHEN ne.nn2 > 0 AND q.qn > 0
                  THEN list_cosine_similarity(ne.v, q.qvf)
                  ELSE 0.0 END AS cos_raw
      FROM cand c
      JOIN (SELECT vec_id, v, list_dot_product(v, v) AS nn2 FROM e) ne
        ON ne.vec_id = c.neighbor_id
      JOIN qs q ON q.query_id = c.query_id
    )
    """


@register(
    "q89_knn_ivf_rpq",
    _ivf_rpq_oracle_sql(),
    survey_ref="beyond-ref: residual-encoding IVFPQ, the actual FAISS recipe (operators/vectors.py:ivf_pq_fit_residual/ivf_pq_encode; operators/similarity.py:knn with a residual IVFPQModel codec — codebooks trained on residuals, cell part of the encoding, reconstruction = centroid + decoded residual)",
    memoize=False,  # the fits COLLECT their models and the encode is
    # the serving input — memoizing would cache the whole training
)
def q89_knn_ivf_rpq(spark, sf_dir):
    """RESIDUAL-encoding IVFPQ certified end to end (r10): q86 made the
    IVFPQ name literal with flat codes (PQ over raw vectors, cells
    re-binned over reconstructions); this is the ACTUAL FAISS recipe —
    codebooks trained on the residuals ``x - centroid[cell(x)]``
    (``ivf_pq_fit_residual``), one fused kernel pass emitting
    ``(vec_id, codes, cell)`` (``ivf_pq_encode`` — the cell is PART of
    the encoding), and serving that reconstructs ``centroid[cell] +
    decode(codes)`` before the family's shared probe/ADC/re-rank
    stages (``knn`` with the residual model as codec). Same stored bytes
    as q86, strictly lower reconstruction error (test-pinned corpus-wide
    on the fixture) — the oracle re-derives the full chain including the
    residual codec via ``_pq_codec_sql``'s ``src`` seam."""
    from ..operators.similarity import StoredCells, knn
    from ..operators.vectors import ivf_pq_encode, ivf_pq_fit_residual
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    model = ivf_pq_fit_residual(emb, k_coarse=8, m=4, k_sub=8, iters=1)
    codes = ivf_pq_encode(emb, model)
    queries = emb.filter(F.col("vec_id") < 20)
    out = knn(codes, queries, k=5, codec=model,
              quantizer=StoredCells(model.centroids, nprobe=3), m=10,
              vectors=emb)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


@register(
    "q90_knn_ivf_rpq_index",
    _ivf_rpq_oracle_sql(nprobe=2),
    survey_ref="beyond-ref: persisted residual-IVFPQ serving (operators/similarity.py:write_ivf_pq_index + knn_ivf_pq_index over a residual model — the residual encode kernel's (vec_id, codes, cell) written partitioned by cell, probe union pushed down as a typed partition filter)",
    memoize=False,  # trains, encodes, and WRITES the index at
    # construction — memoizing would cache the whole build (q87's rule)
)
def q90_knn_ivf_rpq_index(spark, sf_dir):
    """The residual index AT REST certified end to end (r10): train the
    residual model (``ivf_pq_fit_residual``), WRITE the
    cell-partitioned index in one fused encode pass
    (``write_ivf_pq_index``), read it back cold, and serve through
    ``knn_ivf_pq_index`` — probe union as a partition filter,
    reconstruction = centroid[cell] + decoded residual. The oracle is
    q89's full residual CTE chain at nprobe=2: the persisted path must
    return the in-memory composition's EXACT rows. Together with q87
    this certifies BOTH at-rest serving shapes; the residual one is
    what a quality-sensitive 100 TB deployment actually runs (same
    stored bytes as the flat index, strictly lower reconstruction
    error — test-pinned)."""
    from ..operators.similarity import (knn_ivf_pq_index,
                                        write_ivf_pq_index)
    from ..operators.vectors import ivf_pq_fit_residual
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    model = ivf_pq_fit_residual(emb, k_coarse=8, m=4, k_sub=8, iters=1)
    path = _index_tmp_path("q90", sf_dir)
    write_ivf_pq_index(emb, model, path)
    queries = emb.filter(F.col("vec_id") < 20)
    out = knn_ivf_pq_index(spark.read.parquet(path), model, queries,
                           k=5, m=10, nprobe=2, vectors=emb)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


def _ivf_rpq_drift_oracle_sql(m_sub: int = 4, kc: int = 8,
                              k_coarse: int = 8, nprobe: int = 2,
                              k: int = 5, floor: float = 0.8) -> str:
    """The q91 oracle: q88's drift-report fold (``_drift_fold_sql``)
    over q89's RESIDUAL serving chain (``_ivf_rpq_chain_sql``) — what
    the persisted residual index actually serves at nprobe=2 compared
    against brute-force truth, folded to the one-row refit contract."""
    return _ivf_rpq_chain_sql(m_sub, kc, k_coarse, nprobe) \
        + _drift_fold_sql(k, floor)


@register(
    "q91_rpq_index_drift",
    _ivf_rpq_drift_oracle_sql(),
    survey_ref="beyond-ref: residual-index drift telemetry (operators/similarity.py:ivf_pq_index_drift over a residual model — the refit signal for the index family whose models are COSTLIEST to refit, since every stored code re-encodes with its new cell)",
    memoize=False,  # trains, encodes, writes the residual index, and
    # the report runs Spark actions at construction (probe + truth
    # pinning) — memoizing would cache the whole maintenance cycle
)
def q91_rpq_index_drift(spark, sf_dir):
    """The RESIDUAL refit feedback loop certified end to end (r11, the
    r10 verdict's #2 ask): build the persisted residual index exactly
    as q90 (``ivf_pq_fit_residual`` + ``write_ivf_pq_index``), then
    run ``ivf_pq_index_drift`` — serving through ``knn_ivf_pq_index``'s
    partition-pruned scan with the CURRENT residual model against
    brute-force truth on the 20-query held-out sample — and emit the
    operator's one-row report. This is the signal that matters MOST in
    the family: ``refresh_ivf_pq_index`` freezes a residual model
    whose refit forces a full corpus re-encode (the cell is
    part of the encoding), so the decision to refit should be driven
    by measured served recall, not guesswork. The oracle is q88's
    report fold swapped onto q89's residual CTE chain at nprobe=2 —
    both already driver-certified, now certified as one contract."""
    from ..operators.similarity import (ivf_pq_index_drift,
                                        write_ivf_pq_index)
    from ..operators.vectors import ivf_pq_fit_residual
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    model = ivf_pq_fit_residual(emb, k_coarse=8, m=4, k_sub=8, iters=1)
    path = _index_tmp_path("q91", sf_dir)
    write_ivf_pq_index(emb, model, path)
    queries = emb.filter(F.col("vec_id") < 20)
    rep = ivf_pq_index_drift(spark.read.parquet(path), model, emb,
                             queries, k=5, nprobe=2, m=10,
                             recall_floor=0.8)
    return rep.select(
        "n_queries", "n_servable", "mean_recall", "min_recall",
        F.col("refit_recommended").cast("int")
        .alias("refit_recommended"))


@register(
    "q92_knn_ivf_pq_batch",
    _ivf_adc_oracle_sql(nprobe=2, q_pred="vec_id < 200"),
    survey_ref="beyond-ref: distributed BATCH serving from the persisted IVF-PQ index (operators/similarity.py:knn_ivf_pq_index_batch — Arrow-kernel probes, cell equi-join, shuffle exact re-rank; no driver-side collect at any batch size)",
    memoize=False,  # trains, encodes, and WRITES the index at
    # construction — memoizing would cache the whole build (q87's rule)
)
def q92_knn_ivf_pq_batch(spark, sf_dir):
    """The OFFLINE serving shape certified end to end (r11): q87's
    online path collects the query batch driver-side and prunes the
    scan to the probe union — the right plan for a bounded sample, now
    ENFORCED by ``max_query_rows`` — while this path serves a query
    frame of ANY size fully distributed: probes computed by the Arrow
    kernel (``probe_cells_frame`` — the literal probe expression is an
    interpreted per-(row, centroid) fold, the exact cost the corpus
    side's assignment kernel exists to avoid), candidates by a cell
    equi-join against the stored cells, ADC top-m, and a SHUFFLE exact
    re-rank (the broadcast form caps at sample-sized batches). The
    oracle is the flat IVFPQ chain at nprobe=2 over a 10x query batch
    (200 queries): the batch path must return the online composition's
    EXACT rows, just planned for scale — at 100 TB this is batch
    inference / recall-sweep serving, one full index scan amortized
    over the whole batch instead of per-query pruned reads."""
    from ..operators.similarity import (knn_ivf_pq_index_batch,
                                        write_ivf_pq_index)
    from ..operators.vectors import ivf_pq_fit
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    model = ivf_pq_fit(emb, k_coarse=8, m=4, k_sub=8, iters=1)
    path = _index_tmp_path("q92", sf_dir)
    write_ivf_pq_index(emb, model, path)
    queries = emb.filter(F.col("vec_id") < 200)
    out = knn_ivf_pq_index_batch(spark.read.parquet(path), model,
                                 queries, k=5, m=10, nprobe=2,
                                 vectors=emb)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


@register(
    "q93_knn_ivf_rpq_batch",
    _ivf_rpq_oracle_sql(nprobe=2, q_pred="vec_id < 200"),
    survey_ref="beyond-ref: distributed BATCH serving from the persisted residual index (operators/similarity.py:knn_ivf_pq_index_batch over a residual model — reconstruction = centroid[cell] + decoded residual inside the same kernel-probed, shuffle-reranked batch core)",
    memoize=False,  # trains, encodes, and WRITES the index at
    # construction — memoizing would cache the whole build (q87's rule)
)
def q93_knn_ivf_rpq_batch(spark, sf_dir):
    """q92's residual twin (r11): batch serving from the persisted
    RESIDUAL index — the stored cell is part of the encoding, so the
    batch core reconstructs ``centroid[cell] + decode(codes)`` straight
    off the scan and runs the same kernel-probed cell equi-join and
    shuffle re-rank. The oracle is q89's residual CTE chain at nprobe=2
    over the 200-query batch. Together with q92 this certifies the
    offline shape for BOTH at-rest layouts; with q87/q90 (online) and
    q88/q91 (drift), every serving and maintenance surface of the
    persisted index family is driver-certified."""
    from ..operators.similarity import (knn_ivf_pq_index_batch,
                                        write_ivf_pq_index)
    from ..operators.vectors import ivf_pq_fit_residual
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    model = ivf_pq_fit_residual(emb, k_coarse=8, m=4, k_sub=8, iters=1)
    path = _index_tmp_path("q93", sf_dir)
    write_ivf_pq_index(emb, model, path)
    queries = emb.filter(F.col("vec_id") < 200)
    out = knn_ivf_pq_index_batch(spark.read.parquet(path), model,
                                 queries, k=5, m=10, nprobe=2,
                                 vectors=emb)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


_PCA_COV_ORACLE = """
    WITH e AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    d AS (SELECT max(len(v)) AS dim FROM e),
    idx AS (SELECT unnest(range(1, (SELECT dim FROM d) + 1)) AS i),
    cells AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b
              ON b.i >= a.i)
    SELECT CAST(c.i - 1 AS INTEGER) AS i,
           CAST(c.j - 1 AS INTEGER) AS j,
           round(sum(e.v[c.i] * e.v[c.j]) / count(*)
                 - (sum(e.v[c.i]) / count(*))
                 * (sum(e.v[c.j]) / count(*)), 6) + 0.0 AS cov
    FROM cells c CROSS JOIN e
    GROUP BY c.i, c.j
    ORDER BY i, j
    """


@register(
    "q94_pca_covariance",
    _PCA_COV_ORACLE,
    survey_ref="beyond-ref: one-pass corpus covariance (operators/vectors.py:covariance_frame — per-partition moment partial sums via the Arrow kernel, groupBy over <= dim^2 keys, moment-matrix-sized driver fold; the corpus never shuffles); the oracle-certified input of pca_fit",
    memoize=False,  # the moment pass COLLECTS at construction
)
def q94_pca_covariance(spark, sf_dir):
    """The PCA fit's covariance input certified end to end (r11): one
    map-only kernel pass emits per-partition moment partial sums
    (upper-triangle Σx·xᵀ, row sums, count — ≤ dim² tiny rows per
    partition), a groupBy combines them, and the moment-matrix-sized
    driver fold emits ``cov_ij = E[x_i x_j] − E[x_i]E[x_j]`` rounded to
    the family's 6dp reproducibility grid (driver assembly is the
    k-means-seed class of bounded work — an earlier lazy three-way
    reference to the combined partials re-scanned the corpus per
    subtree, caught by this round's plan audit). The oracle re-derives
    every cell from the raw vectors with DuckDB's own fold order — the
    rounding grid absorbing distributed summation-order drift is
    exactly the kmeans-means contract. At 100 TB the shape is the
    point: the corpus contributes one map pass; only the dim×dim
    moment matrix ever moves."""
    from ..operators.vectors import covariance_frame
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    return covariance_frame(emb)


@register(
    "q95_pca_projection",
    None,  # the eigendecomposition is the family's first fit an
    # external SQL engine cannot re-derive (unlike the Lloyd fits) —
    # rows-only driver check; the fit/projection contracts are
    # pytest-pinned (tests/test_pca.py: numpy-reference parity,
    # orthonormality, variance accounting, kernel==literal-twin
    # bit-parity, reconstruction monotonicity) and the covariance
    # input is fully oracle-certified as q94
    survey_ref="beyond-ref: PCA dimensionality reduction (operators/vectors.py:pca_fit — one-pass moments + bounded driver eigh; pca_project — map-only Arrow projection kernel, bit-identical to its Catalyst twin); the reduce-then-index stage of an embedding pipeline",
    memoize=False,  # the fit COLLECTS its model at construction
)
def q95_pca_projection(spark, sf_dir):
    """PCA-reduce the embedding corpus to its top-4 variance directions
    (r11): ``pca_fit`` (one corpus pass for the moments, bounded
    driver-side eigh, deterministic ordering/sign/rounding) and
    ``pca_project`` (map-only kernel, bit-identical to the sequential-
    fold Catalyst twin). Emitted as rounded per-coordinate columns; the
    driver records the rows-only check — see the register note for why
    no SQL oracle can exist here and where each contract is pinned
    instead."""
    from ..operators.vectors import pca_fit, pca_project
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    mean, comps, _ = pca_fit(emb, k=4)
    out = pca_project(emb, mean, comps)
    return out.select(
        "vec_id",
        *[F.round(F.element_at(F.col("projection"), i + 1), 6)
          .alias(f"p{i}") for i in range(4)])


@register(
    "q96_knn_pca_rerank",
    None,  # the stage-1 model is pca_fit's eigendecomposition — not
    # SQL-re-derivable (q95's note); the EXACTNESS contract is pinned
    # instead: m >= |corpus| makes the output bit-identical to
    # the exhaustive knn (tests/test_pca.py:test_knn_pca_rerank_exact_at_
    # full_m), and the default-m recall floor is pinned at 0.85
    survey_ref="beyond-ref: reduce-then-index serving (operators/similarity.py:knn with the Projection codec — PCA-reduced stage-1 candidate scan at k'/dim of the fold cost, broadcast-candidate exact full-dim re-rank); third member of the two-stage family after int8 and IVF-PQ stage 1s",
    memoize=False,  # the fit COLLECTS its model at construction
)
def q96_knn_pca_rerank(spark, sf_dir):
    """Serve a 20-query batch through the PCA-reduced two-stage path
    (r11): fit 32-of-64 directions (one moment pass + bounded driver
    eigh), project the corpus through the map-only Arrow kernel and
    the sample-sized queries through the bit-identical Catalyst twin,
    keep top-m=20 per query on reduced-space cosine, then re-rank
    those |queries|*m candidates EXACTLY against the full vectors via
    the broadcast-candidate join. At 100 TB the corpus-wide stage
    reads a k'-wide projection column and folds k' multiplies per
    candidate instead of dim — the same narrow-scan argument as the
    int8 stage 1, with dimensionality instead of bit-depth as the
    compression axis."""
    from ..operators.similarity import Projection, knn
    from ..operators.vectors import pca_fit
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    mean, comps, _ = pca_fit(emb, k=32)
    queries = emb.filter(F.col("vec_id") < 20)
    out = knn(emb, queries, k=5, codec=Projection(mean, comps),
              vectors=emb)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


@register(
    "q97_pca_incremental_covariance",
    _PCA_COV_ORACLE,
    survey_ref="beyond-ref: incremental covariance maintenance (operators/vectors.py:pca_moments/merge_moments/covariance_frame_from_moments — the corpus covariance as an ADDITIVELY-maintained sufficient statistic, one O(delta) moment pass per append, refit without rescanning history); the PCA lifecycle's analogue of q60's incremental-rollup equivalence",
    memoize=False,  # both moment passes COLLECT at construction
)
def q97_pca_incremental_covariance(spark, sf_dir):
    """The incremental-maintenance contract certified end to end (r11):
    split the corpus into a 'history' and an 'append' half (vec_id
    parity — adversarial interleaving, not a clean time cut), fold
    each half's moments in its own one-pass kernel scan, merge the two
    sufficient statistics DRIVER-SIDE (``merge_moments`` — pure
    addition over the dim² matrix), and emit the covariance from the
    merged moments. The oracle is q94's full-corpus SQL — the merged
    result must be indistinguishable from the monolithic pass on the
    family's 6dp grid. At 100 TB this is the claim that matters:
    yesterday's moment matrix + today's O(delta) pass replaces every
    full-history covariance rescan, exactly as q60's additive rollups
    replace fact-table recomputes."""
    from ..operators.vectors import (covariance_frame_from_moments,
                                     merge_moments, pca_moments)
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    history = emb.filter(F.col("vec_id") % 2 == 0)
    append = emb.filter(F.col("vec_id") % 2 == 1)
    merged = merge_moments(pca_moments(history), pca_moments(append))
    return covariance_frame_from_moments(spark, merged)


def _rp_oracle_sql(dim: int = 64, out_dim: int = 8,
                   seed: str = "jl") -> str:
    """q98's oracle, generated from the SAME static model the engine
    serves with: rp_components is a pure function of (dim, out_dim,
    seed), so its ±1/√k weights are baked into the SQL as literals and
    DuckDB re-derives every projected coordinate from the raw vectors
    with the kernel's exact fold order (dimension-ordered, left-to-
    right float64 — the family's parity recipe)."""
    from ..operators.vectors import rp_components

    W = rp_components(dim, out_dim, seed)
    cols = ",\n           ".join(
        "round(" + " + ".join(f"({w[d]!r}) * e.v[{d + 1}]"
                              for d in range(dim))
        + f", 6) + 0.0 AS p{p}"
        for p, w in enumerate(W))
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {dim}
        AND len(list_filter(embedding, x -> x IS NULL)) = 0)
    SELECT vec_id,
           {cols}
    FROM e
    ORDER BY vec_id
    """


@register(
    "q98_rp_projection",
    _rp_oracle_sql(),
    survey_ref="beyond-ref: Johnson-Lindenstrauss random projection (operators/vectors.py:rp_components — deterministic md5-sign ±1/sqrt(k) model, Achlioptas-style, served through the SHARED pca_project Arrow kernel); the data-independent reduction whose static model makes the projection kernel fully oracle-certifiable",
    memoize=True,
)
def q98_rp_projection(spark, sf_dir):
    """JL-project the embedding corpus to 8 dims through the SAME
    map-only Arrow kernel as q95 — but with ``rp_components``'s static
    hash-derived model, so the whole chain (well-formed filtering,
    centering at zero, the dimension-ordered projection fold, the 6dp
    grid) is re-derived by DuckDB from the raw vectors with the model's
    weights baked into the oracle as literals. This is the
    certification q95 structurally cannot have (its model is an
    eigendecomposition): the kernel and its contracts are identical,
    only the model source differs — so a green q98 row certifies the
    projection machinery itself, leaving exactly the driver-side eigh
    as the pytest-pinned remainder."""
    from ..operators.vectors import pca_project, rp_components
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    W = rp_components(64, 8)
    out = pca_project(emb, [0.0] * 64, W)
    return out.select(
        "vec_id",
        *[(F.round(F.element_at(F.col("projection"), i + 1), 6)
           + F.lit(0.0)).alias(f"p{i}") for i in range(8)])


_MOMENTS_DRIFT_ORACLE = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    d AS (SELECT max(len(v)) AS dim FROM e),
    idx AS (SELECT unnest(range(1, (SELECT dim FROM d) + 1)) AS i),
    cells AS (SELECT x.i AS i, y.i AS j FROM idx x JOIN idx y
              ON y.i >= x.i),
    a AS (SELECT v FROM e WHERE vec_id % 2 = 0),
    b AS (SELECT v FROM e WHERE vec_id % 2 = 1),
    -- per-half 6dp-grid means (the family's emit contract)
    ma AS (SELECT i.i AS i, round(sum(a.v[i.i]) / count(*), 6) AS m
           FROM idx i CROSS JOIN a GROUP BY i.i),
    mb AS (SELECT i.i AS i, round(sum(b.v[i.i]) / count(*), 6) AS m
           FROM idx i CROSS JOIN b GROUP BY i.i),
    -- per-half 6dp-grid covariance cells (q94's fold per half)
    ca AS (SELECT c.i, c.j,
                  round(sum(a.v[c.i] * a.v[c.j]) / count(*)
                        - (sum(a.v[c.i]) / count(*))
                        * (sum(a.v[c.j]) / count(*)), 6) AS cv
           FROM cells c CROSS JOIN a GROUP BY c.i, c.j),
    cb AS (SELECT c.i, c.j,
                  round(sum(b.v[c.i] * b.v[c.j]) / count(*)
                        - (sum(b.v[c.i]) / count(*))
                        * (sum(b.v[c.j]) / count(*)), 6) AS cv
           FROM cells c CROSS JOIN b GROUP BY c.i, c.j)
    SELECT CAST((SELECT count(*) FROM a) AS DOUBLE) AS n_reference,
           CAST((SELECT count(*) FROM b) AS DOUBLE) AS n_current,
           (SELECT round(sqrt(sum(pow(mb.m - ma.m, 2))), 6)
            FROM ma JOIN mb USING (i)) AS mean_shift_l2,
           -- Frobenius over the FULL matrix: off-diagonal upper-
           -- triangle cells weight 2 (they appear twice in the matrix)
           (SELECT round(sqrt(sum(
                CASE WHEN ca.i = ca.j THEN 1 ELSE 2 END
                * pow(cb.cv - ca.cv, 2))), 6)
            FROM ca JOIN cb ON ca.i = cb.i AND ca.j = cb.j)
             AS cov_fro_delta,
           (SELECT round(
                (SELECT sum(cb.cv) FROM cb WHERE cb.i = cb.j)
                / (SELECT sum(ca.cv) FROM ca WHERE ca.i = ca.j), 6))
             AS trace_ratio
    """


@register(
    "q99_moments_drift_report",
    _MOMENTS_DRIFT_ORACLE,
    survey_ref="beyond-ref: distribution-shift telemetry from the additive moment state (operators/vectors.py:moments_drift_report — mean-shift L2 / covariance Frobenius delta / trace ratio between a frozen reference statistic and the running one, no corpus access at report time); the PCA family's refit trigger, mirroring q88's role for the ANN index",
    memoize=False,  # both moment passes COLLECT at construction
)
def q99_moments_drift_report(spark, sf_dir):
    """The PCA-lifecycle drift signal certified end to end (r11): fold
    the two halves' moments (vec_id parity — the q97 split standing in
    for 'the statistic the model was fitted on' vs 'the statistic the
    stream has accumulated since'), then derive translation
    (mean_shift_l2), shape (cov_fro_delta — full-matrix Frobenius, so
    upper-triangle off-diagonals weight 2), and scale (trace_ratio)
    drift purely from the two bounded moment sets. The oracle
    re-derives every metric from the raw vectors through q94's
    rounded-cell folds per half. At 100 TB the point is what this does
    NOT touch: report time reads two dim x dim statistics, never the
    corpus — the drift check a streaming deployment runs every epoch,
    with refit (pca_fit_from_moments) only when it fires."""
    from ..operators.vectors import moments_drift_report, pca_moments
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    ref = pca_moments(emb.filter(F.col("vec_id") % 2 == 0))
    cur = pca_moments(emb.filter(F.col("vec_id") % 2 == 1))
    rep = moments_drift_report(ref, cur)
    return spark.createDataFrame(
        [(rep["n_reference"], rep["n_current"], rep["mean_shift_l2"],
          rep["cov_fro_delta"], rep["trace_ratio"])],
        "n_reference double, n_current double, mean_shift_l2 double, "
        "cov_fro_delta double, trace_ratio double")


def _rp_rerank_oracle_sql(dim: int = 64, out_dim: int = 8,
                          seed: str = "jl", k: int = 5, m: int = 10,
                          n_queries: int = 20) -> str:
    """q100's oracle: q83's two-stage serving chain with q98's static
    JL projection as the compression — stage 1 ranks on the projected
    coordinates (baked ±1/√k literals, the kernel's exact fold order),
    stage 2 re-ranks the |queries|·m candidates exactly at full
    precision. Together with q83 (int8 stage 1) and q84-q86 (PQ/IVF
    stage 1s), every member of the two-stage family whose stage-1
    model is not an eigendecomposition is value-hash certified."""
    from ..operators.vectors import rp_components

    W = rp_components(dim, out_dim, seed)
    proj = ",\n                ".join(
        " + ".join(f"({w[d]!r}) * v[{d + 1}]" for d in range(dim))
        for w in W)
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {dim}
        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    -- the static JL projection, literal weights in the kernel's fold order
    pr AS (
      SELECT vec_id, v,
             list_value({proj}) AS p
      FROM e
    ),
    prn AS (SELECT vec_id, p, list_dot_product(p, p) AS pn FROM pr),
    qs AS (
      SELECT vec_id AS query_id, v AS qvf, p AS qp,
             list_dot_product(v, v) AS qn,
             list_dot_product(p, p) AS qpn
      FROM pr WHERE vec_id < {n_queries}
    ),
    -- stage 1: top-m candidates by REDUCED-space cosine
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 CASE WHEN n.pn > 0 AND q.qpn > 0
                      THEN list_cosine_similarity(n.p, q.qp)
                      ELSE 0.0 END DESC, n.vec_id) AS rn
        FROM qs q JOIN prn n ON n.vec_id <> q.query_id
      ) WHERE rn <= {m}
    ),
    -- stage 2: exact full-dim re-rank of the |queries| x m candidates
    ex AS (
      SELECT c.query_id, c.neighbor_id,
             CASE WHEN ne.nn2 > 0 AND q.qn > 0
                  THEN list_cosine_similarity(ne.v, q.qvf)
                  ELSE 0.0 END AS cos_raw
      FROM cand c
      JOIN (SELECT vec_id, v, list_dot_product(v, v) AS nn2 FROM e) ne
        ON ne.vec_id = c.neighbor_id
      JOIN qs q ON q.query_id = c.query_id
    )
    SELECT query_id, neighbor_id,
           round(cos_raw, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
    FROM ex
    QUALIFY rank <= {k}
    """


@register(
    "q100_knn_rp_rerank",
    _rp_rerank_oracle_sql(),
    survey_ref="beyond-ref: JL-reduced two-stage serving kNN (operators/similarity.py:knn with a Projection codec over the static rp_components model) — the two-stage machinery value-hash certified end to end, which the PCA-model path (q96) structurally cannot be",
    memoize=True,
)
def q100_knn_rp_rerank(spark, sf_dir):
    """q96's two-stage serving path with q98's STATIC model (r11): the
    same ``knn`` Projection-codec machinery — map-only corpus projection,
    Catalyst-twin query projection, reduced-space top-m=10, exact
    full-dim re-rank to k=5 — but the JL sign model is a pure function
    of (dim, out_dim, seed), so the ENTIRE chain is re-derived by the
    oracle: projection fold, reduced-space candidate ranking, exact
    re-rank, both rank cuts. This closes the certification story for
    the two-stage family: q83/q85 (codec stage 1s), q84/q86/q92/q93
    (IVF-pruned stage 1s), q100 (dimensionality stage 1) are all
    value-hash green; only the data-derived eigh model (q96) rests on
    pytest pins. No fit pass: static models also mean the plan is pure
    scan → kernel → window — the serving shape with zero training
    cost, which is exactly when JL beats PCA at 100 TB (projecting
    from row one of a brand-new corpus)."""
    from ..operators.similarity import Projection, knn
    from ..operators.vectors import rp_components
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    W = rp_components(64, 8)
    queries = emb.filter(F.col("vec_id") < 20)
    out = knn(emb, queries, k=5, codec=Projection([0.0] * 64, W), m=10,
              vectors=emb)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


_PCA_CORR_ORACLE = """
    WITH e AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    d AS (SELECT max(len(v)) AS dim FROM e),
    idx AS (SELECT unnest(range(1, (SELECT dim FROM d) + 1)) AS i),
    cells AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b
              ON b.i >= a.i),
    -- q94's grid-rounded covariance cells: the corr derives from
    -- THESE values on both engines, so numerator and denominator are
    -- bit-identical before the final division
    cv AS (SELECT CAST(c.i - 1 AS INTEGER) AS i,
                  CAST(c.j - 1 AS INTEGER) AS j,
                  round(sum(e.v[c.i] * e.v[c.j]) / count(*)
                        - (sum(e.v[c.i]) / count(*))
                        * (sum(e.v[c.j]) / count(*)), 6) AS cov
           FROM cells c CROSS JOIN e
           GROUP BY c.i, c.j),
    diag AS (SELECT i, cov AS var FROM cv WHERE i = j)
    SELECT cv.i, cv.j,
           CASE WHEN di.var > 0 AND dj.var > 0
                THEN round(cv.cov / sqrt(di.var * dj.var), 6) + 0.0
                ELSE NULL END AS corr
    FROM cv
    JOIN diag di ON di.i = cv.i
    JOIN diag dj ON dj.i = cv.j
    ORDER BY cv.i, cv.j
    """


@register(
    "q101_pca_correlation",
    _PCA_CORR_ORACLE,
    survey_ref="beyond-ref: Pearson correlation matrix from the same one-pass moments (operators/vectors.py:correlation_frame — scale-free feature-redundancy profiling; zero-variance coordinates NULL rather than claiming a correlation)",
    memoize=False,  # the moment pass COLLECTS at construction
)
def q101_pca_correlation(spark, sf_dir):
    """The covariance's scale-free twin certified end to end (r11):
    the same single moment pass and bounded driver fold as q94, then
    ``corr_ij = cov_ij / sqrt(cov_ii * cov_jj)`` over the GRID-ROUNDED
    cells — both engines divide identical 6dp numerators by identical
    6dp-derived denominators, so the only new surface under test is
    the normalization itself (and its zero-variance NULL contract).
    The profiling read at 100 TB: |corr| near 1 flags coordinate pairs
    a reduction can collapse, independent of the coordinates'
    magnitudes — the redundancy signal raw covariance conflates with
    scale."""
    from ..operators.vectors import correlation_frame
    emb = (_no_null_elements(spread(t(spark, sf_dir, "embeddings"), KERNEL_SLICE_BYTES))
           .filter(F.col("embedding").isNotNull()
                   & (F.size("embedding") > 0)))
    return correlation_frame(emb)
