"""Embedding-column maintenance operators (beyond-ref): the vector-side
plumbing a 100 TB embedding/ANN pipeline needs around its indexes.

- ``quantize_int8`` — per-vector symmetric int8 quantization with
  reconstruction-error telemetry: the standard 4× memory/IO cut applied
  before an ANN index is built or served.
- ``kmeans_assign`` / ``kmeans_fit`` — deterministic Lloyd k-means with
  a fixed iteration count: the coarse quantizer an IVF index trains,
  and the clustering step of cluster-based curation (SemDeDup-style
  semantic dedup operates within clusters, and diversity sampling draws
  per-cluster quotas).
- ``pq_fit`` / ``pq_encode`` / ``pq_codes`` / ``pq_decode`` (r9) — real
  product quantization: m independent deterministic subspace codebooks
  (one fused kernel pass per Lloyd round for ALL subspaces), m-byte
  codes per vector, and reconstruction-by-concatenation, serving
  through ``operators.similarity.knn`` with the ``PQ`` codec.
- ``ivf_pq_fit`` / ``ivf_pq_fit_residual`` / ``ivf_pq_encode`` — the
  IVF-PQ model (``IVFPQModel``: coarse centroids, subspace codebooks,
  and whether the codebooks quantize residuals) and its one encoded
  layout ``(vec_id, codes, cell)``, served by
  ``operators.similarity.knn`` (the model as codec, ``StoredCells`` as
  quantizer) and the persisted-index family.

All are expressed over Catalyst array higher-order functions (zip_with /
transform / aggregate) for their literal semantic twins, with Arrow
mapInPandas kernels as the corpus-scale production paths — no row-wise
UDFs anywhere. Quantization is a pure projection (zero shuffle). The
k-means and PQ fits are sequences of bounded aggregations: per Lloyd
round one fused assignment + partial-sum kernel pass — map-side
combined, k·dim (or m·k·dim/m) output rows — and the only driver-side
state is the model itself, the same bounded artifact any trainer ships
to executors as a broadcast.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_Q = 127  # int8 symmetric range


def _qident(name: str) -> str:
    """Backtick-quote a column NAME for SQL-text splicing, escaping any
    embedded backtick (r11 ADVICE): the one-parse text builders
    (``well_formed_pred``, ``pq_decode``, ``pca_project_expr``,
    ``similarity.cosine_col``/``centroid_cells``/
    ``centroid_probe_ranks``) are public APIs that accept arbitrary
    names — a bare f-string wrap would mis-parse a name containing a
    backtick, where the Column fallback handled any name."""
    return f"`{name.replace('`', '``')}`"


def _fold_sum(arr: Column) -> Column:
    """Sequential left-fold sum of array<double> — the repo's cross-engine
    float contract (operators.similarity.cosine_col): DuckDB's list_reduce
    folds in the same order, so doubles agree bit-for-bit pre-rounding."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 quantization.

    Output: ``(vec_id, scale, qvec, mse)`` — ``scale = max(|x|)/127``,
    ``qvec[i] = clamp(floor(x_i/scale + 0.5), -127, 127)`` (explicit
    floor(+0.5) half-up, the one rounding rule every engine agrees on),
    and ``mse`` the mean squared reconstruction error of ``qvec·scale``
    against the original. An all-zero vector quantizes to scale 0.0 and
    an all-zero qvec (nothing to scale), never NaN.

    Pure projection: no shuffle, no UDF — the plan quantizes inside the
    scan's WholeStageCodegen, which is what lets a 100 TB embedding table
    be rewritten in one map-only pass.
    """
    v = F.col(vec_col).cast("array<double>")
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(float(_Q))
    # A NULL ELEMENT propagates to a NULL code (and a NULL mse via the
    # error fold) — the honest answer for a missing coordinate. Without
    # the explicit guard, Spark's least/greatest SKIP NULL arguments, so
    # greatest(-127, least(127, floor(NULL))) silently minted code 127
    # for the missing dimension (review r7b). scale is computed over the
    # PRESENT elements (array_max skips NULLs) so the valid coordinates
    # still quantize correctly. NULL-element vectors sit outside the
    # certified q72 contract (the oracle's digest folds disagree on
    # NULL-propagation details); this pins the operator itself to
    # propagate-not-invent.
    # zip against array_repeat(scale) rather than referencing `scale`
    # inside the element lambda: higher-order functions are interpreted
    # (no codegen, no common-subexpression elimination), so an inlined
    # `scale` — itself a 64-element array_max fold — would re-evaluate
    # per ELEMENT (dim x dim work per row, measured as the dominant term
    # of every serving query that re-derives the quantized frame from
    # raw embeddings, r9); array_repeat evaluates it once per row and
    # the lambda reads the materialized element
    sarr = F.array_repeat(scale, F.size(v))
    qexpr = F.when(
        scale > 0,
        F.zip_with(v, sarr, lambda x, s: F.when(x.isNotNull(), F.greatest(
            F.lit(-_Q), F.least(F.lit(_Q), F.floor(x / s + 0.5)))
            .cast("int"))),
    ).otherwise(F.transform(v, lambda x: F.when(x.isNotNull(), F.lit(0))))
    out = df.select(F.col(id_col).alias("vec_id"),
                    v.alias("__v"),
                    scale.alias("__scale"),
                    qexpr.alias("qvec"))
    # reconstruct with the RAW scale (the one qvec was computed from);
    # rounding is presentation only, applied at emission below
    # (d)*(d), not pow(d, 2): libm pow is not guaranteed bit-identical to
    # plain multiplication, and the oracle must reproduce these doubles
    err = F.zip_with(F.col("__v"), F.col("qvec"),
                     lambda x, q: (x - q * F.col("__scale"))
                     * (x - q * F.col("__scale")))
    mse = F.when(F.size("__v") > 0,
                 _fold_sum(err) / F.size("__v")).otherwise(F.lit(0.0))
    return out.select("vec_id",
                      F.round("__scale", 9).alias("scale"),
                      "qvec",
                      F.round(mse, 12).alias("mse"))


def _dist2(v: Column, centroid: list[float]) -> Column:
    """Squared L2 distance of an array<double> column to a Python-side
    centroid, as a sequential fold over the zipped difference — the same
    order DuckDB's list_reduce uses, so both engines see identical
    doubles given identical (rounded) centroids."""
    return _fold_sum(F.zip_with(v, _lit_array(centroid),
                                lambda x, y: (x - y) * (x - y)))


def _lit_array_sql(values: list[float]) -> str:
    """SQL text of a finite double-array literal — the fragment the
    one-parse text builders splice (``_lit_array``'s text half)."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in values) + ")"


def _lit_array(values: list[float]) -> Column:
    """A double-array literal in ONE Py4J round trip: the element-wise
    ``F.array(*[F.lit(x) ...])`` form costs one driver round trip PER
    ELEMENT, and a k-centroid expression (centroid_cells /
    centroid_probe_ranks / the literal assignment twin) multiplies that
    by k — measured ~1.9 s of pure plan construction per honest-refit
    pass of q82 (r8). ``repr(float)`` is the shortest round-trip decimal,
    so the parsed double is bit-identical to the F.lit it replaces;
    non-finite values (a NaN mean from NaN coordinates) fall back to the
    element-wise form, which Spark encodes losslessly."""
    vals = [float(x) for x in values]
    if all(math.isfinite(x) for x in vals):
        return F.expr(_lit_array_sql(vals))
    return F.array(*[F.lit(x) for x in vals])


#: Literal-assignment budget: models with at most this many embedded
#: literals may run as the pure-Catalyst literal expression tree instead
#: of the Arrow kernel. Default 0 — the kernel is the production path at
#: EVERY size (r8, measured at sf0.1 interleaved medians: q73 1.86->1.59s,
#: q75 1.78->1.64s, q82 3.47->3.03s even at k=4 x 64 dims, because the
#: literal tree is an interpreted HOF fold per (row, centroid) plus one
#: Py4J round trip per literal at construction, per iteration). The
#: literal branch is kept as the cross-engine SEMANTIC TWIN — it is the
#: recipe the DuckDB oracles unroll, ``centroid_cells`` still embeds it as
#: a bucketer Column, and the parity test pins kernel == literal
#: row-identical by raising this constant.
_MAX_LITERALS = 0


def _nearest_blocks(V, C):
    """(best, d2) numpy arrays for an (n, dim) row panel against a
    (k, dim) centroid matrix: dimension-ordered accumulation — the same
    float64 sequence as the literal path's sequential fold — with
    ``np.argmin``'s first-minimum matching the struct-min's
    lowest-cluster-id tie rule, and NaN distances masked to +inf for the
    argmin (Spark orders NaN above every double) while the reported d2
    keeps the raw value. Row-blocked (the semdedup kernel's recipe) so
    the (block, k) distance panel — not (batch, k) — bounds peak memory:
    a 10k-row Arrow batch at k=4096 would otherwise hold a ~330 MB
    float64 panel per task."""
    import numpy as np

    n, dim = V.shape
    k = C.shape[0]
    block = 1024
    best = np.empty(n, dtype="int64")
    d2 = np.empty(n)
    for s in range(0, n, block):
        e = min(s + block, n)
        acc = np.zeros((e - s, k))
        for d in range(dim):
            diff = V[s:e, d:d + 1] - C[None, :, d]
            acc = acc + diff * diff
        masked = np.where(np.isnan(acc), np.inf, acc)
        best[s:e] = masked.argmin(axis=1)
        d2[s:e] = acc[np.arange(e - s), best[s:e]]
    return best, d2


#: Sentinel embedded in every kernel-raised ragged-dimension error so the
#: driver-side re-raise in ``_fit`` can recognize its OWN contract errors
#: exactly: worker exceptions surface through PySpark's formatting layers
#: as opaque wrapped strings, and matching on the English word "ragged"
#: alone would re-classify any unrelated failure that happened to mention
#: it (r8 ADVICE). The token is part of the message users see — harmless,
#: and it makes the match unambiguous across PySpark formatting changes.
_RAGGED_SENTINEL = "[kmeans_assign:ragged]"


def _stack_batch(pdf, dim: int):
    """The kernels' shared ragged guard: (n, dim) float64 panel or a loud
    contract error (np.stack throws on inhomogeneous lengths; an
    equal-length-but-wrong-dimension batch is caught against the model)."""
    import numpy as np

    try:
        V = np.stack(pdf["__v"].to_numpy()).astype("float64")
    except ValueError:
        raise RuntimeError(
            f"kmeans_assign {_RAGGED_SENTINEL}: the embedding column is "
            "ragged; k-means requires a fixed-dimension embedding column")
    if V.shape[1] != dim:
        raise RuntimeError(
            f"kmeans_assign {_RAGGED_SENTINEL}: vectors have "
            f"{V.shape[1]} dimensions but the model has {dim} — the "
            "embedding column is ragged; k-means requires a "
            "fixed-dimension embedding column")
    return V


def _assign_mean_partials(vecs: DataFrame,
                          centroids: list[list[float]]) -> DataFrame:
    """Fused assignment + per-(cluster, pos) partial sums for the fit's
    mean update: one kernel pass emits ONE tiny (cluster, pos, s, c)
    frame per partition — k·dim rows — instead of Arrow-serializing the
    corpus vector column back out and posexploding n·dim rows through
    the average (r8). Partial-sum order differs from a row-sequential
    fold, which is already immaterial: the mean is rounded to the
    decimal grid precisely because distributed summation order is
    nondeterministic (kmeans_assign's reproducibility contract), and the
    DuckDB oracles compute the same means by their own fold order."""
    import numpy as np

    C = np.asarray(centroids, dtype="float64")
    k, dim = C.shape

    def kernel(batches):
        import pandas as pd
        S = np.zeros((k, dim))
        cnt = np.zeros(k, dtype="int64")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _stack_batch(pdf, dim)
            best, _ = _nearest_blocks(V, C)
            np.add.at(S, best, V)
            cnt += np.bincount(best, minlength=k)
        used = np.nonzero(cnt)[0]
        if len(used) == 0:
            return
        yield pd.DataFrame({
            "cluster": np.repeat(used, dim).astype("int32"),
            "pos": np.tile(np.arange(dim, dtype="int32"), len(used)),
            "s": S[used].reshape(-1),
            "c": np.repeat(cnt[used], dim),
        })

    return vecs.select("__v").mapInPandas(
        kernel, schema="cluster int, pos int, s double, c long")


def _assign(vecs: DataFrame, centroids: list[list[float]],
            keep_vectors: bool = True) -> DataFrame:
    """(vec_id[, __v], cluster, d2): nearest centroid per vector, ties to
    the lowest cluster id. ``keep_vectors=False`` drops ``__v`` from the
    kernel OUTPUT (Catalyst cannot prune inside a mapInPandas schema, so
    a caller that only needs labels — the final assignment pass — would
    otherwise pay one corpus-wide Arrow serialization of the vector
    column for nothing; the fit's means and semdedup's cells keep it).

    Two plans, same semantics. The production path (any model size, r8)
    is an ARROW KERNEL — one ``mapInPandas`` pass with the model closed
    over as a numpy matrix, the MLlib trainer's shape: map-only, no join,
    no shuffle at any k. It replaced both earlier plans — the r6
    broadcast-join (crossJoin + map-side-combined groupBy(vec_id), which
    shuffled one row per vector PER ITERATION and expanded n×k
    interpreted zip_with folds) and, as the default for small models, the
    literal expression tree (an interpreted HOF fold per (row, centroid)
    plus one Py4J round trip per literal at plan construction — measured
    slower than the kernel even at k=4 x 64 dims, see ``_MAX_LITERALS``).
    The literal branch remains for models within ``_MAX_LITERALS``
    embedded floats as the pure-Catalyst SEMANTIC TWIN: it is the recipe
    the DuckDB oracles unroll and the parity test pins against the
    kernel.

    Bit-exactness across all paths and engines: the kernel accumulates
    dimension-by-dimension in float64 — the same float sequence as the
    sequential zip_with fold (the semdedup kernel's proven recipe) — and
    ``np.argmin`` takes the FIRST minimum, the struct-min's
    lowest-cluster-id tie rule. NaN distances are masked to +inf for the
    argmin (Spark orders NaN above every double, so a NaN distance never
    wins there either) while the reported d2 keeps the raw value.
    """
    k, dim = len(centroids), len(centroids[0]) if centroids else 0
    if k * dim <= _MAX_LITERALS:
        pairs = F.array(*[
            F.struct(_dist2(F.col("__v"), c).alias("d2"),
                     F.lit(i).alias("cluster"))
            for i, c in enumerate(centroids)])
        best = F.array_min(pairs)
        cols = ["vec_id"] + (["__v"] if keep_vectors else [])
        return vecs.select(*cols,
                           best["cluster"].alias("cluster"),
                           best["d2"].alias("d2"))
    import numpy as np

    C = np.asarray(centroids, dtype="float64")
    id_type = vecs.schema["vec_id"].dataType.simpleString()

    def kernel(batches):
        import pandas as pd
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _stack_batch(pdf, dim)
            best, d2 = _nearest_blocks(V, C)
            out = {"vec_id": pdf["vec_id"]}
            if keep_vectors:
                out["__v"] = pdf["__v"]
            out["cluster"] = best.astype("int32")
            out["d2"] = d2
            yield pd.DataFrame(out)

    v_field = "__v array<double>, " if keep_vectors else ""
    return vecs.select("vec_id", "__v").mapInPandas(
        kernel, schema=f"vec_id {id_type}, {v_field}"
                       "cluster int, d2 double")


def _wf_sql(vec_sql: str, dim: int) -> str:
    """``well_formed_pred`` as a SQL fragment over an already-rendered
    column reference — the text form the one-parse expression builders
    splice (r11 optimization round: each Python-lambda higher-order
    function costs ~20 Py4J round trips at plan-construction time; a
    parsed text tree is one)."""
    return (f"({vec_sql} IS NOT NULL AND size({vec_sql}) = {dim} "
            f"AND NOT exists({vec_sql}, x -> x IS NULL))")


def well_formed_pred(vec: Column | str, dim: int) -> Column:
    """The SERVABILITY predicate of the fixed-dimension vector family —
    non-NULL, exactly ``dim`` elements, no NULL element — as one shared
    Column builder. This is the exclusion every quantizer/codec site
    applies (``centroid_cells_frame``, ``pq_codes``/``pq_encode``,
    ``centroid_probe_ranks``, ``ivf_pq_index_drift``'s truth universe);
    hand-copies of the triple had already reached six call sites (r10
    review), and the next change to what "servable" means must land
    everywhere at once or recall universes silently diverge.

    Accepts a Column or a column NAME: the str form parses the whole
    predicate in ONE Py4J round trip (identical analyzed tree — the
    lambda-building Column form costs dozens of driver round trips per
    call, measured as the dominant per-pass cost of the memoize=False
    serving builders in the r11 optimization round)."""
    if isinstance(vec, str):
        return F.expr(_wf_sql(_qident(vec), dim))
    return (vec.isNotNull() & (F.size(vec) == dim)
            & ~F.exists(vec, lambda x: x.isNull()))


def _well_formed_vectors(df: DataFrame, vec_col: str,
                         id_col: str) -> DataFrame:
    """(vec_id, __v): the clusterable subset of ``df``.

    NULL, EMPTY, and NULL-ELEMENT embeddings are excluded up front — a
    row with no vector (or with missing coordinates) is not clusterable,
    and letting it through would either crash the seed collection
    (list(None)) or propagate NULL distances into the argmin. The
    empty-vector leg closed in r7 (ADVICE): a zero-length array passed
    isNotNull, its zip_with distances folded to NULL against every
    centroid, and posexplode emitted NO rows — so the ragged-dim check
    in the fit never saw its dim-0 and the row was silently assigned by
    NULL-ordering instead of failing the fixed-dimension contract. The
    NULL-element leg closed in r7b (review): [0.5, NULL] passed both
    earlier guards, its distance folds were NULL against every centroid,
    and the row came back cluster-0/dist-NULL via the same NULL
    ordering. The workload oracles mirror all three exclusions (WHERE
    embedding IS NOT NULL AND len(embedding) > 0 AND no NULL elements).
    NON-empty ragged dimensions remain a loud CONTRACT failure in the
    fit rather than a silent mis-assignment."""
    return (df.filter(F.col(vec_col).isNotNull()
                      & (F.size(vec_col) > 0)
                      & ~F.exists(vec_col, lambda x: x.isNull()))
            .select(F.col(id_col).alias("vec_id"),
                    F.col(vec_col).cast("array<double>").alias("__v")))


def _seed_vectors(vecs: DataFrame, k: int) -> list[list[float]]:
    """Deterministic init shared by every fit in this module: the k
    lowest-id vectors, as plain Python lists."""
    seed = (vecs.orderBy("vec_id").limit(k).collect())
    if len(seed) < k:
        raise ValueError(f"k={k} exceeds the {len(seed)} available vectors")
    return [list(r["__v"]) for r in seed]


def _fit(vecs: DataFrame, k: int, iters: int,
         round_dp: int) -> list[list[float]]:
    """The Lloyd loop over a pre-filtered (vec_id, __v) frame: returns the
    fitted centroid model (k lists of dim floats, rounded to round_dp)."""
    return _lloyd(vecs, _seed_vectors(vecs, k), iters, round_dp)


def _lloyd(vecs: DataFrame, centroids: list[list[float]], iters: int,
           round_dp: int) -> list[list[float]]:
    """``iters`` deterministic Lloyd rounds from the given initial
    centroids (the seed-selection half of ``_fit``, split out in r9 so
    ``pq_fit`` can seed all m subspace fits from ONE corpus pass instead
    of m seed scans)."""
    k = len(centroids)
    dim = len(centroids[0])
    for _ in range(iters):
        try:
            if len(centroids) * dim > _MAX_LITERALS:
                # kernel path: fused assignment + per-partition partial
                # sums — no corpus-sized kernel output, no n·dim
                # posexplode (r8)
                means = (_assign_mean_partials(vecs, centroids)
                         .groupBy("cluster", "pos")
                         .agg(F.round(F.sum("s") / F.sum("c"), round_dp)
                              .alias("mv"))
                         .collect())
            else:
                # literal semantic twin: posexplode + avg over the
                # assignment projection, the recipe the oracles unroll
                means = (_assign(vecs, centroids)
                         .select("cluster",
                                 F.posexplode("__v").alias("pos", "val"))
                         .groupBy("cluster", "pos")
                         .agg(F.round(F.avg("val"), round_dp).alias("mv"))
                         .collect())
        except Exception as e:
            # the Arrow kernel raises the ragged-dimension contract error
            # WORKER-side, which PySpark surfaces as a PythonException —
            # re-raise it as the documented driver-side RuntimeError so
            # callers (and the r6b contract test) see one error type
            # regardless of assignment path. Matched on the unique
            # sentinel the kernel embeds (never the bare word "ragged":
            # an unrelated worker failure mentioning it would be
            # mislabeled as the contract error — r8 ADVICE).
            if _RAGGED_SENTINEL in str(e):
                raise RuntimeError(
                    "kmeans_assign: the embedding column is ragged; "
                    "k-means requires a fixed-dimension embedding "
                    "column") from e
            raise
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["mv"]
        for i, pos_map in by_cluster.items():
            if sorted(pos_map) != list(range(dim)):
                raise RuntimeError(
                    f"kmeans_assign: cluster {i} aggregated "
                    f"{len(pos_map)} dimensions but the seed vectors have "
                    f"{dim} — the embedding column is ragged; k-means "
                    "requires a fixed-dimension embedding column")
        centroids = [
            [by_cluster[i][p] for p in range(dim)] if i in by_cluster
            else centroids[i]  # empty cluster keeps its previous centroid
            for i in range(k)]
    return centroids


def kmeans_fit(df: DataFrame, k: int = 4, iters: int = 2,
               vec_col: str = "embedding", id_col: str = "vec_id",
               round_dp: int = 6) -> list[list[float]]:
    """The fitted k-means model WITHOUT the final assignment pass: k
    centroids as plain Python lists (rounded to ``round_dp``), exactly the
    artifact an IVF index trains and ships to executors. Same
    deterministic contract as ``kmeans_assign`` (which is this fit plus
    one assignment); exposed separately (r8) so trained-quantizer callers
    — the IVF bucketer/prober in ``operators.similarity``, semdedup's
    fused cell projection — can embed the model in their own projections
    instead of joining against an assignment frame."""
    if k < 1:
        raise ValueError("k must be >= 1")
    return _fit(_well_formed_vectors(df, vec_col, id_col), k, iters,
                round_dp)


def pq_fit(df: DataFrame, m: int = 4, k: int = 16, iters: int = 1,
           vec_col: str = "embedding", id_col: str = "vec_id",
           round_dp: int = 6) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011): split the
    ``dim``-dimensional space into ``m`` contiguous subspaces of
    ``dim/m`` dimensions and fit an INDEPENDENT deterministic k-means
    codebook (k codewords, ``kmeans_fit``'s exact recipe — lowest-id
    seeds, fixed Lloyd rounds, ``round_dp``-rounded means) in each.
    Returns ``m`` codebooks, each ``k x (dim/m)`` plain Python floats —
    the model ``pq_encode``/``pq_codes`` compress with and
    ``pq_decode``/``knn``'s ``PQ`` codec serve from.

    This is the real PQ the int8 codec (``quantize_int8``) stands in
    for in the int8 IVF composition (``knn`` with ``Int8`` and
    ``Centroids``): int8 compresses each COORDINATE to a byte (8x,
    reconstruction error bounded by the scalar grid), while PQ
    compresses each SUBSPACE to a single code (dim/m doubles → one
    small int, 64x+ at the default shapes) and reconstruction
    quality comes from the TRAINED codebooks tracking the data's actual
    density. ``dim`` must divide evenly by ``m`` (PQ's standard
    contract) — raises ValueError otherwise.

    Determinism/parity: every subspace fit is the same rounded-Lloyd
    contract as ``kmeans_fit`` (the DuckDB oracles re-derive each one by
    slicing the vectors and unrolling the same CTE rounds — the fused
    kernel below computes identical assignments and identical rounded
    means, since the subspace fits are independent and the rounding pin
    absorbs summation order), and all m fits share ONE seed collection
    (the k lowest-id FULL vectors, sliced per subspace) — one corpus
    TakeOrdered instead of m.

    Scale: per Lloyd round, ONE fused Arrow pass computes every
    subspace's assignment + per-(subspace, cluster, pos) partial sums
    (map-only; m·k·dim/m result rows) — iters+1 corpus scans total
    regardless of m (seed + one per round), and the only driver state
    is the m·k·dim/m-double model itself."""
    if m < 1:
        raise ValueError("m must be >= 1")
    if k < 1:
        raise ValueError("k must be >= 1")
    vecs = _well_formed_vectors(df, vec_col, id_col)
    seeds = _seed_vectors(vecs, k)
    dim = len(seeds[0])
    if dim % m:
        raise ValueError(
            f"pq_fit: dimension {dim} is not divisible by m={m} subspaces"
            " — product quantization requires equal-width subspaces")
    sub = dim // m
    books = [[s[j * sub:(j + 1) * sub] for s in seeds] for j in range(m)]
    _, books = _fused_lloyd(vecs, None, books, iters, round_dp, "pq_fit")
    return books


@dataclass(frozen=True)
class IVFPQModel:
    """A trained IVF-PQ model (Jégou et al. 2011): the coarse quantizer's
    ``centroids`` (k_coarse x dim), the ``m`` subspace ``codebooks``
    (k_sub codewords of dim/m each), and the codec — ``residual``
    codebooks quantize ``x - centroids[cell(x)]`` (``ivf_pq_fit_residual``,
    FAISS's IVFPQ), flat ones quantize ``x`` itself (``ivf_pq_fit``).
    Every later step of the lifecycle takes this one value and reads the
    codec from it: ``ivf_pq_encode``, ``knn`` (as its codec),
    ``write_ivf_pq_index`` / ``refresh_ivf_pq_index``,
    ``knn_ivf_pq_index`` / ``knn_ivf_pq_index_batch`` and
    ``ivf_pq_index_drift`` — so codes can only be served by the codec
    that made them.

    Construction checks the pair is one model: well-formed codebooks
    (``_validate_codebooks``) and centroids in the codebooks'
    reconstruction dimension; a mismatch raises ValueError."""
    centroids: list[list[float]]
    codebooks: list[list[list[float]]]
    residual: bool = False

    def __post_init__(self):
        m, _, sub = _validate_codebooks(self.codebooks)
        if not self.centroids or not self.centroids[0]:
            raise ValueError("centroids must be a non-empty list of "
                             "non-empty vectors (kmeans_fit's output)")
        if len(self.centroids[0]) != m * sub:
            raise ValueError(
                f"centroid dimension {len(self.centroids[0])} != the "
                f"codebooks' reconstruction dimension {m * sub} — the "
                "coarse quantizer and the PQ model must be trained on the "
                "same space")


def _ivf_pq_seeds(vecs: DataFrame, k_coarse: int, m: int, k_sub: int,
                  op_name: str):
    """The shared seed collection of both IVF-PQ fits: the
    max(k_coarse, k_sub) lowest-id vectors (each model takes its top-k
    slice, exactly what the separate fits would seed with) and the
    subspace width. Raises on the fits' shape contracts."""
    if k_coarse < 1 or k_sub < 1:
        raise ValueError("k_coarse and k_sub must be >= 1")
    if m < 1:
        raise ValueError("m must be >= 1")
    seeds = _seed_vectors(vecs, max(k_coarse, k_sub))
    dim = len(seeds[0])
    if dim % m:
        raise ValueError(
            f"{op_name}: dimension {dim} is not divisible by m={m} "
            "subspaces — product quantization requires equal-width "
            "subspaces")
    return seeds, dim // m


def ivf_pq_fit(df: DataFrame, k_coarse: int = 8, m: int = 4,
               k_sub: int = 16, iters: int = 1,
               vec_col: str = "embedding", id_col: str = "vec_id",
               round_dp: int = 6) -> IVFPQModel:
    """Train the flat IVF-PQ model — the coarse quantizer's ``k_coarse``
    centroids and the ``m`` subspace codebooks of ``k_sub`` codewords
    over the RAW vectors — in ONE corpus scan per Lloyd round: one
    shared seed collection and one fused kernel pass emitting BOTH
    models' per-(cluster, pos) partial sums. The model's centroids and
    codebooks are bit-identical to ``kmeans_fit(df, k_coarse, iters)``
    and ``pq_fit(df, m, k_sub, iters)`` — test-pinned — because the
    coarse and subspace updates never interact: same assignments, same
    rounded means, same empty-cluster-keeps-previous rule.

    Why one pass matters: an IVFPQ deployment always needs both models,
    and the separate fits cost (2 seed TakeOrdereds + 2 kernel scans)
    per round — at 100 TB, two extra reads of the corpus per round for
    byte-identical output."""
    vecs = _well_formed_vectors(df, vec_col, id_col)
    seeds, sub = _ivf_pq_seeds(vecs, k_coarse, m, k_sub, "ivf_pq_fit")
    cents = [list(s) for s in seeds[:k_coarse]]
    books = [[s[j * sub:(j + 1) * sub] for s in seeds[:k_sub]]
             for j in range(m)]
    cents, books = _fused_lloyd(vecs, cents, books, iters, round_dp,
                                "ivf_pq_fit")
    return IVFPQModel(cents, books)


def _residual_frame(vecs: DataFrame,
                    centroids: list[list[float]]) -> DataFrame:
    """(vec_id, __v): each vector minus its nearest coarse centroid —
    the FAISS IVFPQ residual — in ONE map-only kernel pass (assignment
    argmin + float64 subtraction fused; ``_nearest_blocks``' pinned
    tie/fold contract, subtraction exact and order-free). Input is a
    ``_well_formed_vectors`` frame; output feeds ``pq_fit`` directly."""
    import numpy as np

    C = np.asarray(centroids, dtype="float64")
    dim = C.shape[1]
    id_type = vecs.schema["vec_id"].dataType.simpleString()

    def kernel(batches):
        import pandas as pd
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _stack_batch(pdf, dim)
            best, _ = _nearest_blocks(V, C)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "__v": list(V - C[best])})

    return vecs.select("vec_id", "__v").mapInPandas(
        kernel, schema=f"vec_id {id_type}, __v array<double>")


def ivf_pq_fit_residual(df: DataFrame, k_coarse: int = 8, m: int = 4,
                        k_sub: int = 16, iters: int = 1,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id", round_dp: int = 6
                        ) -> IVFPQModel:
    """Train the RESIDUAL IVF-PQ model — the actual FAISS IVFPQ recipe
    (Jégou et al. 2011 §III): fit the coarse quantizer on the raw
    vectors (``kmeans_fit``'s exact rounded-Lloyd contract), then fit
    the ``m`` subspace codebooks on the RESIDUALS
    ``x - centroid(cell(x))`` instead of the raw vectors. Returns an
    ``IVFPQModel`` with ``residual=True``.

    Why residuals: the coarse centroids absorb the corpus's large-scale
    structure, so the residual distribution is far tighter than the raw
    one — the same m x k_sub codebook budget spends its codewords on a
    smaller cell of space, cutting reconstruction error at identical
    code size (``ivf_pq_fit``'s flat codec quantizes raw vectors and is
    the cheaper-to-derive stand-in). The cost: a row's code is only
    defined together with its cell, so a row can never be re-binned
    without re-encoding.

    Sequencing is inherent, not an implementation shortcut: residuals
    are undefined until the coarse model is final, so training is
    (coarse fit: iters+1 corpus scans) then (residual PQ fit: one
    fused residual-kernel pass under ``pq_fit``'s iters Lloyd scans).
    Determinism: residual = raw minus the 6-dp-rounded centroid
    (exact float64 subtraction, no fold), and the subspace fits are
    ``pq_fit``'s pinned recipe seeded by the k_sub LOWEST-ID residual
    vectors — the DuckDB oracle (q89) re-derives the whole chain.

    One shared seed collection: the residual seeds ARE the residuals of
    the k_sub lowest-id RAW vectors (the residual kernel is 1:1 on
    vec_id), and both the raw seeds and the coarse model are already on
    the driver — so the subspace seed vectors are computed locally
    (``_nearest_blocks``' pinned argmin + exact float64 subtraction, the
    kernel's own recipe) instead of re-scanning the residual frame for a
    second seed TakeOrdered. At 100 TB that is one full corpus pass
    (scan + assignment kernel) saved for byte-identical seeds."""
    import numpy as np

    vecs = _well_formed_vectors(df, vec_col, id_col)
    seeds, sub = _ivf_pq_seeds(vecs, k_coarse, m, k_sub,
                               "ivf_pq_fit_residual")
    cents = _lloyd(vecs, [list(s) for s in seeds[:k_coarse]], iters,
                   round_dp)
    S = np.asarray(seeds[:k_sub], dtype="float64")
    C = np.asarray(cents, dtype="float64")
    best, _ = _nearest_blocks(S, C)
    rseeds = S - C[best]
    books = [[list(map(float, s[j * sub:(j + 1) * sub])) for s in rseeds]
             for j in range(m)]
    res = _residual_frame(vecs, cents)
    _, books = _fused_lloyd(res, None, books, iters, round_dp,
                            "ivf_pq_fit_residual")
    return IVFPQModel(cents, books, residual=True)


def ivf_pq_encode(df: DataFrame, model: IVFPQModel,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """IVF-PQ encoding for a whole frame in ONE Arrow kernel pass,
    returning exactly ``(vec_id, codes array<int>, cell int)`` — the one
    encoded layout of both codecs, and the persisted index's columns.

    - ``model.residual``: assign each vector's coarse cell
      (``_nearest_blocks``' pinned argmin over the raw vector), subtract
      that centroid, and PQ-encode the residual per subspace. The cell
      is part of the encoding: decode = centroid[cell] + codewords.
    - flat: PQ-encode the raw vector per subspace (``pq_encode``'s
      codes), then key the row to the nearest centroid of its
      RECONSTRUCTION (the codeword gather reproduces ``pq_decode``'s
      exact doubles, so the cell equals ``centroid_cells`` over the
      decoded vector — test-pinned). The cell is self-consistent with
      serving, which scores the reconstructions.

    Rows the codec cannot key (NULL / wrong-dimension / NULL-element)
    are DROPPED, the ``centroid_cells_frame`` contract. At 100 TB this
    is the one pass that rewrites the wide embedding table into the
    serving table."""
    import numpy as np

    m = len(model.codebooks)
    sub = len(model.codebooks[0][0])
    dim = m * sub
    residual = model.residual
    Bs = [np.asarray(cb, dtype="float64") for cb in model.codebooks]
    C = np.asarray(model.centroids, dtype="float64")
    vecs = (df.filter(well_formed_pred(vec_col, dim))
            .select(F.col(id_col).alias("vec_id"),
                    F.col(vec_col).cast("array<double>").alias("__v")))
    id_type = vecs.schema["vec_id"].dataType.simpleString()

    def kernel(batches):
        import pandas as pd
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _stack_batch(pdf, dim)
            if residual:
                cell, _ = _nearest_blocks(V, C)
                V = V - C[cell]
            codes = np.empty((len(pdf), m), dtype="int32")
            for j in range(m):
                best, _ = _nearest_blocks(V[:, j * sub:(j + 1) * sub],
                                          Bs[j])
                codes[:, j] = best
            if not residual:
                recon = np.concatenate([Bs[j][codes[:, j]]
                                        for j in range(m)], axis=1)
                cell, _ = _nearest_blocks(recon, C)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "codes": list(codes),
                                "cell": cell.astype("int32")})

    return vecs.mapInPandas(
        kernel,
        schema=f"vec_id {id_type}, codes array<int>, cell int")


def _fused_lloyd(vecs: DataFrame, cents, books, iters: int,
                 round_dp: int, op_name: str):
    """The shared fused-Lloyd round loop of ``pq_fit`` (``cents=None``)
    and ``ivf_pq_fit``: one kernel pass per round emits every model's
    per-(cluster, pos) partial sums, means round to the decimal grid,
    and an empty cluster keeps its previous centroid/codeword. One body
    (r9 review: the two hand-copies recreated exactly the copy-drift
    hazard the shared ``_resolve_m`` had just fixed elsewhere).
    ``op_name`` prefixes the contract errors so the user sees the
    function they actually called. Returns ``(cents, books)``."""
    m = len(books)
    k_sub = len(books[0])
    sub = len(books[0][0])
    for _ in range(iters):
        try:
            means = (_pq_assign_mean_partials(vecs, books, coarse=cents)
                     .groupBy("model", "cluster", "pos")
                     .agg(F.round(F.sum("s") / F.sum("c"), round_dp)
                          .alias("mv"))
                     .collect())
        except Exception as e:
            # same worker-to-driver re-raise as _fit: the kernel's
            # contract error surfaces as a PythonException — match the
            # embedded sentinel, never the bare word (r8 ADVICE)
            if _RAGGED_SENTINEL in str(e):
                raise RuntimeError(
                    f"{op_name}: the embedding column is ragged; "
                    "a fixed-dimension embedding column is required"
                ) from e
            raise
        by: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            by.setdefault((r["model"], r["cluster"]),
                          {})[r["pos"]] = r["mv"]

        def rebuilt(model: int, k: int, width: int, prev):
            out = []
            for i in range(k):
                pos_map = by.get((model, i))
                if pos_map is None:
                    # empty cluster keeps its previous centroid/codeword
                    out.append(prev[i])
                    continue
                if sorted(pos_map) != list(range(width)):
                    raise RuntimeError(
                        f"{op_name}: model {model} cluster {i} "
                        f"aggregated {len(pos_map)} dimensions but "
                        f"expected {width} — the embedding column is "
                        "ragged; a fixed-dimension embedding column is "
                        "required")
                out.append([pos_map[p] for p in range(width)])
            return out

        if cents is not None:
            cents = rebuilt(-1, len(cents), m * sub, cents)
        books = [rebuilt(j, k_sub, sub, books[j]) for j in range(m)]
    return cents, books


def _pq_assign_mean_partials(vecs: DataFrame,
                             codebooks: list[list[list[float]]],
                             coarse: list[list[float]] | None = None
                             ) -> DataFrame:
    """``_assign_mean_partials``' PQ sibling: ONE kernel pass assigns
    every subspace independently and emits the per-(model, cluster,
    pos) partial sums for all m mean updates — m·k·(dim/m) tiny rows per
    partition instead of m separate corpus scans. Same float contract as
    the single-space kernel: dimension-ordered accumulation inside each
    subspace's ``_nearest_blocks`` argmin, partial-sum order absorbed by
    the decimal rounding pin. ``model`` = the subspace index, or -1 for
    the optional COARSE quantizer partials: passing ``coarse`` fuses the
    IVF centroid update into the SAME pass (full-vector assignment +
    k_coarse·dim partial sums), so ``ivf_pq_fit`` trains both models
    with one corpus scan per Lloyd round."""
    import numpy as np

    m = len(codebooks)
    k = len(codebooks[0])
    sub = len(codebooks[0][0])
    dim = m * sub
    Cs = [np.asarray(cb, dtype="float64") for cb in codebooks]
    CC = (np.asarray(coarse, dtype="float64")
          if coarse is not None else None)
    kc = len(coarse) if coarse is not None else 0

    def kernel(batches):
        import pandas as pd
        S = np.zeros((m, k, sub))
        cnt = np.zeros((m, k), dtype="int64")
        Sc = np.zeros((kc, dim)) if CC is not None else None
        cntc = np.zeros(kc, dtype="int64") if CC is not None else None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _stack_batch(pdf, dim)
            for j in range(m):
                Vj = V[:, j * sub:(j + 1) * sub]
                best, _ = _nearest_blocks(Vj, Cs[j])
                np.add.at(S[j], best, Vj)
                cnt[j] += np.bincount(best, minlength=k)
            if CC is not None:
                bestc, _ = _nearest_blocks(V, CC)
                np.add.at(Sc, bestc, V)
                cntc += np.bincount(bestc, minlength=kc)
        frames = []
        js, cs = np.nonzero(cnt)
        if len(js):
            frames.append(pd.DataFrame({
                "model": np.repeat(js, sub).astype("int32"),
                "cluster": np.repeat(cs, sub).astype("int32"),
                "pos": np.tile(np.arange(sub, dtype="int32"), len(js)),
                "s": S[js, cs].reshape(-1),
                "c": np.repeat(cnt[js, cs], sub),
            }))
        if CC is not None:
            used = np.nonzero(cntc)[0]
            if len(used):
                frames.append(pd.DataFrame({
                    "model": np.full(len(used) * dim, -1, dtype="int32"),
                    "cluster": np.repeat(used, dim).astype("int32"),
                    "pos": np.tile(np.arange(dim, dtype="int32"),
                                   len(used)),
                    "s": Sc[used].reshape(-1),
                    "c": np.repeat(cntc[used], dim),
                }))
        for f in frames:
            yield f

    return vecs.select("__v").mapInPandas(
        kernel,
        schema="model int, cluster int, pos int, s double, c long")


def _validate_codebooks(codebooks: list[list[list[float]]]
                        ) -> tuple[int, int, int]:
    """Shared model guard of the PQ codec trio (pq_codes / pq_encode /
    pq_decode): every subspace codebook must be non-empty and all must
    agree on codeword count AND codeword width (pq_fit's output shape).
    The previous guards checked only ``codebooks[0]`` (r9 ADVICE), so a
    degenerate or ragged model — ``[[[]]]``, or subspaces with differing
    k/width — passed and silently NULL-coded or dropped every row
    instead of raising the loud ValueError the guard promises. Returns
    ``(m, k, sub)``."""
    if not codebooks or not all(codebooks):
        raise ValueError("codebooks must hold at least one non-empty "
                         "subspace codebook (pq_fit's output)")
    k = len(codebooks[0])
    sub = len(codebooks[0][0]) if codebooks[0][0] else 0
    if sub < 1:
        raise ValueError("codebook codewords must be non-empty vectors "
                         "(pq_fit's output)")
    for j, cb in enumerate(codebooks):
        if len(cb) != k:
            raise ValueError(
                f"codebook subspace {j} holds {len(cb)} codewords but "
                f"subspace 0 holds {k} — a pq_fit model has a uniform "
                "codeword count across subspaces")
        for i, c in enumerate(cb):
            if len(c) != sub:
                raise ValueError(
                    f"codebook subspace {j} codeword {i} has width "
                    f"{len(c)} but expected {sub} — a pq_fit model has "
                    "equal-width codewords across all subspaces")
    return len(codebooks), k, sub


def pq_codes(vec_col: Column,
             codebooks: list[list[list[float]]]) -> Column:
    """PQ encoding as a pure-Catalyst Column — the literal SEMANTIC TWIN
    of ``pq_encode``'s Arrow kernel (the ``centroid_cells`` /
    ``_assign`` relationship): per subspace, the code is the nearest
    codeword by squared L2 over the slice (sequential fold, ties to the
    lowest code id). Output ``array<int>`` of length m. NULL,
    wrong-dimension, and NULL-element vectors get a NULL code array
    (the sign_lsh_bucket contract — unservable rows drop from every
    downstream join). This form is the recipe the DuckDB oracles unroll
    (one extra assignment CTE per subspace against the fitted book);
    use the kernel for corpus-sized frames."""
    m, _, sub = _validate_codebooks(codebooks)
    dim = m * sub
    v = vec_col.cast("array<double>")
    parts = []
    for j, cb in enumerate(codebooks):
        sl = F.slice(v, j * sub + 1, sub)
        best = F.array_min(F.array(*[
            F.struct(_dist2(sl, c).alias("d2"), F.lit(i).alias("code"))
            for i, c in enumerate(cb)]))
        parts.append(best["code"])
    return F.when(well_formed_pred(vec_col, dim), F.array(*parts))


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """PQ encoding for a whole frame via the Arrow kernel — the
    production path (map-only ``mapInPandas``, the model closed over as
    m numpy matrices; per subspace one ``_nearest_blocks`` argmin over
    the slice, so parity with ``pq_codes``' literal folds is the
    ``_assign`` contract: dimension-ordered float64 accumulation,
    first-minimum ties). Returns exactly ``(vec_id, codes array<int>)``;
    rows the codec cannot key (NULL / wrong-dimension / NULL-element)
    are DROPPED, the ``centroid_cells_frame`` contract. At 100 TB this
    is the one pass that rewrites the wide embedding table into the
    m-byte code table every PQ serving scan reads instead."""
    import numpy as np

    m, _, sub = _validate_codebooks(codebooks)
    dim = m * sub
    Cs = [np.asarray(cb, dtype="float64") for cb in codebooks]
    vecs = (df.filter(well_formed_pred(vec_col, dim))
            .select(F.col(id_col).alias("vec_id"),
                    F.col(vec_col).cast("array<double>").alias("__v")))
    id_type = vecs.schema["vec_id"].dataType.simpleString()

    def kernel(batches):
        import pandas as pd
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _stack_batch(pdf, dim)
            codes = np.empty((len(pdf), m), dtype="int32")
            for j in range(m):
                best, _ = _nearest_blocks(V[:, j * sub:(j + 1) * sub],
                                          Cs[j])
                codes[:, j] = best
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "codes": list(codes)})

    return vecs.mapInPandas(kernel,
                            schema=f"vec_id {id_type}, codes array<int>")


def _lit_array2_sql(rows: list[list[float]]) -> str:
    """The SQL text of a finite 2-level double-array literal — shared by
    ``_lit_array2`` and the one-parse text builders."""
    inner = ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in r) + ")"
        for r in rows)
    return f"array({inner})"


def _lit_array2(rows: list[list[float]]) -> Column:
    """A 2-level double-array literal (array<array<double>>) in one Py4J
    round trip — ``_lit_array``'s nested sibling, used to embed a PQ
    subspace codebook for ``element_at`` lookup."""
    if all(math.isfinite(float(x)) for r in rows for x in r):
        return F.expr(_lit_array2_sql(rows))
    return F.array(*[_lit_array(r) for r in rows])


def pq_decode(codes_col: Column | str,
              codebooks: list[list[list[float]]]) -> Column:
    """Reconstruct the approximate vector from PQ codes: concatenation
    of each subspace's codeword (``array<double>`` of the full
    dimension). A NULL code array decodes to NULL (unservable rows stay
    unservable). CONTRACT: codes must come from ``pq_codes``/
    ``pq_encode`` with the SAME codebooks — an out-of-range code hits
    ``element_at`` past the codebook end, which THROWS under ANSI mode
    (loud, the right failure for a model/codes mismatch).

    Because subspaces partition the coordinates, any dot/norm fold over
    this reconstruction equals the sum of per-subspace folds — so
    cosine(query, decode(codes)) IS the asymmetric distance computation
    (ADC) of Jégou et al. 2011, just computed coordinate-wise instead
    of via per-query lookup tables; ``knn``'s ``PQ`` codec relies on
    this.

    Accepts a Column or a column NAME: the str form parses the whole
    decode in ONE Py4J round trip (identical tree — the per-subspace
    Column form costs one round trip per expression node and the finite
    codebooks are text-embeddable anyway; non-finite codebooks fall
    back to the Column path)."""
    _validate_codebooks(codebooks)
    if isinstance(codes_col, str) and all(
            math.isfinite(float(x)) for cb in codebooks for r in cb
            for x in r):
        ref = _qident(codes_col)
        parts = ", ".join(
            f"element_at({_lit_array2_sql(cb)}, {ref}[{j}] + 1)"
            for j, cb in enumerate(codebooks))
        return F.expr(f"CASE WHEN {ref} IS NOT NULL "
                      f"THEN concat({parts}) END")
    if isinstance(codes_col, str):
        codes_col = F.col(codes_col)
    parts = [F.element_at(_lit_array2(cb), codes_col.getItem(j) + 1)
             for j, cb in enumerate(codebooks)]
    return F.when(codes_col.isNotNull(), F.concat(*parts))


def kmeans_assign(df: DataFrame, k: int = 4, iters: int = 2,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  round_dp: int = 6) -> DataFrame:
    """Deterministic Lloyd k-means: fixed iteration count, init = the k
    lowest-id vectors, centroids ROUNDED to ``round_dp`` decimals after
    every mean update. Output: ``(vec_id, cluster, dist)`` — final
    assignment with Euclidean distance rounded to 6 dp.

    The rounding is the reproducibility contract, not a shortcut: a mean
    over a shuffled partitioning sums in nondeterministic order, so raw
    centroids differ in their last ulps run-to-run (and engine-to-engine);
    pinning them to a decimal grid makes the fitted model — and therefore
    every downstream assignment — bit-identical across runs and across
    the DuckDB oracle. Ties in the argmin go to the lowest cluster id.
    A cluster that loses all members keeps its previous centroid.
    NULL/empty/NULL-element vectors are excluded (see
    ``_well_formed_vectors``); the workload oracles mirror the exclusion.

    Scale shape: per iteration one MAP-ONLY assignment pass (the Arrow
    kernel — no join, no shuffle at any k; see ``_assign``), then one
    map-side-combined (cluster, dimension) average — k·dim result rows —
    is collected as the next model. Driver state is the model only (k·dim doubles, the
    same thing MLlib's trainer holds); the vectors themselves never
    leave the executors. CONSTRUCTION runs the fit's Spark jobs
    (iters aggregations), so workload entries must opt out of plan
    memoization (Query.memoize=False) — caching the built plan would
    skip the training cost on every pass after the first.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    vecs = _well_formed_vectors(df, vec_col, id_col)
    centroids = _fit(vecs, k, iters, round_dp)
    return (_assign(vecs, centroids, keep_vectors=False)
            .select("vec_id", "cluster",
                    F.round(F.sqrt("d2"), 6).alias("dist")))


def diversity_sample(df: DataFrame, quota: int, k: int = 4, iters: int = 2,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Cluster-quota diversity sampling: k-means the embedding space
    (``kmeans_assign`` — deterministic, fixed iterations), then keep
    ``quota`` vectors per cluster chosen by md5-hash order of the id.
    Output: ``(vec_id, cluster, pick_rank)``, pick_rank 1..quota.

    This is the diversification step of cluster-based curation: a uniform
    sample over-represents the corpus's dense modes, while a per-cluster
    quota flattens the distribution across semantic regions (the
    SSL-prototype / cluster-balancing recipe). The hash pick is
    DETERMINISTIC — md5 of the decimal id, ties (impossible for distinct
    ids) broken by id — so the sample is reproducible and engine-portable,
    the same contract as curation.split_dataset's md5 bucketing.

    Scale: the fit is kmeans_assign's (bounded model state); the pick is
    one row_number window per cluster. Window partitions are cluster-sized
    — for heavily skewed cluster histograms swap in
    operators.skew.salted_top_n, same total order.
    """
    if quota < 1:
        raise ValueError("quota must be >= 1")
    from pyspark.sql import Window
    assigned = kmeans_assign(df, k=k, iters=iters,
                             vec_col=vec_col, id_col=id_col)
    w = Window.partitionBy("cluster").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id")
    return (assigned
            .withColumn("pick_rank", F.row_number().over(w).cast("int"))
            .filter(F.col("pick_rank") <= quota)
            .select("vec_id", "cluster", "pick_rank"))


#: Per-cluster population cap for semdedup's pair expansion — same
#: conservative semantics as operators.similarity.DEFAULT_MAX_CELL (rows in
#: an over-cap cluster stay their own canonicals rather than risking a
#: quadratic pair join inside one task). SemDeDup sizes k so clusters hold
#: ~corpus/k vectors; the cap is the guard for the skewed histogram where
#: one centroid captures a constant fraction of the corpus.
DEFAULT_MAX_CLUSTER = 10_000


def semdedup(df: DataFrame, k: int = 4, iters: int = 2,
             threshold: float = 0.95,
             vec_col: str = "embedding", id_col: str = "vec_id",
             max_iters: int = 10,
             max_cluster: int | None = DEFAULT_MAX_CLUSTER) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) as ONE composed operator: k-means the
    embedding space (deterministic fit, ``kmeans_fit``), then collapse
    cosine near-duplicates WITHIN each cluster to their min-id canonical
    via connected components. Returns ``(vec_id, cluster, canonical_id)``;
    keep one row per canonical_id to dedup.

    This is the trained-quantizer sibling of
    ``operators.similarity.semantic_dedup`` (which buckets by a fixed
    grid): identical collapse semantics, but the partition function is the
    fitted k-means model, so bucket populations track the corpus's actual
    density modes instead of axis-aligned cells. Same accepted trade:
    near-dups straddling a cluster boundary are missed, for linear cost.

    Plan shape (r8): the fit collects the k·dim model (bounded driver
    state, kmeans_fit's contract), then ONE corpus pass — the assignment
    projection feeding a ``groupBy(cluster).applyInPandas`` kernel that
    compares, links, and collapses each cluster LOCALLY. The k-means
    partition function is what makes this correct: every near-dup pair
    shares a cluster BY CONSTRUCTION, so connected components can never
    span tasks and the distributed pair join + iterative min-label
    closure the operator previously composed (O(diameter) count/
    checkpoint rounds — measured as ~60% of q79's wall at bench scale,
    pure scheduler overhead) degenerates to a task-local union-find.
    One shuffle on the cluster key replaces [pair-join + 2 closure-seed
    jobs + a count job per propagation round + the final join]; the
    same single-shuffle shape a 1000-executor run wants, since every
    eliminated round was a full-cluster barrier.

    The kernel is Arrow-batched and vectorized, and stays bit-compatible
    with the DuckDB oracle and the previous Catalyst fold: norms and
    pairwise dots accumulate SEQUENTIALLY OVER DIMENSIONS (vectorized
    across pairs — ``acc = acc + u[:, d] * u[j, d]`` in dimension order),
    the exact left-fold ``list_reduce``/``F.aggregate`` computes, so the
    doubles agree bit-for-bit pre-rounding; zero-norm vectors become
    all-zero unit vectors (cosine 0.0, the cosine_col contract). The
    threshold compares the dot ROUNDED to 6 dp with Spark's
    ``F.round`` semantics — ``BigDecimal.valueOf`` (shortest decimal
    representation, == Python ``repr``) then HALF_UP — applied exactly
    only inside the ±1e-6 band around the threshold where rounding can
    change the verdict; everything outside the band is decided by the
    raw comparison (rounding moves a value by at most 5e-7).

    Parallelism note, unchanged from the join shape: there are only k
    distinct cluster ids, so at most k tasks carry the quadratic stage —
    size k with the corpus (SemDeDup's paper setting is thousands for
    100M+ docs). ``max_cluster`` is the skew guard: an over-cap cluster
    skips pairwise comparison entirely (its rows stay their own
    canonicals — the conservative keep-everything direction). The
    kernel's memory is |cluster|·dim doubles plus one ``block × |cluster|``
    score panel (block=1024 rows), both bounded by the cap — strictly
    less than the n² pair rows the join shape funneled through the same
    task. ``max_iters`` is retained for API compatibility and ignored:
    union-find is exact, there is no propagation loop left to bound."""
    # same exclusion set as kmeans_assign (NULL / empty / NULL-element):
    # the id universe and the fit must agree on what is clusterable
    vecs = _well_formed_vectors(df, vec_col, id_col)
    centroids = _fit(vecs, k, iters, round_dp=6)
    id_type = vecs.schema["vec_id"].dataType.simpleString()
    thr = float(threshold)
    cap = max_cluster

    def collapse(pdf):
        import numpy as np
        import pandas as pd
        from decimal import Decimal, ROUND_HALF_UP

        n = len(pdf)
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        cluster = pdf["cluster"].to_numpy().astype("int32")
        if (cap is not None and n > cap) or n < 2:
            return pd.DataFrame({"vec_id": ids, "cluster": cluster,
                                 "canonical_id": ids})
        V = np.stack(pdf["__v"].to_numpy()).astype("float64")
        dim = V.shape[1]
        # norm = sqrt(sequential fold of squares): fold order pinned by
        # looping dimensions, vectorized across rows
        acc = np.zeros(n)
        for dd in range(dim):
            x = V[:, dd]
            acc = acc + x * x
        nrm = np.sqrt(acc)
        unit = V / np.where(nrm > 0, nrm, 1.0)[:, None]
        unit[nrm == 0] = 0.0
        parent = list(range(n))

        def find(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        block = 1024
        for s in range(0, n, block):
            e = min(s + block, n)
            dots = np.zeros((e - s, n))
            for dd in range(dim):
                dots = dots + unit[s:e, dd:dd + 1] * unit[:, dd][None, :]
            linked = dots >= thr + 1e-6
            band = np.abs(dots - thr) <= 1e-6
            # strict upper triangle only: sorted ids make index order ==
            # id order, so the union-by-min below lands on the min ID
            upper = np.arange(s, e)[:, None] < np.arange(n)[None, :]
            for bi, j in zip(*np.where(band & upper)):
                r6 = float(Decimal(repr(float(dots[bi, j]))).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP))
                linked[bi, j] = r6 >= thr
            for bi, j in zip(*np.where(linked & upper)):
                ri, rj = find(s + int(bi)), find(int(j))
                if ri != rj:
                    if ri < rj:
                        parent[rj] = ri
                    else:
                        parent[ri] = rj
        roots = [find(i) for i in range(n)]
        return pd.DataFrame({"vec_id": ids, "cluster": cluster,
                             "canonical_id": ids[roots]})

    # Explicit hash repartition on the cluster key before the grouped
    # kernel: the assignment output is tiny in BYTES, so AQE size-based
    # coalescing would otherwise run every cluster's quadratic kernel on
    # 1-2 tasks; a user-specified partition count is exempt, satisfies
    # the groupBy's clustered distribution (no second exchange), and up
    # to min(k, n_parts) tasks carry the kernels.
    from ..session import shuffle_partitions
    spark = df.sparkSession
    n_parts = min(shuffle_partitions(spark),
                  4 * spark.sparkContext.defaultParallelism)
    return (_assign(vecs, centroids)
            .select("vec_id", "cluster", "__v")
            .repartition(n_parts, F.col("cluster"))
            .groupBy("cluster")
            .applyInPandas(collapse,
                           schema=f"vec_id {id_type}, cluster int, "
                                  f"canonical_id {id_type}"))


def _cov_partials(vecs: DataFrame, dim: int) -> DataFrame:
    """One map-only kernel pass emitting per-partition covariance
    PARTIAL SUMS as a tiny frame — the ``_assign_mean_partials`` shape
    applied to second moments: for each partition, the upper triangle
    of Σ x·xᵀ as ``(i, j, s)`` rows (dim·(dim+1)/2 of them), the row
    sums Σ x_i as ``(i, -1, s)``, and the count as ``(-1, -1, n)``.
    Downstream combination is a groupBy over ≤ dim² keys — the corpus
    never moves, only the bounded moment matrix does (the exact shape
    a 1000-executor covariance pass wants)."""
    import numpy as np

    def kernel(batches):
        import pandas as pd
        S = np.zeros((dim, dim))
        s = np.zeros(dim)
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _stack_batch(pdf, dim)
            S += V.T @ V
            s += V.sum(axis=0)
            n += len(V)
        if n == 0:
            return
        iu, ju = np.triu_indices(dim)
        yield pd.DataFrame({
            "i": np.concatenate([iu, np.arange(dim), [-1]]).astype("int32"),
            "j": np.concatenate([ju, np.full(dim, -1), [-1]]).astype("int32"),
            "s": np.concatenate([S[iu, ju], s, [float(n)]]),
        })

    return vecs.select("__v").mapInPandas(
        kernel, schema="i int, j int, s double")


def _cov_moments(df: DataFrame, vec_col: str, id_col: str, who: str):
    """ONE corpus pass → the bounded raw moments ``(n, s, S)`` on the
    driver: the moment-kernel partials combine in a groupBy over
    ≤ dim² keys and the collect is moment-matrix-sized (the k-means
    seed / codebook class of driver materialization — bounded by dim,
    never by the corpus). Shared by ``covariance_frame`` and
    ``pca_fit`` so the corpus is scanned exactly once per caller (a
    referenced-three-ways lazy frame would re-run the kernel per
    subtree — the r11 plan audit caught exactly that)."""
    import numpy as np

    vecs = _well_formed_vectors(df, vec_col, id_col)
    first = vecs.select(F.size("__v")).first()
    if first is None:
        raise ValueError(f"{who}: no well-formed vectors")
    dim = int(first[0])
    rows = (_cov_partials(vecs, dim)
            .groupBy("i", "j").agg(F.sum("s").alias("s")).collect())
    S = np.zeros((dim, dim))
    s = np.zeros(dim)
    n = 0.0
    for r in rows:
        if r["i"] == -1:
            n = r["s"]
        elif r["j"] == -1:
            s[r["i"]] = r["s"]
        else:
            S[r["i"], r["j"]] = r["s"]
            S[r["j"], r["i"]] = r["s"]
    return n, s, S


def pca_moments(df: DataFrame, vec_col: str = "embedding",
                id_col: str = "vec_id") -> dict:
    """The PCA family's SUFFICIENT STATISTIC as a plain
    JSON-serializable dict ``{"n", "s", "S"}`` (count, coordinate sums,
    raw second-moment matrix) — ONE corpus pass, moment-matrix-sized.

    This is the incremental-maintenance handle (the rollup/HLL pattern
    of operators/incremental.py applied to the covariance): moments are
    EXACTLY additive, so a pipeline persists them beside the corpus,
    folds each append's delta with ``merge_moments`` (driver-side, no
    rescan of history), and refits via ``pca_fit_from_moments`` — the
    same lifecycle as the IVF index's frozen-model refresh + drift-
    triggered refit, with the refit itself now costing O(delta) instead
    of a full-history scan. Unrounded on purpose: the grid is applied
    at FIT time, so merge order never compounds rounding."""
    n, s, S = _cov_moments(df, vec_col, id_col, "pca_moments")
    return {"n": float(n), "s": [float(x) for x in s],
            "S": [[float(x) for x in row] for row in S]}


def merge_moments(*moments: dict) -> dict:
    """Additive fold of ``pca_moments`` outputs (driver-side, bounded).
    Dimensions must agree — a ragged merge is a loud contract error,
    mirroring ``_stack_batch``."""
    import numpy as np

    if not moments:
        raise ValueError("merge_moments: nothing to merge")
    dims = {len(m["s"]) for m in moments}
    if len(dims) != 1:
        raise ValueError(
            f"merge_moments: moment dimensions differ ({sorted(dims)}) "
            "— all inputs must come from the same embedding space")
    n = sum(m["n"] for m in moments)
    s = np.sum([m["s"] for m in moments], axis=0)
    S = np.sum([m["S"] for m in moments], axis=0)
    return {"n": float(n), "s": [float(x) for x in s],
            "S": [[float(x) for x in row] for row in S]}


def _moments_cov(moments: dict, round_dp: int):
    """(mean, covariance) on the reproducibility grid from raw moments."""
    import numpy as np

    n = moments["n"]
    if n <= 0:
        raise ValueError("moments hold no rows")
    s = np.asarray(moments["s"], dtype="float64")
    S = np.asarray(moments["S"], dtype="float64")
    mu = s / n
    mean = np.round(mu, round_dp)
    cov = np.round(S / n - np.outer(mu, mu), round_dp)
    return mean, cov


def covariance_frame_from_moments(spark, moments: dict,
                                  round_dp: int = 6) -> DataFrame:
    """``covariance_frame``'s emit step over pre-folded moments — the
    incremental path's output surface (certified against the full-
    corpus DuckDB oracle as q97)."""
    import numpy as np

    _, cov = _moments_cov(moments, round_dp)
    cov = cov + 0.0  # collapse IEEE negative zero (string-compares !=)
    dim = cov.shape[0]
    iu, ju = np.triu_indices(dim)
    from ..session import local_frame
    return local_frame(
        spark,
        [(int(i), int(j), float(cov[i, j])) for i, j in zip(iu, ju)],
        "i int, j int, cov double").orderBy("i", "j")


def correlation_frame(df: DataFrame, vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      round_dp: int = 6) -> DataFrame:
    """``covariance_frame`` normalized to Pearson correlations: one row
    per upper-triangle cell ``(i, j, corr)`` with
    ``corr_ij = cov_ij / √(cov_ii · cov_jj)`` — the scale-free
    redundancy measure (a |corr| near 1 flags a coordinate pair one of
    which a reduction can drop outright, where raw covariance conflates
    redundancy with magnitude). Same cost shape as the covariance: ONE
    corpus moment pass, bounded driver fold. Derived from the
    GRID-ROUNDED covariances (each cov cell rounds to ``round_dp``
    first, then the ratio rounds again — the oracle mirrors both
    roundings, so the two engines divide identical numerators by
    identical denominators); a cell whose own variance rounds to zero
    on the grid has no defined correlation and emits NULL (the
    diagonal of such a coordinate also NULLs rather than claiming
    1.0)."""
    import numpy as np

    n, s, S = _cov_moments(df, vec_col, id_col, "correlation_frame")
    dim = len(s)
    mu = s / n
    cov = np.round(S / n - np.outer(mu, mu), round_dp)
    var = np.diag(cov).copy()
    iu, ju = np.triu_indices(dim)
    rows = []
    for i, j in zip(iu, ju):
        if var[i] <= 0 or var[j] <= 0:
            rows.append((int(i), int(j), None))
        else:
            rows.append((int(i), int(j),
                         float(np.round(cov[i, j]
                                        / np.sqrt(var[i] * var[j]),
                                        round_dp) + 0.0)))
    from ..session import local_frame
    return local_frame(df.sparkSession, rows,
                       "i int, j int, corr double").orderBy("i", "j")


def covariance_frame(df: DataFrame, vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     round_dp: int = 6) -> DataFrame:
    """The corpus covariance matrix as a DataFrame: one row per upper-
    triangle cell ``(i, j, cov)`` (0-based, i <= j), where
    ``cov_ij = E[x_i x_j] − E[x_i]E[x_j]`` over the well-formed vectors
    — ONE corpus pass (``_cov_moments``) and a moment-matrix-sized
    driver fold; the corpus itself never shuffles and never lands on
    the driver. Values round to ``round_dp`` (the family's
    reproducibility grid: partial-sum order is nondeterministic across
    partitions, and the DuckDB oracle folds its own order), with IEEE
    negative zero collapsed (``-0.0`` string-compares unequal to
    ``0.0``). This is both ``pca_fit``'s input and a data-profiling
    artifact in its own right (feature redundancy / near-constant
    coordinates show up directly)."""
    return covariance_frame_from_moments(
        df.sparkSession, pca_moments(df, vec_col, id_col), round_dp)


def pca_fit(df: DataFrame, k: Optional[int] = None,
            vec_col: str = "embedding", id_col: str = "vec_id",
            round_dp: int = 6, whiten: bool = False
            ) -> tuple[list[float], list[list[float]], list[float]]:
    """Deterministic PCA fit: ``(mean, components, explained_variance)``
    — the dimensionality-reduction stage an embedding pipeline runs
    before LSH/IVF indexing (project to the top-k variance directions,
    then bucket in the cheaper space).

    Spark shape: ONE map-only corpus pass collects the bounded moment
    matrix (``_cov_partials`` — dim² partial sums per partition, the
    corpus itself never shuffles), the driver assembles the rounded
    covariance and eigendecomposes it (``numpy.linalg.eigh`` on a
    dim×dim symmetric matrix — bounded work, the same driver-side step
    class as k-means seed collection), and the k strongest eigenvectors
    ship back as plain Python lists for ``pca_project``'s map-only
    kernel. Exactly the kmeans_fit/pq_fit model contract: bounded model
    out, corpus-sized data never on the driver.

    Determinism: covariance and mean round to ``round_dp`` BEFORE the
    eigendecomposition (distributed partial-sum order is
    nondeterministic — the family's standing grid rule), eigenvalues
    sort descending with ties broken toward the earlier index, each
    component's sign is normalized so its largest-|coordinate| entry
    (first such index on ties) is positive, and components/explained
    round to ``round_dp`` on the way out. The eigendecomposition itself
    is NOT SQL-re-derivable (unlike the Lloyd fits), so its contracts
    are pytest-pinned — orthonormality, numpy-reference parity,
    variance accounting — rather than oracle-certified; the covariance
    input IS oracle-certified (``covariance_frame``).

    ``whiten=True`` rescales each component by 1/√eigenvalue so the
    projected coordinates have unit variance (the SemDeDup /
    cosine-in-reduced-space preprocessing). The scaling is applied to
    the MODEL (components), so both projection paths stay bit-identical
    with no extra parameter; directions whose variance rounds to zero
    on the grid fail loudly (past the data's effective rank)."""
    n, s, S = _cov_moments(df, vec_col, id_col, "pca_fit")
    return pca_fit_from_moments(
        {"n": float(n), "s": [float(x) for x in s],
         "S": [[float(x) for x in row] for row in S]},
        k=k, round_dp=round_dp, whiten=whiten)


def pca_fit_from_moments(moments: dict, k: Optional[int] = None,
                         round_dp: int = 6, whiten: bool = False
                         ) -> tuple[list[float], list[list[float]],
                                    list[float]]:
    """``pca_fit``'s driver-side half over pre-folded moments — the
    incremental REFIT: maintain ``pca_moments`` additively beside the
    corpus (``merge_moments`` per append, O(delta) each), and refit
    the model from the running sufficient statistic without ever
    rescanning history. Identical determinism contract to ``pca_fit``
    (same grid, ordering, sign, whiten semantics) — and since the
    grid is applied HERE, merge order never compounds rounding: a
    merged-moments fit matches the monolithic fit up to grid-edge
    summation ties (test-pinned)."""
    import numpy as np

    mean, cov = _moments_cov(moments, round_dp)
    dim = len(mean)
    if k is None:
        k = dim
    if not 1 <= k <= dim:
        raise ValueError(f"k must be within [1, {dim}]")
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(-evals, kind="stable")[:k]
    comps = evecs[:, order].T
    # sign convention: the largest-|coordinate| entry (first index on
    # ties) is positive — eigh's sign is arbitrary per eigenvector
    for w in comps:
        j = int(np.argmax(np.abs(w)))
        if w[j] < 0:
            np.negative(w, out=w)
    explained = np.round(evals[order], round_dp)
    if whiten:
        # scale the MODEL, not the projection — both projection paths
        # (kernel and Catalyst twin) then stay bit-identical for free.
        # A direction whose variance rounds to 0 on the grid cannot be
        # whitened (1/sqrt(0)): that k is past the data's effective
        # rank — fail loudly instead of emitting infinities.
        if any(v <= 0 for v in explained):
            bad = sum(1 for v in explained if v <= 0)
            raise ValueError(
                f"pca_fit: whiten=True but {bad} of the top-{k} "
                f"directions have zero variance on the {round_dp}dp "
                "grid — reduce k below the data's effective rank")
        comps = comps / np.sqrt(explained)[:, None]
    comps = np.round(comps, round_dp)
    return (mean.tolist(), comps.tolist(), explained.tolist())


def moments_drift_report(reference: dict, current: dict,
                         round_dp: int = 6) -> dict:
    """Distribution-shift telemetry between two moment sets — the PCA
    family's drift signal, mirroring ``ivf_pq_index_drift``'s role for
    the ANN family: a streaming pipeline keeps a frozen REFERENCE
    statistic (the one its serving model was fitted on) beside the
    RUNNING statistic ``streaming_moments_sink`` maintains, and this
    report prices how far the corpus has moved — the signal that
    triggers ``pca_fit_from_moments`` refits (and, transitively,
    re-quantization of anything fitted in the projected space).

    Metrics (all on the family's ``round_dp`` grid, derived purely from
    the two bounded moment sets — no corpus access):
    ``n_reference`` / ``n_current`` row counts, ``mean_shift_l2`` (L2
    norm of the mean difference — translation drift), ``cov_fro_delta``
    (Frobenius norm of the covariance difference — shape drift), and
    ``trace_ratio`` (total-variance ratio current/reference — scale
    drift; 1.0 = unchanged). Each covariance is rounded to the grid
    BEFORE differencing, exactly as ``covariance_frame`` emits it, so
    the report is re-derivable from the raw vectors by an external
    engine (oracle-certified as q99)."""
    import numpy as np

    mean_a, cov_a = _moments_cov(reference, round_dp)
    mean_b, cov_b = _moments_cov(current, round_dp)
    if cov_a.shape != cov_b.shape:
        raise ValueError(
            f"moments_drift_report: dimensions differ "
            f"({cov_a.shape[0]} vs {cov_b.shape[0]}) — both moment "
            "sets must come from the same embedding space")
    tr_a = float(np.trace(cov_a))
    if tr_a <= 0:
        raise ValueError("moments_drift_report: reference moments have "
                         "zero total variance")
    return {
        "n_reference": float(reference["n"]),
        "n_current": float(current["n"]),
        "mean_shift_l2": round(
            float(np.sqrt(np.sum((mean_b - mean_a) ** 2))), round_dp),
        "cov_fro_delta": round(
            float(np.sqrt(np.sum((cov_b - cov_a) ** 2))), round_dp),
        "trace_ratio": round(float(np.trace(cov_b)) / tr_a, round_dp),
    }


def rp_components(dim: int, out_dim: int, seed: str = "jl"
                  ) -> list[list[float]]:
    """A deterministic Johnson–Lindenstrauss sign-projection model:
    ``out_dim`` rows of ``±1/√out_dim`` weights, the sign of weight
    (p, d) drawn from a bit of ``md5(seed:p:d)`` — exactly
    ``hashed_projection_bucket``'s plane recipe (similarity.py) WITHOUT
    the thresholding, so the projection keeps magnitudes instead of
    collapsing to a bucket string (Achlioptas 2003: ±1 entries satisfy
    the JL distance-preservation lemma; the 1/√out_dim scale makes
    squared distances unbiased).

    This is the DATA-INDEPENDENT reduction next to ``pca_fit``'s
    data-derived one — no fit pass, no moments, no refit lifecycle; the
    model is a pure function of ``(dim, out_dim, seed)``. Two
    consequences at scale: a streaming pipeline can project from row
    one (nothing to train), and the model is STATIC — so unlike the
    eigendecomposition, the full projection chain is SQL-re-derivable
    and oracle-certified end to end (q98), which also certifies the
    shared ``pca_project`` kernel it runs through. Plug the output
    straight into ``pca_project`` / ``pca_project_expr`` / ``knn``'s
    ``Projection`` codec with ``mean=[0.0]*dim``."""
    import hashlib
    import math

    if out_dim < 1 or dim < 1:
        raise ValueError("rp_components: dim and out_dim must be >= 1")
    scale = 1.0 / math.sqrt(out_dim)
    return [[scale if hashlib.md5(f"{seed}:{p}:{d}".encode())
             .digest()[0] & 1 else -scale
             for d in range(dim)]
            for p in range(out_dim)]


def pca_project_expr(vec: Column | str, mean: list[float],
                     components: list[list[float]]) -> Column:
    """The pure-Catalyst semantic twin of ``pca_project``'s kernel: the
    k-array of sequential folds ``y_j = Σ_d (x_d − mean_d)·W_jd`` —
    embeddable anywhere, and the recipe an external SQL engine would
    unroll. Interpreted per (row, component); use the kernel frame for
    corpus-sized sides (``centroid_cells`` vs ``centroid_cells_frame``,
    the same split).

    Accepts a Column or a column NAME (str, cast to array<double>
    inside): a finite model renders the whole k-fold tree as SQL text
    parsed in ONE Py4J round trip — at k=32 the 65 lambda HOFs of the
    Column form dominated the caller's per-pass plan construction (r11
    optimization round; identical tree, bit-identical doubles)."""
    if isinstance(vec, str) and all(
            math.isfinite(float(x)) for x in mean) and all(
            math.isfinite(float(x)) for w in components for x in w):
        ref = f"CAST({_qident(vec)} AS ARRAY<DOUBLE>)"
        centered = (f"zip_with({ref}, {_lit_array_sql(mean)}, "
                    f"(x, m) -> x - m)")
        folds = ", ".join(
            f"aggregate(zip_with({centered}, {_lit_array_sql(w)}, "
            f"(c, ww) -> c * ww), 0.0D, (a, x) -> a + x)"
            for w in components)
        return F.expr(f"array({folds})")
    if isinstance(vec, str):
        vec = F.col(vec).cast("array<double>")
    centered = F.zip_with(vec, _lit_array(mean), lambda x, m: x - m)
    return F.array(*[
        F.aggregate(F.zip_with(centered, _lit_array(w),
                               lambda c, ww: c * ww),
                    F.lit(0.0), lambda a, x: a + x)
        for w in components])


def pca_project(df: DataFrame, mean: list[float],
                components: list[list[float]],
                vec_col: str = "embedding", id_col: str = "vec_id",
                out_col: str = "projection") -> DataFrame:
    """Map-only PCA projection: ``(id_col, out_col)`` with ``out_col``
    the k-dim array ``W (x − mean)`` — the Arrow-kernel production form
    (one ``mapInPandas`` pass, model closed over as numpy matrices),
    bit-identical to ``pca_project_expr``'s sequential folds
    (dimension-ordered float64 accumulation — the family's parity
    recipe, test-pinned). Unservable rows (NULL / wrong-dimension /
    NULL-element) DROP — the quantizer-family keying contract
    (``centroid_cells_frame``'s rule)."""
    import numpy as np

    W = np.asarray(components, dtype="float64")
    mu = np.asarray(mean, dtype="float64")
    kk, dim = W.shape
    if mu.shape[0] != dim:
        raise ValueError(
            f"pca_project: mean dimension {mu.shape[0]} != components' "
            f"{dim} — the model pair must come from one pca_fit")
    vecs = (_well_formed_vectors(df, vec_col, id_col)
            .filter(F.size("__v") == dim))
    id_type = vecs.schema["vec_id"].dataType.simpleString()

    def kernel(batches):
        import pandas as pd
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _stack_batch(pdf, dim)
            acc = np.zeros((V.shape[0], kk))
            for d in range(dim):
                acc += (V[:, d] - mu[d])[:, None] * W[None, :, d]
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "projection": list(acc),
            })

    return (vecs.mapInPandas(
        kernel, schema=f"vec_id {id_type}, projection array<double>")
        .select(F.col("vec_id").alias(id_col),
                F.col("projection").alias(out_col)))
