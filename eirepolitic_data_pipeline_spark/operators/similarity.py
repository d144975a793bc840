"""Embedding similarity search over an ``array<float>`` column: one
``knn`` retriever composed from a codec (stored, int8, PQ, IVF-PQ or a
projection), an optional coarse quantizer (sign-LSH, grid cells, trained
centroids, an index's stored cells) and an optional exact re-rank; its
recall telemetry; and the persisted IVF-PQ index lifecycle.

``cosine_col``'s dot/norm folds are pure Catalyst higher-order functions
(zip_with / aggregate) — the semantic contract the DuckDB oracles mirror.
Pair scoring and corpus-sized index builds (cells, codes, projections)
run as map-only Arrow kernels, parity-pinned to their pure-Catalyst
literal twins.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .vectors import IVFPQModel


def _finite2(rows: list[list[float]]) -> bool:
    """True when every value of a 2-level model is finite — the
    precondition for embedding it as repr-exact SQL text literals (the
    text builders' guard; non-finite models fall back to the Column
    path, which encodes them losslessly)."""
    import math
    return all(math.isfinite(float(x)) for r in rows for x in r)


def _sum_sql(arr_sql: str) -> str:
    """Sequential left-to-right double fold of an array SQL fragment —
    ``vectors._fold_sum``'s text twin."""
    return f"aggregate({arr_sql}, 0.0D, (acc, x) -> acc + x)"


def cosine_col(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two array<double> columns (sequential fold).

    Zero-norm vectors score 0.0 ("orthogonal to everything"), not NaN:
    Spark orders NaN ABOVE every real number, so a single all-zero
    embedding would otherwise rank as the TOP neighbor of every query in
    the descending top-k windows downstream.

    Accepts Columns or column NAMES: two names parse the whole
    expression in ONE Py4J round trip instead of the ~150 the three
    lambda folds cost (r11 optimization round; identical analyzed tree
    and bit-identical doubles — the text lambdas are the same
    LambdaFunction nodes)."""
    if isinstance(a, str) and isinstance(b, str):
        from .vectors import _qident
        ra, rb = _qident(a), _qident(b)
        dot = _sum_sql(f"zip_with({ra}, {rb}, (x, y) -> x * y)")
        na = _sum_sql(f"transform({ra}, x -> x * x)")
        nb = _sum_sql(f"transform({rb}, x -> x * x)")
        return F.expr(f"CASE WHEN ({na} > 0) AND ({nb} > 0) "
                      f"THEN {dot} / (SQRT({na}) * SQRT({nb})) "
                      f"ELSE 0.0D END")
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    nb = F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    return F.when((na > 0) & (nb > 0),
                  dot / (F.sqrt(na) * F.sqrt(nb))).otherwise(F.lit(0.0))


def _scored_pairs_kernel(paired: DataFrame, a_id: str, b_id: str,
                         a_vec: str, b_vec: str,
                         out_col: str = "cosine") -> DataFrame:
    """Score an already-joined pair frame ``(a_id, b_id, a_vec, b_vec)``
    with an Arrow numpy kernel, FLOAT-IDENTICAL to
    ``cosine_col(a_vec, b_vec)`` (r12 optimization round, guide §4):
    the interpreted per-element HOF folds are the dominant per-row cost
    of every online serving stage 1 — at |queries|·|bucket| pairs the
    Catalyst ``aggregate``/``zip_with`` tree evaluates one expression
    node per element per row, where this kernel runs three
    dimension-ordered float64 accumulations per Arrow batch. The join
    that produced ``paired`` is untouched (broadcast joins stay
    map-side); only the scoring projection moves into the kernel.

    Bit-parity recipe (``_batch_stage1_kernel``'s proven one): dot and
    both norms accumulate dimension-by-dimension in float64 — exactly
    the sequential zip_with fold's float sequence — the final
    ``dot / (sqrt(na) * sqrt(nb))`` is the same two ops, and the guard
    mirrors Catalyst's ``CASE WHEN na > 0 AND nb > 0`` INCLUDING its
    NaN rule (Spark orders NaN above every real, so ``NaN > 0`` is
    TRUE and an NaN-element vector scores NaN, never 0.0).

    Malformed rows take a per-row slow path that reproduces the
    expression's NULL algebra exactly: a NULL vector or NULL element
    nulls its norm fold, failing the CASE guard to 0.0; two well-formed
    vectors of DIFFERENT lengths null the zip_with dot (Catalyst pads
    with NULL) and score NULL under a passing guard. ``mapInArrow``,
    not ``mapInPandas``: the pandas bridge collapses a NULL list
    element to NaN, erasing exactly the NULL-vs-NaN distinction the
    parity above depends on — Arrow validity masks keep it. The fast
    path covers every batch whose vectors are rectangular and
    NULL-free — the only shape real corpora have."""
    import math

    import numpy as np

    a_t = paired.schema[a_id].dataType.simpleString()
    b_t = paired.schema[b_id].dataType.simpleString()

    def _slow_row(q, x):
        def fold_sq(v):
            if v is None:
                return None
            acc = 0.0
            for e in v:
                if e is None:
                    return None
                acc += float(e) * float(e)
            return acc

        na, nb = fold_sq(q), fold_sq(x)
        # CASE WHEN (na > 0) AND (nb > 0) with Spark's NaN-above-all
        # ordering (NaN > 0 is TRUE); a NULL norm fails the guard to 0.0
        ok = ((na is not None and (na > 0 or na != na))
              and (nb is not None and (nb > 0 or nb != nb)))
        if not ok:
            return 0.0
        if len(q) != len(x):
            return None  # zip_with pads with NULL -> NULL dot
        acc = 0.0
        for qe, xe in zip(q, x):
            acc += float(qe) * float(xe)
        return acc / (math.sqrt(na) * math.sqrt(nb))

    def _flat_matrix(col, n):
        """(n, dim) float64 view of a NULL-free uniform-length
        list<double> Arrow array, or None when the shape disqualifies
        the fast path."""
        if col.null_count != 0:
            return None
        flat = col.flatten()
        if flat.null_count != 0 or n == 0:
            return None
        vals = flat.to_numpy(zero_copy_only=False)
        if len(vals) % n != 0:
            return None
        dim = len(vals) // n
        import pyarrow.compute as pc
        lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
        if lens.min() != dim or lens.max() != dim:
            return None
        return vals.reshape(n, dim)

    def kernel(batches):
        import pyarrow as pa
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            idx = {name: i for i, name in enumerate(rb.schema.names)}
            ca, cb = rb.column(idx[a_vec]), rb.column(idx[b_vec])
            ia, ib = rb.column(idx[a_id]), rb.column(idx[b_id])
            Q = _flat_matrix(ca, n)
            X = _flat_matrix(cb, n)
            if Q is None or X is None or Q.shape[1] != X.shape[1]:
                cos = pa.array(
                    [_slow_row(q, x)
                     for q, x in zip(ca.to_pylist(), cb.to_pylist())],
                    type=pa.float64())
                yield pa.RecordBatch.from_arrays(
                    [ia, ib, cos], names=[a_id, b_id, out_col])
                continue
            dim = Q.shape[1]
            # dimension-ordered float64 accumulation: cosine_col's fold
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for d in range(dim):
                dot += Q[:, d] * X[:, d]
                na += Q[:, d] * Q[:, d]
                nb += X[:, d] * X[:, d]
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = dot / (np.sqrt(na) * np.sqrt(nb))
            good = ((np.greater(na, 0) | np.isnan(na))
                    & (np.greater(nb, 0) | np.isnan(nb)))
            cos = np.where(good, cos, 0.0)
            yield pa.RecordBatch.from_arrays(
                [ia, ib, pa.array(cos, type=pa.float64())],
                names=[a_id, b_id, out_col])

    return (paired.select(a_id, b_id, a_vec, b_vec)
            .mapInArrow(kernel, schema=f"{a_id} {a_t}, {b_id} {b_t}, "
                                       f"{out_col} double"))


def sign_lsh_bucket(vec_col: Column | str, n_bits: int = 8) -> Column:
    """Axis-aligned hyperplane LSH: bucket = sign bits of the first n dims.
    Cheap, deterministic, engine-independent. For better-distributed planes
    use hashed_projection_bucket below.

    A NULL — or shorter-than-``n_bits`` (including EMPTY) — vector gets a
    NULL bucket, so every bucket equi-join drops it (a missing or
    malformed embedding is not a candidate for anything). Without the
    NULL guard, each bit's NULL comparison falls to the otherwise('0')
    branch and NULL vectors silently collect in the all-zeros bucket as
    live candidates (review r6 — the oracles exclude NULL embeddings, so
    the all-zeros bucket would certify only while the fixture's top-k
    happens not to reach a NULL row). The size guard (r7, ADVICE
    follow-through) covers the empty/short leg: under ANSI mode
    ``getItem`` on an out-of-range index THROWS (one zero-length row
    would kill a 100 TB job), and pre-ANSI it NULLed into the same
    all-zeros pooling. CaseWhen branches evaluate lazily per row, so the
    guarded concat never touches an out-of-range index.

    A NULL ELEMENT among the first n_bits coordinates votes '0'
    deterministically (NULL >= 0 falls to the otherwise branch) — the
    same arbitrary-but-mirrored choice the oracles' CASE makes, so both
    engines bucket such a vector identically. Unlike the IVF cell path
    (where a skipped NULL coordinate malformed the key), the bit string
    stays well-formed, so no probe-duplication hazard arises."""
    if isinstance(vec_col, str):
        vec_col = F.col(vec_col)
    bits = [F.when(vec_col.getItem(i) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(n_bits)]
    return F.when(vec_col.isNotNull() & (F.size(vec_col) >= n_bits),
                  F.concat(*bits))


def hashed_projection_bucket(vec_col: Column | str, dim: int,
                             n_planes: int = 8,
                             seed: str = "lsh") -> Column:
    """Random-hyperplane LSH with content-derived pseudo-random planes:
    plane p weight for dim d = ±1 chosen by a bit of md5(seed:p:d). Signed
    sums fold JVM-side; deterministic across runs and engines."""
    import hashlib

    if isinstance(vec_col, str):
        vec_col = F.col(vec_col)
    bits = []
    for p in range(n_planes):
        terms = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()[0]
            sign = 1.0 if h & 1 else -1.0
            terms.append(vec_col.getItem(d) * F.lit(sign))
        proj = terms[0]
        for t in terms[1:]:
            proj = proj + t
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    # NULL or shorter-than-dim vector -> NULL bucket (joins drop it), same
    # contract as sign_lsh_bucket above: a short vector's missing items
    # would THROW under ANSI getItem (and pre-ANSI, NULL projections pool
    # in the all-zeros bucket)
    return F.when(vec_col.isNotNull() & (F.size(vec_col) >= dim),
                  F.concat(*bits))


def ivf_grid_cells(vec_col: Column | str, grid: int = 4,
                   dims: int = 2) -> Column:
    """Deterministic coarse quantizer: grid cell over the first ``dims``
    dimensions as a compact string key (fixed codebook, no training pass —
    swap for kmeans centroids without touching callers).

    NULL or shorter-than-``dims`` vectors get a NULL cell (equi-joins drop
    them) — same contract as sign_lsh_bucket: under ANSI mode element_at
    past the end THROWS, so the guard is also what keeps one malformed row
    from killing a 100 TB job (r7). A vector with a NULL ELEMENT in its
    first ``dims`` coordinates also gets a NULL cell: plain F.concat is
    NULL-propagating, where concat_ws silently SKIPPED the NULL coordinate
    and minted malformed cells like "2" or "" (review r7b) — which the
    single-probe join mis-bucketed and the nprobe ring expanded into
    DUPLICATE probe keys, breaking ``knn``'s pairwise-distinct probe contract
    (a neighbor matched several probes, crowding top-k and fanning out
    ann_recall's counting join). The oracles' separate cx/cy columns drop
    NULL coords via NULL join keys — this makes the engine structurally
    identical."""
    if isinstance(vec_col, str):
        vec_col = F.col(vec_col)
    parts = [F.floor(F.element_at(vec_col, i + 1).cast("double") * grid)
             .cast("long").cast("string") for i in range(dims)]
    joined = []
    for i, p in enumerate(parts):
        if i:
            joined.append(F.lit(":"))
        joined.append(p)
    return F.when(vec_col.isNotNull() & (F.size(vec_col) >= dims),
                  F.concat(*joined))


def centroid_cells(vec_col: Column | str,
                   centroids: list[list[float]]) -> Column:
    """Trained-centroid coarse quantizer — the production IVF shape the
    fixed grid (``ivf_grid_cells``) stands in for: cell = id of the
    NEAREST fitted centroid (squared L2, ties to the lowest id) as a
    compact string key — the ``Centroids`` quantizer's query-side key;
    ``centroid_probe_ranks`` is its nprobe dial. Fit the model with
    ``operators.vectors.kmeans_fit`` — its deterministic, 6-dp-rounded
    centroids are what make the bucketing reproducible across runs and
    engines.

    The distance fold and the (d2, id) argmin are the exact operation
    sequence of the k-means assignment (``vectors._dist2`` /
    ``_assign``'s struct-min), so a vector's cell here equals its
    ``kmeans_assign`` cluster for the same model — the oracle re-derives
    the assignment CTE and must agree bit-for-bit.

    NULL, wrong-dimension, and NULL-element vectors get a NULL cell
    (equi-joins drop them) — the sign_lsh_bucket contract. Dimension is
    pinned to the model's (a ragged vector's zip_with distance would
    fold to NULL against every centroid and tie-break into cluster 0 as
    a live candidate otherwise).

    Scale: k·dim literal doubles embedded in ONE flattened array (a
    single Py4J round trip), distances via a constant-size
    higher-order-function tree — transform over 0..k-1 slices the i-th
    centroid out of the flat literal and folds the same sequential
    squared-difference sum as before, so plan CONSTRUCTION is O(1) in k
    (r9: the per-centroid struct tree cost one Py4J round trip per
    expression node and dominated q82/q84's per-pass wall at k=8 x 64)
    while the evaluated doubles are bit-identical (the slice reads the
    same repr-exact literals the per-centroid form embedded). This
    Column remains the literal semantic twin the assignment kernel is
    parity-pinned against; for corpus-sized frames use
    ``centroid_cells_frame``."""
    if isinstance(vec_col, str) and _finite2(centroids):
        from .vectors import _qident, _wf_sql
        ref = _qident(vec_col)
        structs = _centroid_d2_structs_sql(ref, centroids)  # validates
        dim = len(centroids[0])
        return F.expr(
            f"CASE WHEN {_wf_sql(ref, dim)} "
            f"THEN CAST(array_min({structs}).cluster AS STRING) END")
    if isinstance(vec_col, str):
        vec_col = F.col(vec_col)
    best = _centroid_argmin(vec_col, centroids)["cluster"]
    dim = len(centroids[0])
    return F.when(vec_col.isNotNull() & (F.size(vec_col) == dim)
                  & ~F.exists(vec_col, lambda x: x.isNull()),
                  best.cast("string"))


def _centroid_d2_structs_sql(vec_sql: str,
                             centroids: list[list[float]]) -> str:
    """``_centroid_d2_structs`` as one SQL fragment (r11 optimization
    round): the same flat-literal transform/zip_with/fold tree, rendered
    as text so the whole k-centroid distance expression parses in ONE
    Py4J round trip. The parsed tree is identical — text lambdas build
    the same LambdaFunction nodes — so every double and tie-break is
    bit-identical to the Column form (oracle- and parity-pinned)."""
    if not centroids or not centroids[0]:
        raise ValueError("centroids must be a non-empty list of "
                         "non-empty vectors (kmeans_fit's output)")
    k = len(centroids)
    dim = len(centroids[0])
    flat = ",".join(f"{float(x)!r}D" for c in centroids for x in c)
    d2s = (f"transform(sequence(0, {k - 1}), i -> "
           f"aggregate(zip_with(CAST({vec_sql} AS ARRAY<DOUBLE>), "
           f"slice(array({flat}), i * {dim} + 1, {dim}), "
           f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x))")
    return (f"zip_with({d2s}, sequence(0, {k - 1}), "
            f"(d, i) -> struct(d AS d2, i AS cluster))")


def _centroid_d2_structs(vec_col: Column,
                         centroids: list[list[float]]) -> Column:
    """array<struct<d2, cluster>> of squared L2 distances to every
    centroid, built as a constant-size expression tree over ONE
    flattened centroid literal: same sequential fold per centroid as
    ``vectors._dist2`` (the slice of the flat literal IS the centroid's
    repr-exact doubles), struct order (d2, cluster) so array_min /
    array_sort tie-break to the lowest cluster id."""
    from .vectors import _fold_sum, _lit_array

    if not centroids or not centroids[0]:
        # F.sequence(0, k-1) with k=0 yields [0, -1] — the flat-literal
        # tree would FABRICATE cells ('-1') for an empty model where the
        # per-centroid F.array form failed at construction (r9 review);
        # an empty/misloaded model must be loud, never wrong bucket keys
        raise ValueError("centroids must be a non-empty list of "
                         "non-empty vectors (kmeans_fit's output)")
    k = len(centroids)
    dim = len(centroids[0])
    v = vec_col.cast("array<double>")
    flat = _lit_array([x for c in centroids for x in c])
    idx = F.sequence(F.lit(0), F.lit(k - 1))
    d2s = F.transform(
        idx,
        lambda i: _fold_sum(F.zip_with(
            v, F.slice(flat, i * dim + 1, dim),
            lambda x, y: (x - y) * (x - y))))
    return F.zip_with(d2s, idx,
                      lambda d, i: F.struct(d.alias("d2"),
                                            i.alias("cluster")))


def _centroid_argmin(vec_col: Column,
                     centroids: list[list[float]]) -> Column:
    """struct<d2, cluster> of the nearest centroid (ties to the lowest
    cluster id) — the shared argmin of ``centroid_cells``."""
    return F.array_min(_centroid_d2_structs(vec_col, centroids))


def centroid_cells_frame(df: DataFrame, centroids: list[list[float]],
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         cell_col: str = "__cell") -> DataFrame:
    """FRAME-level ``centroid_cells``: the same nearest-centroid cell keys,
    computed by the Arrow assignment kernel (``vectors._assign`` — one
    map-only ``mapInPandas`` pass with the model closed over as a numpy
    matrix) instead of the k·dim-literal expression tree. Returns exactly
    ``(id_col, vec_col, cell_col)`` with ``vec_col`` cast to
    array<double>; any OTHER input column is dropped (Catalyst cannot
    prune inside a mapInPandas schema, so carrying extra columns would
    Arrow-serialize them through the kernel for nothing).

    Why both forms exist: ``centroid_cells`` is the pure-Catalyst
    semantic twin — one Column, embeddable anywhere, the recipe the
    DuckDB oracles unroll — but it is an interpreted fold per
    (row, centroid) whose cost Catalyst re-evaluates at every use site
    (measured ~100 s for 200k rows x 16 centroids, and the dominant term
    of q82's fixed overhead at 8 x 64). This frame form is the
    production path for CORPUS-sized sides: the kernel is parity-pinned
    row-identical to the literal expression (dimension-ordered float64
    accumulation, first-minimum tie rule — the ``_assign`` contract), so
    swapping it in changes no cell. Use the Column form for sample-sized
    frames (a query side) where plan simplicity beats kernel dispatch.

    Keying contract, matching ``centroid_cells``: rows the quantizer
    cannot key — NULL, wrong-dimension, or NULL-element vectors — are
    DROPPED from the output rather than NULL-celled (the kernel's
    ``np.stack`` cannot hold ragged rows). Equivalent for every caller,
    since a NULL cell's only meaning is "drops from every bucket
    equi-join and servability filter"; a caller that needs the
    unservable rows themselves must anti-join them back."""
    from .vectors import _assign

    from .vectors import well_formed_pred

    if not centroids or not centroids[0]:
        raise ValueError("centroids must be a non-empty list of "
                         "non-empty vectors (kmeans_fit's output)")
    dim = len(centroids[0])
    well = df.filter(well_formed_pred(vec_col, dim))
    cells = _assign(
        well.select(F.col(id_col).alias("vec_id"),
                    F.col(vec_col).cast("array<double>").alias("__v")),
        centroids)
    return cells.select(F.col("vec_id").alias(id_col),
                        F.col("__v").alias(vec_col),
                        F.col("cluster").cast("string").alias(cell_col))


def centroid_probe_ranks(vec_col: Column | str,
                         centroids: list[list[float]],
                         nprobe: int = 2) -> Column:
    """nprobe expansion for the trained-centroid quantizer: the probe set
    is the ``nprobe`` NEAREST centroids by query distance (ties to the
    lowest id) — the real IVF serving rule, where the fixed grid's
    adjacency ring (``ivf_probe_cells``) is only a geometric stand-in.
    The ``Centroids`` quantizer's probes: the ranking needs the query
    VECTOR, not just its home cell.

    Contract (what the no-dedup candidate join relies on): the array is
    pairwise distinct (distinct centroid ids), and its FIRST element is
    the home cell — the same (d2, id) ordering ``centroid_cells``
    argmins, so sorted[0] == array_min. NULL / wrong-dimension /
    NULL-element vectors get a NULL probe array (explode drops the
    query — an unservable vector probes nothing). ``nprobe`` past k
    degrades to probing all k cells. Built over the shared flat-literal
    distance tree (``_centroid_d2_structs``) — O(1) plan construction
    in k, identical doubles (r9). Accepts a Column or a column NAME;
    the str form parses the whole probe expression in one Py4J round
    trip (r11 optimization round, identical tree)."""
    from .vectors import well_formed_pred

    if isinstance(vec_col, str) and _finite2(centroids):
        from .vectors import _qident, _wf_sql
        ref = _qident(vec_col)
        structs = _centroid_d2_structs_sql(ref, centroids)  # validates
        return F.expr(
            f"CASE WHEN {_wf_sql(ref, len(centroids[0]))} "
            f"THEN transform(slice(array_sort({structs}), 1, {nprobe}), "
            f"s -> CAST(s.cluster AS STRING)) END")
    if isinstance(vec_col, str):
        vec_col = F.col(vec_col)
    ranked = F.slice(
        F.array_sort(_centroid_d2_structs(vec_col, centroids)),
        1, nprobe)
    return F.when(well_formed_pred(vec_col, len(centroids[0])),
                  F.transform(ranked,
                              lambda s: s["cluster"].cast("string")))


def probe_cells_frame(queries: DataFrame, centroids: list[list[float]],
                      nprobe: int = 2, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      cell_col: str = "__cell") -> DataFrame:
    """FRAME-level ``centroid_probe_ranks``: each query row EXPLODED by
    its ``nprobe`` nearest centroids, computed by an Arrow kernel (one
    map-only ``mapInPandas`` pass with the model closed over as a numpy
    matrix) instead of the k·dim-literal expression tree. Returns
    exactly ``(id_col, vec_col, cell_col)`` with ``vec_col`` cast to
    array<double> and ``cell_col`` the probe's centroid id as a STRING
    (``centroid_probe_ranks``' key contract); any other input column is
    dropped (``centroid_cells_frame``'s rationale — Catalyst cannot
    prune inside a mapInPandas schema).

    Why the frame form exists (r11): the Column form is an interpreted
    fold per (row, centroid) — the right shape for a SAMPLE-sized query
    batch, and the recipe the DuckDB oracles unroll — but a BATCH
    serving path (millions of queries, ``knn_ivf_pq_index_batch``)
    would pay it per query row, the exact cost ``centroid_cells_frame``
    exists to avoid on the corpus side (measured ~100 s for 200k rows x
    16 centroids). Parity is pinned: blocked dimension-ordered float64
    accumulation (``_nearest_blocks``' recipe, keeping the (block, k)
    panel to RANK the top-nprobe instead of just argmin), stable
    argsort = (d2 asc, cluster asc) — the struct-sort's ties-to-lowest-
    id rule — and probe order preserved in the output (home cell
    first). Unservable rows (NULL / wrong-dimension / NULL-element)
    are DROPPED, ``centroid_probe_ranks``' explode-of-NULL behavior;
    ``nprobe`` past k degrades to probing all k cells."""
    import numpy as np

    from .vectors import _stack_batch, well_formed_pred

    if not centroids or not centroids[0]:
        raise ValueError("centroids must be a non-empty list of "
                         "non-empty vectors (kmeans_fit's output)")
    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    C = np.asarray(centroids, dtype="float64")
    k, dim = C.shape
    npb = min(nprobe, k)
    vecs = (queries.filter(well_formed_pred(vec_col, dim))
            .select(F.col(id_col).alias("vec_id"),
                    F.col(vec_col).cast("array<double>").alias("__v")))
    id_type = vecs.schema["vec_id"].dataType.simpleString()

    def kernel(batches):
        import pandas as pd
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _stack_batch(pdf, dim)
            n = V.shape[0]
            block = 1024
            ranked = np.empty((n, npb), dtype="int64")
            for s in range(0, n, block):
                e = min(s + block, n)
                acc = np.zeros((e - s, k))
                for d in range(dim):
                    diff = V[s:e, d:d + 1] - C[None, :, d]
                    acc = acc + diff * diff
                masked = np.where(np.isnan(acc), np.inf, acc)
                # stable argsort == order by (d2 asc, cluster asc):
                # the lowest-id tie rule of centroid_probe_ranks'
                # struct sort, column index == cluster id
                ranked[s:e] = np.argsort(masked, axis=1,
                                         kind="stable")[:, :npb]
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy().repeat(npb),
                "__v": pdf["__v"].to_numpy().repeat(npb),
                "__cell": ranked.reshape(-1).astype(str),
            })

    out = vecs.mapInPandas(
        kernel, schema=f"vec_id {id_type}, __v array<double>, "
                       "__cell string")
    return out.select(F.col("vec_id").alias(id_col),
                      F.col("__v").alias(vec_col),
                      F.col("__cell").alias(cell_col))


def ivf_probe_cells(cell_col: Column, dims: int = 2) -> Column:
    """nprobe expansion for the ``ivf_grid_cells`` quantizer: the probe
    set is the home cell plus every adjacent cell — 3^dims keys, pairwise
    distinct by construction (distinct offset tuples produce distinct
    cell strings), home cell included at offset zero. This is the nprobe
    dial of a real IVF index: q80 measures the one-cell recall floor;
    probing the adjacency ring buys back the near-neighbors that landed
    just across a cell boundary, at 3^dims times the candidate cost.
    The ``Grid`` quantizer's ``ring`` probes.

    ``dims`` MUST match the cell key's: a cell whose parsed coordinate
    count differs gets a NULL probe array (explode drops the query) —
    without the arity guard, a 3-dim cell parsed as 2 coords would build
    probes that can never equal any neighbor cell, returning empty results
    with no structural trace (review r7b). A cell whose coordinates aren't
    numeric degrades to the SAME NULL probe array via try_cast (r8,
    ADVICE) — previously the plain cast THREW under ANSI, so one malformed
    key failed the job instead of surfacing as the row-level recall 0.0
    the arity leg already degrades to. Per-row key shape is data, not
    configuration."""
    from itertools import product

    parts = F.split(cell_col, ":")
    coords = [parts.getItem(i).try_cast("long") for i in range(dims)]
    numeric = coords[0].isNotNull()
    for c in coords[1:]:
        numeric = numeric & c.isNotNull()
    combos = []
    for offsets in product((-1, 0, 1), repeat=dims):
        combos.append(F.concat_ws(":", *[
            (c + o).cast("string") for c, o in zip(coords, offsets)]))
    # nested whens: the inner numeric check references getItem(i), which
    # is only safe to evaluate once the outer arity check has passed
    # (CaseWhen branches evaluate lazily per row)
    return F.when(F.size(parts) == dims,
                  F.when(numeric, F.array(*combos)))


# ---------------------------------------------------------------------------
# The retriever: one ``knn`` composed from a codec, an optional coarse
# quantizer and an optional exact re-rank — FAISS ``index_factory``'s
# coarse quantizer x codec x re-rank (Johnson et al. 2017; IVF-PQ, Jégou
# et al. 2011).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Int8:
    """Codec: the corpus is ``quantize_int8``'s verbatim
    ``(vec_id, scale, qvec)`` frame, scored on its dequantized vectors
    (``qvec * scale`` with the emitted 9-dp scale); queries stay raw."""


@dataclass(frozen=True)
class PQ:
    """Codec: the corpus is ``pq_encode``'s verbatim ``(vec_id, codes)``
    frame built with ``codebooks``, scored on its ``pq_decode``
    reconstructions against raw queries — asymmetric distance
    computation. A code outside the codebooks throws under ANSI."""
    codebooks: list


@dataclass(frozen=True)
class Projection:
    """Codec: corpus and queries both scored in the projected space
    ``W (x - mean)`` — ``pca_fit``'s ``(mean, components)`` or a random
    projection (``rp_components`` with a zero mean). The corpus projects
    through the ``pca_project`` Arrow kernel, the sample-sized queries
    through its bit-identical literal twin ``pca_project_expr``; rows
    the projection cannot key (NULL / wrong-dimension / NULL-element)
    drop from the corpus."""
    mean: list
    components: list


# An ``IVFPQModel`` is the fourth codec: the corpus is ``ivf_pq_encode``'s
# ``(vec_id, codes, cell)``, reconstructed as ``pq_decode(codes)`` or, for
# a residual model, ``centroids[cell] + pq_decode(codes)``.


def _corpus_view(codec, corpus: DataFrame, id_col: str,
                 vec_col: str) -> tuple[DataFrame, str, str]:
    """Stage 1's corpus side under ``codec``: ``(frame, id, vector)``,
    naming the column every corpus row is keyed and scored on."""
    from .vectors import _lit_array2, pca_project, pq_decode

    if codec is None:
        return corpus, id_col, vec_col
    if isinstance(codec, Projection):
        return (pca_project(corpus, codec.mean, codec.components,
                            vec_col=vec_col, id_col=id_col),
                id_col, "projection")
    keep = []
    if isinstance(codec, Int8):
        # zip against array_repeat(scale): when `corpus` is the
        # quantize_int8 PLAN (not a materialized table), referencing the
        # scale column inside an interpreted element lambda inlines its
        # whole array_max fold per ELEMENT (dim x dim work per row);
        # array_repeat evaluates it once per row
        recon = F.zip_with(F.col("qvec"),
                           F.array_repeat(F.col("scale"), F.size("qvec")),
                           lambda x, s: x.cast("double") * s)
    elif isinstance(codec, PQ):
        recon = pq_decode("codes", codec.codebooks)
    elif isinstance(codec, IVFPQModel):
        recon = pq_decode("codes", codec.codebooks)
        if codec.residual:
            recon = F.zip_with(
                F.element_at(_lit_array2(codec.centroids),
                             F.col("cell").cast("int") + 1),
                recon, lambda c, r: c + r)
        keep = ["cell"]  # the index key StoredCells reads
    else:
        raise TypeError(f"not a codec: {codec!r}")
    return (corpus.select("vec_id", recon.alias("__dqv"), *keep),
            "vec_id", "__dqv")


def _explode_probes(q: DataFrame, probes: Column) -> DataFrame:
    """One query row per probe key. A NULL home bucket (a query the
    quantizer cannot key) probes nothing, whatever ``probes`` says:
    explode of a NULL array emits no rows."""
    return q.withColumn("qbucket", F.explode(
        F.when(F.col("qbucket").isNotNull(), probes)))


@dataclass(frozen=True)
class _Quantizer:
    """A coarse quantizer keys the corpus and the queries with ONE bucket
    function and expands each query's home bucket into its probes, so the
    two sides cannot disagree. Probe sets are pairwise distinct and hold
    the home bucket, and each corpus row has one bucket, so a
    (query, neighbor) pair meets at most once — no dedup shuffle.

    ``max_bucket`` is the optional hot-bucket guard: buckets holding more
    corpus rows are skipped (a groupBy-count semi-join, never a window —
    ``semantic_dedup``'s ``max_cell`` shape). It trades recall for
    bounded join tasks, so it is off by default."""
    max_bucket: Optional[int] = field(default=None, kw_only=True)

    def key(self, vec: Column | str) -> Column:
        """The bucket of one vector column (NULL: unservable)."""
        raise NotImplementedError

    def key_corpus(self, frame: DataFrame, id_col: str,
                   vec_col: str) -> tuple[DataFrame, Column]:
        """``(frame, key)`` for the corpus side; unservable rows are
        dropped or NULL-keyed."""
        return frame, self.key(vec_col)

    def probes(self, q: DataFrame) -> DataFrame:
        """Expand ``q``'s home ``qbucket`` (query vector ``qv``) into one
        row per probe; the default probes the home bucket only."""
        return q


@dataclass(frozen=True)
class SignLSH(_Quantizer):
    """Sign-bit LSH: an ``n_bits``-character '0'/'1' bucket — the signs of
    the first ``n_bits`` coordinates (``sign_lsh_bucket``) or, with
    ``dim``, of ``n_bits`` md5-hashed ±1 projections of all ``dim``
    coordinates (``hashed_projection_bucket``; better spread when the
    embedding axes correlate). ``probe_flips`` also probes every 1-bit
    flip of the home bucket (1-bit multiprobe)."""
    n_bits: int = 6
    probe_flips: bool = False
    dim: Optional[int] = None

    def key(self, vec):
        if self.dim is None:
            return sign_lsh_bucket(vec, self.n_bits)
        return hashed_projection_bucket(vec, self.dim, self.n_bits)

    def probes(self, q):
        if not self.probe_flips:
            return q
        n = self.n_bits
        home = F.col("qbucket")

        def flip(i: int) -> Column:
            bit = F.when(F.substring(home, i + 1, 1) == "1", "0") \
                .otherwise("1")
            return F.concat(F.substring(home, 1, i), bit,
                            F.substring(home, i + 2, n - i - 1))
        return q.withColumn("qbucket", F.explode(
            F.array(home, *[flip(i) for i in range(n)])))


@dataclass(frozen=True)
class Grid(_Quantizer):
    """Fixed 4x4 grid cells over the first 2 coordinates
    (``ivf_grid_cells``' defaults); ``ring`` also probes the 8 adjacent
    cells (``ivf_probe_cells``) — the nprobe dial of the untrained
    index."""
    ring: bool = False

    def key(self, vec):
        return ivf_grid_cells(vec)

    def probes(self, q):
        if not self.ring:
            return q
        return _explode_probes(q, ivf_probe_cells(F.col("qbucket")))


@dataclass(frozen=True)
class Centroids(_Quantizer):
    """Trained coarse quantizer: cell = the nearest of ``centroids``
    (``kmeans_fit``'s model); each query probes its ``nprobe`` nearest
    cells by query distance (``centroid_probe_ranks``). The corpus is
    keyed by the Arrow assignment kernel (``centroid_cells_frame``), the
    sample-sized queries by the parity-pinned literal ``centroid_cells``."""
    centroids: list
    nprobe: int = 1

    def key(self, vec):
        return centroid_cells(vec, self.centroids)

    def key_corpus(self, frame, id_col, vec_col):
        return (centroid_cells_frame(frame, self.centroids, id_col=id_col,
                                     vec_col=vec_col, cell_col="__cell"),
                F.col("__cell"))

    def probes(self, q):
        return _explode_probes(q, centroid_probe_ranks(
            "qv", self.centroids, nprobe=self.nprobe))


@dataclass(frozen=True)
class StoredCells(Centroids):
    """``Centroids`` over an encoded IVF-PQ index: the corpus is
    ``ivf_pq_encode``'s ``(vec_id, codes, cell)`` (served with the
    ``IVFPQModel`` codec) and its stored ``cell`` is the key — no
    re-assignment. Build it from the model that encoded the index."""

    def key_corpus(self, frame, id_col, vec_col):
        return frame, F.col("cell").cast("string")


@dataclass(frozen=True)
class _Keyed(_Quantizer):
    """``inner``'s probes over keys already stored in column ``col`` on
    both sides (``ann_recall`` keys the corpus once for both branches)."""
    inner: _Quantizer
    col: str

    def key(self, vec):
        return F.col(self.col)

    def probes(self, q):
        return self.inner.probes(q)


def _resolve_m(k: int, m) -> int:
    """k >= 1; the re-rank budget ``m`` defaults to 4k and must be >= k
    (the exact re-rank can only return candidates stage 1 kept)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if m is None:
        m = 4 * k
    if m < k:
        raise ValueError(f"m ({m}) must be >= k ({k}) — the exact re-rank "
                         "can only return candidates stage 1 kept")
    return m


def knn(corpus: DataFrame, queries: DataFrame, k: int, *,
        codec=None, quantizer: Optional[_Quantizer] = None,
        m: Optional[int] = None, vectors: Optional[DataFrame] = None,
        id_col: str = "vec_id", vec_col: str = "embedding",
        query_id_col: str = "vec_id") -> DataFrame:
    """Top-``k`` cosine neighbors of each query: ``(query_id,
    neighbor_id, cosine, rank)``, ranked by (cosine DESC, neighbor_id);
    a query never returns itself.

    Stage 1 scores ``codec``'s reconstruction of every corpus row against
    ``codec``'s view of each query with the Arrow pair kernel
    (``_scored_pairs_kernel``, float-identical to ``cosine_col``):

    - ``codec``: ``None`` (the corpus as stored, ``(id_col, vec_col)``),
      ``Int8()``, ``PQ(codebooks)``, an ``IVFPQModel``, or
      ``Projection(mean, components)``. Every codec but ``Projection``
      keeps queries raw (asymmetric distance computation).
    - ``quantizer``: ``None`` broadcasts the queries into one linear
      corpus scan. A quantizer (``SignLSH``, ``Grid``, ``Centroids``,
      ``StoredCells``) instead bucket-equi-joins queries to corpus rows
      over the query's probes, so work tracks bucket population; rows it
      cannot key drop out. Keys are computed on the codec's vectors.

    Stage 1 keeps the top ``m`` per query when ``vectors`` is given, else
    the top ``k`` (``cosine`` is then the codec's approximation). Stage 2
    re-ranks those |queries|·m candidates exactly against the
    full-precision ``vectors`` (``(id_col, vec_col)``, covering every
    corpus id — an inner join) through a broadcast-candidate join, never
    a second corpus scan. ``m`` defaults to 4k and must be >= k; at
    |corpus| with no quantizer (or with every cell probed) the result
    is the exhaustive one.

    ``queries`` is a sample-sized ``(query_id_col, vec_col)`` frame: it
    is broadcast. Codec frames carry their codec's verbatim column names
    (``id_col``/``vec_col`` rename only the raw frames)."""
    m = _resolve_m(k, m)
    frame, cid, cvec = _corpus_view(codec, corpus, id_col, vec_col)
    qview = vec_col
    if isinstance(codec, Projection):
        from .vectors import pca_project_expr
        qview = pca_project_expr(vec_col, codec.mean, codec.components)
    q_cols = [F.col(query_id_col).alias("query_id"),
              (F.col(qview).cast("array<double>")
               if isinstance(qview, str) else qview).alias("qv")]
    if quantizer is None:
        v = frame.select(F.col(cid).alias("neighbor_id"),
                         F.col(cvec).cast("array<double>").alias("nv"))
        pairs = (v.crossJoin(F.broadcast(queries.select(*q_cols)))
                 .filter(F.col("neighbor_id") != F.col("query_id")))
    else:
        frame, key = quantizer.key_corpus(frame, cid, cvec)
        v = frame.select(F.col(cid).alias("neighbor_id"),
                         F.col(cvec).cast("array<double>").alias("nv"),
                         key.alias("bucket"))
        if quantizer.max_bucket is not None:
            small = (v.groupBy("bucket")
                     .agg(F.count(F.lit(1)).alias("__bn"))
                     .filter(F.col("__bn") <= quantizer.max_bucket)
                     .select("bucket"))
            v = v.join(small, "bucket", "left_semi")
        q = quantizer.probes(queries.select(
            *q_cols, quantizer.key(qview).alias("qbucket")))
        pairs = q.join(v, (F.col("bucket") == F.col("qbucket"))
                       & (F.col("neighbor_id") != F.col("query_id")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    cand = (_scored_pairs_kernel(pairs, "query_id", "neighbor_id",
                                 "qv", "nv")
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= (k if vectors is None else m)))
    if vectors is None:
        return cand.select("query_id", "neighbor_id", "cosine", "rank")
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    return _exact_rerank(cand.select("query_id", "neighbor_id"), q,
                         vectors, k, id_col, vec_col)


def _exact_rerank(cand: DataFrame, q: DataFrame, vectors: DataFrame,
                  k: int, id_col: str, vec_col: str) -> DataFrame:
    """``knn``'s stage 2: exact top-``k`` over a small (query_id,
    neighbor_id) candidate frame. The candidate side is |queries|·m rows
    — broadcast (with ``qv`` re-attached from the broadcast-small query
    frame ``q`` = (query_id, qv)) so the full-precision fetch is a
    map-side join against the wide table, never a corpus shuffle."""
    xv = vectors.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).cast("array<double>").alias("xv"))
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    cand_q = cand.join(F.broadcast(q), "query_id")
    return (xv.join(F.broadcast(cand_q), "neighbor_id")
            .withColumn("cosine", cosine_col("xv", "qv"))
            .withColumn("rank", F.row_number().over(w_k).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


#: Hot-cell guard for semantic_dedup: cells holding more vectors than this
#: are skipped by the pair join (their rows stay their own canonicals).
#: Mirrors DEFAULT_MAX_DF in operators.dedupe — a degenerate cell (e.g. the
#: zero-vector cell, or a too-coarse quantizer) would otherwise expand
#: quadratically inside one task.
DEFAULT_MAX_CELL = 10_000


def semantic_dedup(vectors: DataFrame, threshold: float = 0.95,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   grid: int = 4, dims: int = 2,
                   max_iters: int = 10,
                   max_cell: Optional[int] = DEFAULT_MAX_CELL) -> DataFrame:
    """Embedding-space near-duplicate collapse (SemDeDup-style, Abbas et
    al. 2023): bucket vectors with a coarse quantizer, compare cosine only
    WITHIN a bucket, link pairs >= ``threshold``, and collapse transitive
    clusters to their min-id canonical via connected components. Returns
    (id, canonical_id); keep one row per canonical_id to dedup.

    Scale: the only shuffle is the cell equi-join, partitioned by cell key
    — work tracks within-cell density, never n². Quantizer granularity
    (``grid``/``dims``) bounds cell population the way IVF nlist does;
    component closure reuses the min-label propagation shared with MinHash
    dedup (O(cluster diameter) rounds, tiny for similarity cliques).
    Same trade as SemDeDup's k-means clustering: near-dups straddling a
    cell boundary are missed, accepted for linear cost. ``max_cell`` is
    the hot-cell skew guard: cells above it skip pairwise comparison
    entirely (rows stay their own canonicals — the conservative,
    keep-everything direction), because one degenerate cell would expand
    quadratically in a single task. The cell counts come from a
    groupBy(cell) count (map-side partial aggregation) joined back as a
    semi-join — NOT a window over partitionBy(cell): a window would
    buffer the degenerate cell's rows, embedding arrays included, in one
    task BEFORE filtering it out, i.e. the guard against the pathological
    cell would itself be exposed to that cell's size. The count agg only
    ever shuffles (cell, partial-count) rows, and the semi-join shares
    the pair join's cell partitioning."""
    from .dedupe import min_label_components

    cells = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        ivf_grid_cells(F.col(vec_col), grid, dims).alias("cell"))
    paired = cells
    if max_cell is not None:
        small_cells = (cells.groupBy("cell")
                       .agg(F.count(F.lit(1)).alias("__celln"))
                       .filter(F.col("__celln") <= max_cell)
                       .select("cell"))
        paired = cells.join(small_cells, "cell", "left_semi")
    a = paired.select(F.col("id").alias("doc_a"), F.col("v").alias("va"),
                      F.col("cell").alias("ca"))
    b = paired.select(F.col("id").alias("doc_b"), F.col("v").alias("vb"),
                      F.col("cell").alias("cb"))
    # within-cell pair scoring via the Arrow pair kernel (r12, guide §4;
    # float-identical to cosine_col — kernel docstring): the cell
    # equi-join is untouched, only the per-pair interpreted folds move
    paired_rows = a.join(b, (F.col("ca") == F.col("cb"))
                         & (F.col("doc_a") < F.col("doc_b")))
    pairs = (_scored_pairs_kernel(paired_rows, "doc_a", "doc_b",
                                  "va", "vb", out_col="cos")
             .filter(F.col("cos") >= threshold)
             .select("doc_a", "doc_b"))
    return min_label_components(cells.select("id"), pairs, max_iters) \
        .select(F.col("id").alias(id_col), "canonical_id")


def ann_recall(corpus: DataFrame, queries: DataFrame, k: int,
               quantizer: _Quantizer, id_col: str = "vec_id",
               vec_col: str = "embedding",
               query_id_col: str = "vec_id") -> DataFrame:
    """Recall@k telemetry for a bucketed index: how many of each query's
    TRUE top-k neighbors (the exhaustive ``knn``) the ``quantizer``'s
    bucketed ``knn`` returned. Output one row per query:
    ``(query_id, n_true, n_hit, recall)`` with recall = n_hit / n_true
    rounded to 6 dp. Mean recall is one ``avg`` over the result — kept
    out of the row contract so the per-query distribution (the thing that
    exposes a degenerate bucket) is never pre-averaged away.

    This is the feedback loop for every ANN tuning decision: bucket
    width and probe count trade recall for candidate-set size. Run it on
    a SAMPLE of queries (ground truth is a brute-force pass — |queries| x
    |corpus| cosine folds).

    Plan shape: ground truth = one broadcast-queries scan of the corpus
    (linear, no CartesianProduct); approx = the bucket equi-join under
    test; the comparison is a LEFT join from truth to approx on
    (query_id, neighbor_id) — |queries| x k rows — then one
    groupBy(query_id). A query with NO exhaustive neighbors (corpus of
    1) emits no row rather than a 0/0.

    Universe contract: recall is measured over the INDEX-SERVABLE
    universe — corpus rows the quantizer cannot key are excluded from
    the truth as well, since the bucket equi-join structurally drops
    them, and a query it cannot key emits no row at all (unservable, not
    zero-recall).

    The corpus is keyed ONCE (a trained-centroid key is the Arrow
    assignment kernel, an expression key is an interpreted fold) and
    lazily ``localCheckpoint``-ed: the first action materializes (id,
    vector, bucket) blocks — spill-safe MEMORY_AND_DISK — and both the
    truth and the index branch read them, one corpus pass in total. The
    blocks live until the returned frame is driver-GC'd, and the
    checkpoint truncates lineage (a lost executor fails the query rather
    than recomputing) — accepted for an occasionally-run diagnostic."""
    frame, key = quantizer.key_corpus(corpus, id_col, vec_col)
    corpus = (frame.select(F.col(id_col), F.col(vec_col),
                           key.alias("__ann_bucket"))
              .filter(F.col("__ann_bucket").isNotNull())
              .localCheckpoint(eager=False))
    queries = (queries
               .withColumn("__ann_bucket", quantizer.key(F.col(vec_col)))
               .filter(F.col("__ann_bucket").isNotNull()))
    cols = dict(id_col=id_col, vec_col=vec_col, query_id_col=query_id_col)
    truth = knn(corpus.drop("__ann_bucket"), queries.drop("__ann_bucket"),
                k, **cols)
    keyed = _Keyed(quantizer, "__ann_bucket",
                   max_bucket=quantizer.max_bucket)
    approx = (knn(corpus, queries, k, quantizer=keyed, **cols)
              .select("query_id", "neighbor_id", F.lit(1).alias("__hit")))
    return (
        truth.select("query_id", "neighbor_id")
        .join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_true"),
             F.count("__hit").alias("n_hit"))
        .select("query_id", "n_true", "n_hit",
                F.round(F.col("n_hit") / F.col("n_true"), 6).alias("recall"))
    )


def write_ivf_pq_index(df: DataFrame, model: IVFPQModel, path: str,
                       mode: str = "overwrite", files_per_cell: int = 1,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id") -> None:
    """Persist the IVF-PQ serving index AT REST: ``ivf_pq_encode``'s
    ``(vec_id, codes, cell)`` rows of the full-precision vectors in
    ``df``, written as parquet PARTITIONED BY ``cell`` — the layout a
    100 TB deployment actually serves from, where ``knn_ivf_pq_index``
    turns each query batch's probe set into a partition filter and the
    scan READS ONLY THE PROBED CELLS' FILES (Spark partition pruning;
    the in-memory ``knn`` with the model codec serves an encoded frame per
    pass, the right shape for ad-hoc corpora).

    Build shape: ONE map-only encode kernel pass chained onto whatever
    plan ``df`` is (scan → encode → cell → partitioned write, one corpus
    read total), for either codec — the model says which. Rows the codec
    cannot key (NULL / wrong-dimension / NULL-element vectors) drop from
    the index, the ``centroid_cells_frame`` contract. The table written
    is EXACTLY ``(vec_id, codes)`` partitioned by ``cell`` — any other
    input column is dropped (Catalyst cannot prune inside a mapInPandas
    schema, so carrying payload columns would Arrow-serialize them
    through the kernel for nothing); join payloads back by ``vec_id`` at
    read time. The model is the caller's to ship — it is NOT embedded in
    the files.

    File layout: the write repartitions on the cell key first, so each
    cell directory holds AT MOST ``files_per_cell`` files per build —
    without it every write task opens a file in every cell it sees,
    and a W-task build of a k-cell index lands W·k small files (256 at
    bench scale; at 1000 executors the commit and every later scan's
    file-listing pay it forever). Raise ``files_per_cell`` when single
    cells outgrow a comfortable file/task size: the value is an UPPER
    BOUND / best-effort spread, not a guarantee — a salt keys each hot
    cell across up to that many writer partitions, but hash
    partitioning into the capped task count can co-locate distinct salt
    groups, and AQE may legally coalesce a small build below the bound.
    The bound direction is the safe one: fewer, larger files, never a
    W·k explosion. The 1M stress writes k=16 cells of ~62k rows each
    through the default."""
    from .vectors import ivf_pq_encode

    if files_per_cell < 1:
        raise ValueError("files_per_cell must be >= 1")
    coded = ivf_pq_encode(df, model, vec_col=vec_col, id_col=id_col)
    if files_per_cell == 1:
        # keys-only repartition: one file per cell per build regardless
        # of how AQE coalesces the write tasks (dynamic partitioning
        # still opens one file per cell per task, and each cell lives
        # in exactly one task)
        out = coded.repartition(F.col("cell"))
    else:
        # salt + EXPLICIT partition count: a user-specified count is
        # AQE-exempt (the semdedup kernel's rule), so a hot cell's
        # files_per_cell salt keys actually land on separate writer
        # tasks instead of being size-coalesced back into one; capped
        # by the session's shuffle width so a large-k index cannot
        # demand k x files_per_cell tasks
        from ..session import shuffle_partitions
        n_parts = min(len(model.centroids) * files_per_cell,
                      max(shuffle_partitions(coded.sparkSession),
                          files_per_cell))
        salt = F.pmod(F.xxhash64(F.col("vec_id").cast("string")),
                      F.lit(files_per_cell))
        out = coded.repartition(n_parts, F.col("cell"), salt)
    out.write.mode(mode).partitionBy("cell").parquet(path)


#: Ceiling on the driver-side query-batch collect of the persisted
#: serving paths (``_guarded_collect``). The serving contract has
#: always been "queries are a sample-sized frame" (every sibling
#: broadcasts them and the probe union is collected at construction);
#: until r11 the contract was prose only, so a mis-sized frame OOM'd
#: the driver silently at scale instead of failing structurally. The
#: default admits any sane query batch / telemetry sample (100k rows
#: of 64-dim doubles ≈ 50 MB pinned) while refusing a corpus passed as
#: queries by mistake; callers with genuinely larger batches raise it
#: explicitly and own the driver-memory consequence.
DEFAULT_MAX_QUERY_ROWS = 100_000


def _guarded_collect(q_proj: DataFrame, max_query_rows: int) -> list:
    """Enforce the serving contract and collect the query batch in TWO
    parallel jobs: a count (nothing crosses to the driver — the
    structural guard) and, only under the limit, one plain collect.
    The previous ``limit(max+1).collect()`` probe bounded memory the
    same way but ran Spark's INCREMENTAL CollectLimit — 1, then 4, then
    16... partitions in sequential jobs until the frame was exhausted,
    i.e. 3-4 sequential scans of a sample-sized frame on every serve
    (r11 optimization round). The count is the enforcement point: a
    corpus passed as queries fails before any row crosses. (A frame
    that GROWS past the limit between the two jobs would collect
    unguarded — the pre-guard exposure — but the serving contract's
    inputs are deterministic sample frames, and the single collect
    below is still the one evaluation every downstream stage shares.)"""
    if max_query_rows < 1:
        raise ValueError("max_query_rows must be >= 1")
    n = q_proj.count()
    if n > max_query_rows:
        raise ValueError(
            f"query batch exceeds max_query_rows={max_query_rows}: the "
            "persisted serving paths collect the queries frame on the "
            "driver (probe-union pruning / drift truth pinning), so it "
            "must be a bounded sample, not a corpus — pass a smaller "
            "batch or raise max_query_rows explicitly")
    rows = q_proj.collect()
    # Backstop for the count→collect window (r11 ADVICE): a frame that
    # GREW past the limit between the two jobs must still fail loudly —
    # the rows are discarded, nothing downstream sees them. (A take/limit
    # probe would bound memory structurally but re-introduces the
    # sequential incremental-CollectLimit jobs this function removed;
    # driver exposure in the window is already capped by
    # spark.driver.maxResultSize.)
    if len(rows) > max_query_rows:
        raise ValueError(
            f"query batch grew past max_query_rows={max_query_rows} "
            "between the count guard and the collect — the queries frame "
            "must be a deterministic bounded sample (serving contract)")
    return rows


def _pruned_probe_scan(index: DataFrame, queries: DataFrame,
                       centroids: list[list[float]], nprobe: int,
                       vec_col: str, query_id_col: str,
                       max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
                       with_rows: bool = False):
    """The probe-union partition pruning of the persisted online serve
    and the drift report: returns ``(pinned_queries, pruned_index)``.

    Materialize the query batch ONCE (r9 review): the probe union is
    collected at construction time while the serve stages re-evaluate
    the queries frame at action time — a nondeterministic or
    concurrently-appended queries frame could otherwise probe cells
    OUTSIDE the pruned scan and silently lose true neighbors. Queries
    are sample-sized by the serving contract — now enforced by
    ``max_query_rows`` (r11), not just documented — so pinning the
    collected rows back as a local relation closes the two-time-point
    window at negligible cost.

    Probe values are coerced to the index's ACTUAL cell column dtype:
    probe ranks are strings (centroid_probe_ranks' key contract) while
    the parquet partition column is re-inferred on read — int by
    default — and a string-vs-int isin leans on implicit ANSI coercion
    for both correctness and partition-filter pushdown (r9 ADVICE).
    Typed literals keep the filter a native partition predicate under
    any partitionColumnTypeInference / ANSI setting."""
    # ONE collect pins the batch AND evaluates each query's probe ranks
    # (r11 optimization round): the probe expression rides the same
    # limit-probe job that enforces the serving contract, instead of a
    # second scan of the queries frame — still closing the two-time-point
    # window, since rows and probes come from the same evaluation.
    q_proj = queries.select(
        F.col(query_id_col), F.col(vec_col),
        centroid_probe_ranks(vec_col, centroids, nprobe=nprobe)
        .alias("__p"))
    rows = _guarded_collect(q_proj, max_query_rows)
    pin_schema = queries.select(
        F.col(query_id_col), F.col(vec_col)).schema
    from ..session import local_frame
    queries = local_frame(queries.sparkSession,
                          [r[:2] for r in rows], pin_schema)
    probe_cells = sorted({c for r in rows for c in (r["__p"] or [])})
    from pyspark.sql.types import NumericType
    if isinstance(index.schema["cell"].dataType, NumericType):
        probe_cells = [int(c) for c in probe_cells]
    pruned = index.filter(F.col("cell").isin(probe_cells))
    # ``with_rows`` hands back the collected rows too, so a caller that
    # needs a row-level fold (the drift report's n_queries) reuses THIS
    # collect instead of pinning the batch a second time
    return (queries, pruned, rows) if with_rows else (queries, pruned)


def knn_ivf_pq_index(index: DataFrame, model: IVFPQModel,
                     queries: DataFrame, k: int, nprobe: int = 2,
                     m: Optional[int] = None,
                     vectors: Optional[DataFrame] = None,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "vec_id",
                     max_query_rows: int = DEFAULT_MAX_QUERY_ROWS
                     ) -> DataFrame:
    """Serve top-k from a PERSISTED ``write_ivf_pq_index`` table with
    partition pruning: the union of every query's ``nprobe`` probe
    cells is collected driver-side (queries are a sample-sized frame —
    the serving contract, enforced by ``max_query_rows``; every
    sibling already broadcasts them) and pushed into the scan as
    ``cell IN (...)``, so parquet reads ONLY the probed partitions — at
    100 TB the difference between scanning nprobe/k_coarse of the index
    and scanning all of it. Within the pruned scan, per-query candidate
    restriction, ADC scoring (in the model's codec), top-``m``, and the
    exact re-rank are ``knn``'s stages under the model codec and its
    ``StoredCells`` quantizer (same results as the in-memory composition
    for the same model — test-pinned). A query whose vector the quantizer
    cannot key probes nothing and returns no rows."""
    m = _resolve_m(k, m)
    queries, pruned = _pruned_probe_scan(index, queries, model.centroids,
                                         nprobe, vec_col, query_id_col,
                                         max_query_rows)
    return knn(pruned, queries, k, codec=model,
               quantizer=StoredCells(model.centroids, nprobe=nprobe), m=m,
               vectors=vectors, id_col=id_col, vec_col=vec_col,
               query_id_col=query_id_col)


def _exact_rerank_shuffle(cand: DataFrame, q: DataFrame,
                          vectors: DataFrame, k: int, id_col: str,
                          vec_col: str) -> DataFrame:
    """Stage 2 of the BATCH serving paths: exact top-``k`` over a
    candidate frame that is |queries|·m rows and therefore NOT
    broadcastable when the batch is large. Same tie rule as
    ``_exact_rerank``, but both joins are left to the planner (no
    broadcast hint): a small batch still broadcasts under AQE's size
    rules, a huge one shuffle-joins — queries repartition by query_id,
    then candidates meet the corpus hash-partitioned on neighbor_id.
    The corpus-side shuffle is the honest price of an exact re-rank at
    batch scale, amortized over the whole batch (the broadcast form
    would simply OOM); skip it entirely with ``vectors=None`` for
    single-stage compressed serving.

    The pairwise scoring is an Arrow kernel, not the interpreted
    ``cosine_col`` fold — at 1M queries x m=40 the fold would run 40M
    per-element HOF evaluations — with the same bit-parity recipe as
    stage 1 (dimension-ordered float64 accumulation, dot/(sqrt·sqrt),
    zero-norm pairs 0.0; test-pinned float-identical to the expression
    path). A ragged or NULL full-precision vector is a LOUD contract
    error (``vectors`` must be the well-formed full-precision table —
    ``knn``'s standing contract), where the expression
    form silently scored it NULL."""
    import numpy as np

    xv = vectors.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).cast("array<double>").alias("xv"))
    paired = (cand.join(q, "query_id").join(xv, "neighbor_id")
              .select("query_id", "neighbor_id", "qv", "xv"))
    qid_t = paired.schema["query_id"].dataType.simpleString()
    nid_t = paired.schema["neighbor_id"].dataType.simpleString()

    def kernel(batches):
        import pandas as pd
        for pdf in batches:
            if len(pdf) == 0:
                continue
            try:
                Q = np.stack(pdf["qv"].to_numpy()).astype("float64")
                X = np.stack(pdf["xv"].to_numpy()).astype("float64")
            except (ValueError, TypeError):
                raise ValueError(
                    "exact re-rank: ragged or NULL full-precision "
                    "vector — `vectors` must cover every candidate id "
                    "with well-formed fixed-dimension vectors "
                    "(knn's contract)")
            if Q.shape != X.shape:
                raise ValueError(
                    "exact re-rank: query/corpus dimension mismatch — "
                    "`vectors` must live in the queries' space")
            n, dim = Q.shape
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for d in range(dim):
                dot += Q[:, d] * X[:, d]
                na += Q[:, d] * Q[:, d]
                nb += X[:, d] * X[:, d]
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = dot / (np.sqrt(na) * np.sqrt(nb))
            cos = np.where((na > 0) & (nb > 0), cos, 0.0)
            yield pd.DataFrame({"query_id": pdf["query_id"],
                                "neighbor_id": pdf["neighbor_id"],
                                "cosine": cos})

    scored = paired.mapInPandas(
        kernel, schema=f"query_id {qid_t}, neighbor_id {nid_t}, "
                       "cosine double")
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored
            .withColumn("rank", F.row_number().over(w_k).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def _batch_stage1_kernel(index: DataFrame, qp: DataFrame, m: int,
                         model: IVFPQModel) -> DataFrame:
    """Stage 1 of the batch serve as a COGROUPED numpy kernel: per
    probed cell, decode the cell's codes (codebook gather — the
    ``ivf_pq_encode`` kernel's pinned ``pq_decode`` parity; plus
    ``centroid[cell] +`` for a residual model, elementwise-identical to
    ``knn``'s ``zip_with`` decode), score every (query-in-cell
    x row-in-cell) pair, and emit each query's top-``m`` within the
    cell. Arrow ships
    the m-small-int codes through the cogroup shuffle, NOT the decoded
    doubles — the decode stays inside the task.

    Bit-parity with the expression path (``cosine_col`` + the
    (cosine DESC, neighbor_id) window): the dot and both norms
    accumulate dimension-by-dimension in float64 — the sequential
    zip_with fold's exact float sequence (``_nearest_blocks``' proven
    recipe) — the final ``dot / (sqrt(na) * sqrt(nb))`` is the same two
    ops, zero-norm pairs score 0.0, and the per-row cut is a STABLE
    argsort over rows pre-sorted by neighbor_id, which IS the
    (cosine desc, neighbor_id asc) tie rule. Self-matches mask to -inf
    before the cut and never emit. Test-pinned float-identical to the
    join + ``cosine_col`` + window form.

    Why a kernel here and an expression everywhere else: stage-1 volume
    is |batch| x |probed-cell population| — at 200 queries over a 200k
    index the interpreted per-element fold measured ~218 s where this
    kernel's blocked numpy panels run in seconds; the family's other
    serves score sample-sized frames where plan simplicity wins."""
    import numpy as np

    Bs = [np.asarray(cb, dtype="float64") for cb in model.codebooks]
    msub = len(Bs)
    C = (np.asarray(model.centroids, dtype="float64")
         if model.residual else None)
    qid_t = qp.schema["query_id"].dataType.simpleString()
    nid_t = index.schema["vec_id"].dataType.simpleString()

    def fn(left, right):
        import pandas as pd
        empty = pd.DataFrame({"query_id": pd.Series(dtype="int64"),
                              "neighbor_id": pd.Series(dtype="int64"),
                              "cosine": pd.Series(dtype="float64")})
        if len(left) == 0 or len(right) == 0:
            return empty
        # pre-sort by neighbor_id so the stable argsort's equal-cosine
        # order IS ascending neighbor_id (the family's tie rule)
        right = right.sort_values("vec_id", kind="stable")
        cm = np.stack(right["codes"].to_numpy()).astype("int64")
        if cm.min() < 0 or cm.max() >= Bs[0].shape[0]:
            raise ValueError(
                "batch serve: code value outside the codebook range — "
                "the index was built with different codebooks "
                "(pq_decode's contract)")
        N = np.concatenate([Bs[j][cm[:, j]] for j in range(msub)],
                           axis=1)
        if C is not None:
            N = C[right["cell"].to_numpy().astype("int64")] + N
        Q = np.stack(left["qv"].to_numpy()).astype("float64")
        qid = left["query_id"].to_numpy()
        nid = right["vec_id"].to_numpy()
        nq, dim = Q.shape
        nn = N.shape[0]
        top = min(m, nn)
        # dimension-ordered float64 accumulation: cosine_col's fold
        na = np.zeros(nq)
        nb = np.zeros(nn)
        for d in range(dim):
            na += Q[:, d] * Q[:, d]
            nb += N[:, d] * N[:, d]
        sqa, sqb = np.sqrt(na), np.sqrt(nb)
        out = []
        block = 256
        for s in range(0, nq, block):
            e = min(s + block, nq)
            acc = np.zeros((e - s, nn))
            for d in range(dim):
                acc += Q[s:e, d:d + 1] * N[None, :, d]
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = acc / (sqa[s:e, None] * sqb[None, :])
            cos = np.where((na[s:e, None] > 0) & (nb[None, :] > 0),
                           cos, 0.0)
            cos = np.where(nid[None, :] == qid[s:e, None], -np.inf, cos)
            order = np.argsort(-cos, axis=1, kind="stable")[:, :top]
            take = np.take_along_axis(cos, order, axis=1)
            keep = np.isfinite(take)
            rows = np.repeat(qid[s:e], top).reshape(e - s, top)
            out.append(pd.DataFrame({
                "query_id": rows[keep],
                "neighbor_id": nid[order[keep]],
                "cosine": take[keep],
            }))
        return pd.concat(out, ignore_index=True) if out else empty

    return (qp.groupby("__cell")
            .cogroup(index.groupby("__cell"))
            .applyInPandas(fn, schema=f"query_id {qid_t}, "
                                      f"neighbor_id {nid_t}, "
                                      "cosine double"))


def knn_ivf_pq_index_batch(index: DataFrame, model: IVFPQModel,
                           queries: DataFrame, k: int, nprobe: int = 2,
                           m: Optional[int] = None,
                           vectors: Optional[DataFrame] = None,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           query_id_col: str = "vec_id") -> DataFrame:
    """BATCH serving from a persisted ``write_ivf_pq_index`` table —
    the other half of the serving story ``max_query_rows`` enforces:
    ``knn_ivf_pq_index`` is the ONLINE shape (a sample-sized query
    batch collected driver-side, its probe union pushed into the scan
    as a partition filter — read nprobe/k_coarse of the index), while
    this is the OFFLINE shape for query frames of ANY size — batch
    inference, corpus self-join analytics, recall sweeps: no driver
    collect anywhere, probes computed distributed by the Arrow kernel
    (``probe_cells_frame``, exploded by probe cell), candidates
    generated by a cell cogroup (each task handles one cell's
    candidates), and the exact re-rank shuffle-joined instead of
    broadcast. Reading the whole index instead of pruning partitions is
    the right trade exactly when the batch is large — a million
    queries' probe union covers every cell anyway, and one full scan
    amortized over the batch beats per-query pruned reads.

    "Reading the whole index" is the worst case, not the plan: a
    broadcast semi-join of the probe union on the cell key plans
    DYNAMIC PARTITION PRUNING on the index scan
    (``cell IN dynamicpruning#...`` — plan-pinned), so a batch whose
    probe union covers few cells still reads only those cells' files
    at runtime, with no driver round trip — the batch path degrades
    gracefully INTO the online path's IO shape as the batch shrinks.
    The global top-``m`` across cells also runs as a partial
    ``WindowGroupLimit`` before its exchange (rank-limit pushdown), so
    each task forwards at most m rows per query. (query_id,
    neighbor_id) pairs are unique by construction — each index row has
    ONE stored cell and the probe set is pairwise distinct — so no
    dedup shuffle is needed (``knn``'s argument).

    Same results as ``knn_ivf_pq_index`` for the same inputs, for
    either codec (test-pinned): the stored cell is consumed directly,
    and stage 1 runs as a cogrouped numpy kernel that is FLOAT-IDENTICAL
    to the family's ``cosine_col``/window stages
    (``_batch_stage1_kernel`` — codes decode inside the task, so the
    cogroup shuffle moves m small ints per row, not dim doubles).
    CONTRACT: ``index`` is ``write_ivf_pq_index``'s ``(vec_id, codes,
    cell)`` read back, built with THIS model; ``vectors`` must cover
    every id in it (inner-join re-rank)."""
    m = _resolve_m(k, m)
    qp = (probe_cells_frame(queries, model.centroids, nprobe,
                            id_col=query_id_col, vec_col=vec_col)
          .select(F.col(query_id_col).alias("query_id"),
                  F.col(vec_col).alias("qv"), "__cell"))
    idx = index.select("vec_id", "codes",
                       F.col("cell").cast("int").alias("cell"),
                       F.col("cell").cast("string").alias("__cell"))
    # semantic no-op (the cogroup only scores cells that have probes),
    # but the broadcast semi-join on the PARTITION column re-enables
    # dynamic partition pruning on the index scan — a batch whose probe
    # union covers few cells reads only those cells' files, with no
    # driver round trip (plan-pinned); the probe-cell set is at most
    # k_coarse strings, always broadcastable
    probe_union = qp.select("__cell").distinct()
    idx = idx.join(F.broadcast(probe_union), "__cell", "left_semi")
    w_m = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    cand = (_batch_stage1_kernel(idx, qp, m, model)
            .withColumn("rank", F.row_number().over(w_m).cast("int"))
            .filter(F.col("rank") <= m))
    if vectors is None:
        return (cand.filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "cosine", "rank"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    return _exact_rerank_shuffle(cand.select("query_id", "neighbor_id"),
                                 q, vectors, k, id_col, vec_col)


def refresh_ivf_pq_index(delta: DataFrame, model: IVFPQModel, path: str,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id") -> None:
    """Incremental maintenance for a ``write_ivf_pq_index`` table:
    encode ONLY the delta's full-precision vectors with the EXISTING
    model and APPEND the coded rows into their cell partitions — no
    rebuild, no read of the resident index. Because the encode and the
    cell are row-wise functions of the FIXED model (either codec),
    appending an encoded delta is byte-equivalent to rebuilding the
    index over base ∪ delta with the same model (test-pinned) —
    ``mode("append")`` adds files inside existing ``cell=`` directories
    and creates new ones as needed, never touching resident files
    (concurrent serving keeps reading a consistent index; a serve
    racing the append simply misses the still-landing delta rows, the
    same read-committed story any append-only parquet layout has).

    What this does NOT do — and why ``ivf_pq_index_drift`` exists: the
    MODEL never moves. As deltas accumulate, the corpus distribution
    can drift away from the quantizers it was trained on (cells skew,
    reconstruction error grows, recall sags), which an append-only
    index cannot see from the write path. Run the drift report on a
    held-out query sample after refresh cycles; when it recommends a
    refit, refit and rebuild with ``write_ivf_pq_index``
    (mode="overwrite"). A residual model's refit always needs that full
    re-encode: its cell is part of every stored code.

    Scale shape: one map-only encode pass over the delta and one build
    shuffle into the partitioned write — cost tracks |delta|, never
    |index|. Rows the codec cannot key (NULL / wrong-dimension /
    NULL-element) drop, ``write_ivf_pq_index``'s exact contract."""
    write_ivf_pq_index(delta, model, path, mode="append", vec_col=vec_col,
                       id_col=id_col)


def compact_ivf_pq_index(spark, path: str,
                         target_file_bytes: int = 128 * 2**20) -> dict:
    """Small-file compaction for a ``write_ivf_pq_index`` table: every
    ``refresh_ivf_pq_index`` cycle appends at least one file into each
    touched cell directory, so after N refreshes a probe reads N files
    per probed cell — listing and open() pressure that grows with
    maintenance history, not data. This rewrites each ``cell=``
    partition independently to ~``target_file_bytes`` files
    (``io.maintenance.compact_dataset``'s per-leaf recursion: the
    partition dirs, their value spelling, and therefore the probe
    pruning are untouched; each leaf swap is atomic, so a serve racing
    the compaction reads either the old or the new file set, never a
    mix of a partially-deleted one). Returns the compactor's
    ``{files_before, files_after, bytes, partitions}`` telemetry.

    Both codecs write the same ``(vec_id, codes)`` columns under the
    same ``cell=`` partition dirs, so this one compactor serves either
    (test-pinned per codec over a thrice-refreshed index, serving rows
    and probe pruning asserted unchanged).

    Lifecycle: ``write_ivf_pq_index`` (build) → ``refresh_ivf_pq_index``
    (append deltas) → this (bound the file count) →
    ``ivf_pq_index_drift`` (watch recall) → refit + rebuild when the
    flag says so."""
    from ..io.maintenance import compact_dataset

    return compact_dataset(spark, path,
                           target_file_bytes=target_file_bytes)


def ivf_pq_index_drift(index: DataFrame, model: IVFPQModel,
                       vectors: DataFrame, queries: DataFrame, k: int = 5,
                       nprobe: int = 2, m: Optional[int] = None,
                       recall_floor: float = 0.8,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       query_id_col: str = "vec_id",
                       max_query_rows: int = DEFAULT_MAX_QUERY_ROWS
                       ) -> DataFrame:
    """Model-drift telemetry for an append-maintained IVF-PQ index: ONE
    aggregated row comparing what the persisted index actually serves
    (``knn_ivf_pq_index`` with the CURRENT model, partition-pruned)
    against brute-force truth over the full-precision corpus on a
    held-out query sample. Output: ``(n_queries, n_servable, mean_recall,
    min_recall, refit_recommended)`` — ``refit_recommended`` when the
    MEAN recall over servable queries falls below ``recall_floor`` (or
    when NO query was servable at all, the degenerate-model case).

    This is the feedback loop ``refresh_ivf_pq_index`` deliberately
    lacks: append-only maintenance keeps the models frozen, so recall
    decay from distribution drift is invisible to the write path —
    measured recall on a sample the index did NOT train on is the one
    signal that says "refit". ``n_servable`` < ``n_queries`` separately
    exposes queries the quantizer cannot key (unservable vectors emit
    no recall row at all, ``ann_recall``'s universe contract).

    Plan shape: truth = one broadcast-queries corpus scan
    (the exhaustive ``knn``); served = the pruned-probe serving path under
    test; the comparison joins two |queries|·k-row frames and folds to
    a single row — run it on a SAMPLE, the ground truth is the linear
    cost (``ann_recall``'s standing rule). The query sample is pinned
    ONCE at construction (the ``knn_ivf_pq_index`` r9 rule, applied to
    the whole report): served, truth, and ``n_queries`` all read the
    SAME collected rows, so a nondeterministic or concurrently-appended
    queries frame cannot put rows in the truth that the served side
    never probed (which would spuriously depress recall and fire the
    refit flag on a healthy index). The held-out-SAMPLE contract is
    enforced (r11): the pin collects at most ``max_query_rows`` rows
    and raises loudly past it — the report's truth side is a
    brute-force scan per query, so a corpus passed as the sample would
    otherwise OOM the driver AND run |corpus| brute-force scans."""
    if not 0.0 <= recall_floor <= 1.0:
        raise ValueError("recall_floor must be within [0, 1]")
    # ONE pin for the whole report (r12): the pruned-probe scan's
    # guarded collect pins the batch, computes the probe union, AND
    # hands back the rows — serve, truth, and n_queries all read the
    # same evaluation. Previously the report pinned first and the serve
    # re-pinned from the local relation: two extra driver jobs per
    # pass, two extra cluster-wide barriers at scale.
    m_res = _resolve_m(k, m)
    queries, pruned, pinned_rows = _pruned_probe_scan(
        index, queries, model.centroids, nprobe, vec_col, query_id_col,
        max_query_rows, with_rows=True)
    served = (knn(pruned, queries, k, codec=model,
                  quantizer=StoredCells(model.centroids, nprobe=nprobe),
                  m=m_res, vectors=vectors, id_col=id_col,
                  vec_col=vec_col, query_id_col=query_id_col)
              .select("query_id", "neighbor_id",
                      F.lit(1).alias("__hit")))
    # the truth side keeps only queries the quantizer can KEY
    # (ann_recall's universe contract): an unservable query probes
    # nothing structurally, so leaving it in the brute-force truth
    # would report it as recall 0 instead of excluding it from
    # n_servable — drift and unservability are different signals
    from .vectors import well_formed_pred
    servable = queries.filter(
        well_formed_pred(vec_col, len(model.centroids[0])))
    truth = knn(vectors, servable, k, id_col=id_col, vec_col=vec_col,
                query_id_col=query_id_col)
    # n_queries = COUNT(DISTINCT id) over the PINNED batch — the rows
    # are already on the driver (the serving-contract collect), so the
    # count is a Python fold over them instead of an extra aggregate
    # job + crossJoin in the report plan (r11 optimization round; same
    # value by construction: the pinned local relation IS the frame the
    # aggregate counted). Scope note (r11 ADVICE): the set fold matches
    # SQL count_distinct for the int/string id contract of this family;
    # array/map-typed ids would be unhashable and NaN float ids would
    # each count distinct — both out of contract for vec_id keys.
    n_queries = len({r[0] for r in pinned_rows if r[0] is not None})
    per_q = (truth.select("query_id", "neighbor_id")
             .join(served, ["query_id", "neighbor_id"], "left")
             .groupBy("query_id")
             .agg((F.count("__hit") / F.count(F.lit(1))).alias("__recall")))
    return (per_q
            .agg(F.count(F.lit(1)).alias("n_servable"),
                 F.round(F.avg("__recall"), 6).alias("mean_recall"),
                 F.round(F.min("__recall"), 6).alias("min_recall"))
            .select(F.lit(n_queries).cast("long").alias("n_queries"),
                    "n_servable", "mean_recall", "min_recall",
                    F.when(F.col("n_servable") == 0, F.lit(True))
                    .otherwise(F.col("mean_recall") < F.lit(recall_floor))
                    .alias("refit_recommended")))
