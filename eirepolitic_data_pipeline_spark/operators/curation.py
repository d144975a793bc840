"""Dataset-curation operators: deterministic splits, hash sampling, and
token-budget sequence packing — the selection/layout stages of a
training-data pipeline.

Everything here is DETERMINISTIC — no RNG, no row-order dependence — for
three reasons that matter at 100 TB: re-runs and retried tasks produce the
same assignment (speculative execution safe), incremental refreshes keep
every existing document in its original split (no silent train/test
contamination between snapshots), and any SQL engine can reproduce the
assignment for auditing (the md5-based bucket is plain arithmetic, not a
Spark-internal hash).

Split keys should be the LEAKAGE BOUNDARY, not the row id: splitting on
``source`` (site/domain/document-family) keeps near-duplicate rows from the
same origin on one side of the train/val fence — the standard guard against
benchmark contamination.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Bucket space for split/sample decisions. 10k gives 0.01% resolution.
BUCKETS = 10_000


def hash_bucket(col: Column | str, buckets: int = BUCKETS,
                salt: str = "") -> Column:
    """Uniform deterministic bucket in [0, buckets): first 8 hex chars of
    md5(salt || key) as an integer, mod buckets. Engine-portable: any SQL
    runtime computes the identical bucket (md5 + hex-to-int + mod).

    NULL keys map to the bucket of the literal "__null__" — deterministic
    and non-null, so NULL-key rows get a real split label and appear in
    samples instead of silently falling through every comparison."""
    c = F.col(col) if isinstance(col, str) else col
    key = F.coalesce(c.cast("string"), F.lit("__null__"))
    h8 = F.substring(F.md5(F.concat(F.lit(salt), key)), 1, 8)
    return F.pmod(F.conv(h8, 16, 10).cast("long"), F.lit(buckets)).cast("int")


def split_column(key: Column | str, weights: Mapping[str, float],
                 salt: str = "split") -> Column:
    """Split label from cumulative weight thresholds over the hash bucket.

    ``weights`` maps label -> fraction (must sum to ~1; the last label
    absorbs rounding). Same key + salt ⇒ same label, forever — append-only
    refreshes cannot migrate a document across the fence.
    """
    if not weights:
        raise ValueError("split weights must name at least one label")
    bad = {k: v for k, v in weights.items() if not 0.0 <= v <= 1.0}
    if bad:
        # the sum gate alone admits compensating specs (train=1.5,
        # test=-0.5 sums to 1) whose out-of-range thresholds silently
        # empty one split and overfill another
        raise ValueError(f"split fractions must be in [0, 1]: {bad}")
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights sum to {total}, expected 1")
    b = hash_bucket(key, BUCKETS, salt)
    labels = list(weights)
    out = F.lit(labels[-1])
    acc = 0.0
    ladder = []
    for name, wgt in zip(labels[:-1], [weights[k] for k in labels[:-1]]):
        acc += wgt
        ladder.append((name, int(round(acc * BUCKETS))))
    for name, threshold in reversed(ladder):
        out = F.when(b < threshold, F.lit(name)).otherwise(out)
    return out


def dataset_split(df: DataFrame, key_col: str,
                  weights: Mapping[str, float] | None = None,
                  salt: str = "split", out_col: str = "split") -> DataFrame:
    """Attach a deterministic, group-preserving split label keyed on
    ``key_col`` (use the leakage boundary — source/domain — not the row id).
    Pure projection: no shuffle, no state."""
    w = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    return df.withColumn(out_col, split_column(key_col, w, salt))


def hash_sample(df: DataFrame, key_col: str, fraction: float,
                salt: str = "sample") -> DataFrame:
    """Deterministic ``fraction`` sample by hash bucket — re-runs select the
    SAME rows (unlike df.sample), and enlarging the fraction strictly grows
    the previous sample (nested samples for scaling-law runs)."""
    if not 0 < fraction <= 1:
        raise ValueError("fraction must be in (0, 1]")
    threshold = int(round(fraction * BUCKETS))
    return df.filter(hash_bucket(key_col, BUCKETS, salt) < threshold)


def pack_sequences(df: DataFrame, id_col: str, token_col: Column | str,
                   budget: int, shards: int = 32,
                   order_by: Sequence[str] | None = None) -> DataFrame:
    """Token-budget sequence packing: assign each document to a (shard,
    batch) so each batch's cumulative token count stays near ``budget``.

    Deterministic contiguous packing: documents are sharded by
    ``pmod(id, shards)`` (so packing parallelizes — one sequential scan per
    shard, never a global order), ordered within the shard by ``order_by``
    (default: the id), and cut into batches where the running token total
    crosses a budget multiple: ``batch_id = floor(cum_before / budget)``.
    A batch may overflow by at most one document — the standard streaming-
    packer guarantee; oversized single documents get batches of their own.

    One window shuffle on the shard key; batch sizes are bounded by
    ``budget + max_doc_tokens`` regardless of corpus size.
    """
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    order = list(order_by) if order_by else [id_col]
    out = df.withColumn("__shard", F.pmod(F.col(id_col), F.lit(shards)).cast("int"))
    w = (Window.partitionBy("__shard").orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (out
            .withColumn("__cum", F.sum(tok).over(w))
            .withColumn("batch_id",
                        F.floor((F.col("__cum") - tok) / budget).cast("int"))
            .withColumnRenamed("__shard", "shard")
            .drop("__cum"))


def stratified_sample(df: DataFrame, strata_cols: Sequence[str],
                      fractions: Mapping[tuple, float] | float,
                      key_col: str, salt: str = "strat") -> DataFrame:
    """Deterministic per-stratum sampling: each stratum keeps its own
    fraction, decided by the same md5 bucket arithmetic as the splits (so
    re-runs, retries and incremental refreshes keep identical membership,
    and a row's fate never depends on which stratum others land in).

    ``fractions`` is either one float for every stratum or a mapping from
    stratum value tuples to fractions (missing strata keep 0.0 — explicit
    opt-in, the safe default for curation allow-lists). The per-stratum
    fraction map is dimension-sized and joins broadcast."""
    b = hash_bucket(F.col(key_col), salt=salt)
    if isinstance(fractions, Mapping):
        spark = df.sparkSession
        # stringify stratum keys: the join below casts the DATA side to
        # string, so non-string keys (int years, dates) are meant to work —
        # createDataFrame against the all-string schema would reject them
        # scalar keys are the natural spelling for ONE stratum column
        # ({'news': 0.5}); without the normalization a string key would be
        # iterated character by character and an int key would raise
        rows = [(*[str(p) for p in (k if isinstance(k, tuple) else (k,))],
                 float(v))
                for k, v in fractions.items()]
        schema = ", ".join(f"{c} string" for c in strata_cols) + \
            ", __frac double"
        from ..session import local_frame
        frac_df = local_frame(spark, rows, schema)
        joined = df.join(
            F.broadcast(frac_df),
            [df[c].cast("string") == frac_df[c] for c in strata_cols],
            "left").drop(*[frac_df[c] for c in strata_cols])
        out = joined.filter(
            b < (F.coalesce(F.col("__frac"), F.lit(0.0)) * BUCKETS)
        ).drop("__frac")
        return out
    return df.filter(b < F.lit(float(fractions) * BUCKETS))


def filter_domains(df: DataFrame, url_col: str, domains: DataFrame | Sequence[str],
                   mode: str = "block", domain_col: str = "domain") -> DataFrame:
    """Domain-level allow/block filtering keyed on the registered domain
    (eTLD+1) of ``url_col`` — the standard web-corpus curation gate.

    ``domains`` is either a DataFrame with ``domain_col`` (the production
    path: blocklists are tables, joined broadcast when they fit and as a
    plain shuffled semi/anti join when they don't — Spark demotes the
    broadcast automatically via AQE) or an in-code sequence for small
    fixed lists. ``mode='block'`` drops matching rows (anti join);
    ``mode='allow'`` keeps only matches (semi join). Rows whose URL has no
    parseable host have a NULL domain: they never match a list entry, so
    'block' keeps them and 'allow' drops them — the conservative default
    on both sides."""
    if mode not in ("block", "allow"):
        raise ValueError("mode must be 'block' or 'allow'")
    from ..functions.urls import registered_domain, url_host
    dom = registered_domain(url_host(url_col))
    tagged = df.withColumn("__domain", dom)
    how = "left_anti" if mode == "block" else "left_semi"
    if not isinstance(domains, DataFrame):
        # in-code list: bounded by construction, safe to hint broadcast
        rows = [(str(d),) for d in domains]
        from ..session import local_frame
        dim = (local_frame(df.sparkSession, rows, f"{domain_col} string")
               .select(F.col(domain_col).alias("__domain")).distinct())
        return tagged.join(F.broadcast(dim), "__domain", how).drop("__domain")
    # DataFrame-valued lists get NO broadcast hint — an explicit hint is
    # never demoted, so a multi-GB blocklist would be collected to the
    # driver. The planner broadcasts it when it fits
    # (autoBroadcastJoinThreshold) and shuffles otherwise.
    dim = domains.select(F.col(domain_col).alias("__domain")).distinct()
    return tagged.join(dim, "__domain", how).drop("__domain")


def domain_stats(df: DataFrame, url_col: str) -> DataFrame:
    """Per-registered-domain document counts and corpus share — the
    profiling pass that feeds blocklist decisions and mixing weights.
    One map-side-combined agg on the domain plus a 1-row broadcast for the
    total; NULL-host rows are reported under domain NULL rather than
    dropped, so the shares always sum to 1."""
    from ..functions.urls import registered_domain, url_host
    counts = (df.withColumn("domain", registered_domain(url_host(url_col)))
              .groupBy("domain").agg(F.count(F.lit(1)).alias("doc_count")))
    total = counts.agg(F.sum("doc_count").alias("__total"))
    return (counts.crossJoin(F.broadcast(total))
            .withColumn("share",
                        F.round(F.col("doc_count") / F.col("__total"), 6))
            .drop("__total"))


def mix_sources(df: DataFrame, source_col: str, key_col: str,
                alpha: float = 0.7, target_rows: int | None = None,
                salt: str = "mix") -> DataFrame:
    """Temperature-weighted source mixing (downsample-only): keep each
    source with probability proportional to ``count^alpha`` — the standard
    multilingual/multi-source rebalancing rule (alpha=1 preserves natural
    proportions, alpha=0 equalizes sources, 0.6-0.8 is the usual pretraining
    compromise).

    Per-source keep fractions are computed fully distributed: one
    map-side-combined count agg (source-dimension-sized), a 1-row broadcast
    for the normalizer, then a broadcast join of the fraction map and the
    same deterministic md5-bucket membership test as the splits — re-runs,
    retries and incremental refreshes keep the identical sample, and a
    bigger ``target_rows`` strictly grows it (nested samples).

    Downsample-only by design: a source whose quota exceeds its size keeps
    everything (fraction capped at 1), so the realized total can undershoot
    ``target_rows`` when small sources can't fill their boosted quota —
    upweighting those is the training loop's job (use the emitted
    ``mix_weight`` = quota/kept as the example weight), not the storage
    layer's (duplicating rows bakes one schedule into the corpus).
    ``target_rows`` defaults to the input row count."""
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    # NULL sources are a real group, not a drop: groupBy keeps NULL as its
    # own group, and the plan join below is NULL-SAFE (eqNullSafe), so
    # NULL-source rows get their own quota instead of silently vanishing
    # (a plain equi-join never matches NULL = NULL) — and, unlike a
    # coalesce-to-sentinel, a source literally named "__null__" stays a
    # separate group instead of being merged with the NULL one.
    df = df.withColumn("__src", F.col(source_col).cast("string"))
    counts = df.groupBy("__src").agg(F.count(F.lit(1)).alias("__n"))
    norm = counts.agg(F.sum(F.pow("__n", F.lit(alpha))).alias("__z"),
                      F.sum("__n").alias("__total"))
    plan = (counts.crossJoin(F.broadcast(norm))
            .withColumn("__quota",
                        (F.coalesce(F.lit(target_rows).cast("double"),
                                    F.col("__total").cast("double"))
                         * F.pow("__n", F.lit(alpha)) / F.col("__z")))
            .withColumn("__frac",
                        F.least(F.lit(1.0), F.col("__quota") / F.col("__n")))
            .withColumn("mix_weight",
                        F.round(F.col("__quota")
                                / F.least(F.col("__quota").cast("double"),
                                          F.col("__n").cast("double")), 6))
            .select(F.col("__src").alias("__psrc"), "__frac", "mix_weight"))
    out = df.join(F.broadcast(plan),
                  df["__src"].eqNullSafe(plan["__psrc"]))
    return (out.filter(hash_bucket(F.col(key_col), BUCKETS, salt)
                       < F.col("__frac") * BUCKETS)
            .drop("__frac", "__src", "__psrc"))


def _spread_boundary(frame: DataFrame) -> DataFrame:
    """Round-robin repartition a persisted stage boundary to the session's
    parallelism before its blocks are cached.

    The line-dedup and exact-dedup boundaries come out of joins, and AQE's
    size-based coalescing collapses a small survivor set to 1-5 shuffle
    partitions — which then get PERSISTED that way, serializing every
    downstream Arrow md5 kernel (MinHash signatures + both shingle-posting
    verify sides) onto one or two cores. Measured at bench scale: the
    near-dup stage ran 4.7s on the coalesced boundary vs 2.5s with a
    spread input — the kernels are CPU-bound, so lost parallelism is a
    straight multiplier (workload.registry.spread documents the same
    pathology for tiny parquet scans). A bare REPARTITION_BY_NUM exchange
    is deliberate: AQE never coalesces it, and Project/Generate/
    MapInPandas all plan above it on Spark 4.x.

    Cost honesty at 100 TB: one extra all-to-all of the boundary's
    SURVIVOR set (already reduced by the quality gate and the upstream
    dedup stages) per persisted boundary — and the boundary is being
    materialized block-by-block anyway for the persist, where a skewed or
    coalesced layout would hurt every downstream stage repeatedly.

    Why no registry.spread-style getNumPartitions() guard: that guard
    works on SCANS, where the pre-execution partition count reflects file
    splits. On a lazy JOIN output, df.rdd.getNumPartitions() reports the
    static shuffle.partitions width — AQE's coalescing happens at
    runtime, after the guard would have decided — so the guard would
    no-op exactly in the pathological case this helper exists for. The
    count targets max(parallelism, shuffle width) so the repartition
    never REDUCES a cluster-sized boundary's partition count when
    shuffle.partitions exceeds the core count."""
    from ..session import shuffle_partitions
    sc = frame.sparkSession.sparkContext
    # defensive conf parse (r8, ADVICE): shuffle.partitions can be the
    # string "auto" under Databricks AQE auto-tuning, and a ValueError
    # here failed the whole curation path
    conf_parts = shuffle_partitions(frame.sparkSession)
    return frame.repartition(max(sc.defaultParallelism, conf_parts))


def curate_corpus(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", source_col: str = "source",
                  benchmark: DataFrame | None = None,
                  min_tokens: int = 5, min_alpha_ratio: float = 0.5,
                  max_line_df: int = 100,
                  near_dup_threshold: float = 0.7,
                  near_dup_hashes: int = 32, near_dup_band_rows: int = 4,
                  split_weights: Mapping[str, float] | None = None
                  ) -> DataFrame:
    """The flagship end-to-end training-data curation recipe, composed
    from this module's and ``operators.dedupe``'s primitives in the order
    web-scale pipelines (C4 / Gopher / RefinedWeb) run them:

    1. quality gate — token count + alpha ratio thresholds (cheap map
       pass first, so every later stage sees less data);
    2. corpus-level boilerplate-line removal (``dedupe_lines`` with a
       BOILERPLATE threshold — ``max_line_df`` documents; 1 here would
       strip the shared body of exact duplicates before step 3 could
       pick a canonical), then a re-check of the token floor;
    3. exact dedup — one row per normalized-content fingerprint, min id
       canonical (one shuffle);
    4. near-dup collapse — MinHash/LSH + verify + connected components
       (``minhash_dedup_keep``: one anti-join against the component
       losers), keep the component canonical;
    5. optional benchmark decontamination (``decontaminate``);
    6. deterministic leakage-safe split labels keyed on ``source_col``.

    Returns the curated frame (original columns + ``split``) with a
    ``curation_stage`` column left OUT by design — stage attrition is the
    caller's telemetry concern (count the frames between stages); baking
    counts in here would force an action per stage inside the operator.
    ``curate_corpus_stages`` exposes exactly those frames for callers that
    want the telemetry (the curate CLI's ``--report``).

    Every stage is the already-stress-tested scale shape: map-side
    filters, the skew-capped posting-list expansion, bounded component
    closure — no new shuffle pattern is introduced by the composition.

    The returned plan references three ``persist()``-ed stage boundaries
    (see ``curate_corpus_stages``); a long-lived session that curates
    many distinct corpora should release them once the result is
    materialized (the CLI's track-and-unpersist pattern, jobs/curate.py)
    — identical re-runs are deduplicated by Spark's cache manager and
    cost nothing extra."""
    out = None
    for _name, frame in curate_corpus_stages(
            docs, text_col=text_col, id_col=id_col, source_col=source_col,
            benchmark=benchmark, min_tokens=min_tokens,
            min_alpha_ratio=min_alpha_ratio, max_line_df=max_line_df,
            near_dup_threshold=near_dup_threshold,
            near_dup_hashes=near_dup_hashes,
            near_dup_band_rows=near_dup_band_rows,
            split_weights=split_weights):
        out = frame
    return out


def curate_corpus_stages(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", source_col: str = "source",
                         benchmark: DataFrame | None = None,
                         min_tokens: int = 5, min_alpha_ratio: float = 0.5,
                         max_line_df: int = 100,
                         near_dup_threshold: float = 0.7,
                         near_dup_hashes: int = 32,
                         near_dup_band_rows: int = 4,
                         split_weights: Mapping[str, float] | None = None):
    """``curate_corpus`` with the stage boundaries exposed: yields
    ``(stage_name, frame)`` after each pipeline stage, ending with the
    final ``("split", curated)`` frame — the SINGLE implementation both
    entry points share, so the telemetry view can never drift from the
    composed recipe.

    Laziness caveats, so callers aren't surprised:

    - the three stage outputs that downstream stages consume MORE THAN
      ONCE (quality feeds the line explode twice plus dedupe_lines'
      join-back; line-dedup feeds the fingerprint aggregate AND the
      survivor join; exact-dedup feeds the fused MinHash
      signature/posting pass AND the final survivor join) are lazily
      ``persist()``-ed — the in-query analog
      of the persisted silver table each would be in the production
      layout. Without that, every action downstream of the near-dup
      stage recomputes the whole quality→line-dedup→exact prefix per
      consumer — measured 5× the end-to-end cost at bench scale, and the
      same multiple of 100 TB scans in production. Callers that count
      stages (the curate CLI's ``--report``) persist the remaining
      boundaries the same way, and should unpersist every cached frame
      when done (run_curate does);
    - the first four yields are pure plan declarations, but ADVANCING
      PAST ``exact_dedup`` runs Spark jobs: ``minhash_dedup_keep``'s
      closure runs actions at construction (the edge-count gate, then
      the union-find kernel's checkpoint — or the loop's per-round
      counts on big graphs), so the quality→exact prefix materializes
      then — don't iterate to the ``near_dup`` stage just to inspect
      schemas."""
    from ..functions.text import quality_features
    from .dedupe import (dedupe_lines, decontaminate,
                         exact_canonical_ids, minhash_dedup_keep)

    # fail fast, before ANY stage computes: the near-dup stage would
    # otherwise surface a bad (hashes, band_rows) pair only after the
    # quality/line/exact stages have already run (minhash_lsh_candidates
    # owns the authoritative check; mirror it here for early arrivals)
    if (near_dup_band_rows < 1 or near_dup_hashes < 1
            or near_dup_hashes % near_dup_band_rows != 0):
        raise ValueError(
            f"near_dup_band_rows ({near_dup_band_rows}) must be >= 1 and "
            f"divide near_dup_hashes ({near_dup_hashes}) exactly")
    if split_weights is not None:
        split_column(id_col, dict(split_weights))  # raises on bad weights

    q = quality_features(text_col)
    kept = docs.filter((q["n_tokens"] >= min_tokens)
                       & (q["alpha_ratio"] >= min_alpha_ratio))
    # The quality boundary is consumed THREE times by the line-dedup
    # stage (the line explode feeds both the count side and the rebuild
    # join, and the non-text columns ride dedupe_lines' final join back
    # to this frame) — unpersisted, that is three derivations of the
    # scan + quality projection per run (r7). Same persist/unpersist
    # contract as the other stage boundaries: callers that walk the
    # stages unpersist every cached frame when done.
    kept = kept.persist()
    yield "quality_gate", kept

    # dedupe_lines carries the non-text columns through its own join-back
    # (r7), so the previous second join (cleaned text -> lang/source/...)
    # and its re-scan of the quality prefix are gone — one join and one
    # upstream pass fewer per run at every scale.
    kept = (dedupe_lines(kept, text_col, id_col, max_df=max_line_df)
            .filter(quality_features(text_col)["n_tokens"] >= min_tokens))
    kept = _spread_boundary(kept).persist()
    yield "line_dedup", kept

    # skew-proof survivor set: min-per-fingerprint AGGREGATE, never the
    # per-row window report — a 100M-copy boilerplate page is exactly what
    # this stage must absorb (see exact_canonical_ids)
    kept = kept.join(exact_canonical_ids(kept, text_col, id_col),
                     id_col, "left_semi")
    kept = _spread_boundary(kept).persist()
    yield "exact_dedup", kept

    # survivor-set twin (r8): one anti-join against the loser frame
    # (bounded by edge nodes) instead of attaching the full canonical
    # mapping and semi-joining the corpus back against its own filter —
    # one corpus-wide shuffle join, not two
    kept = minhash_dedup_keep(kept, text_col, id_col,
                              num_hashes=near_dup_hashes,
                              band_rows=near_dup_band_rows,
                              threshold=near_dup_threshold)
    yield "near_dup", kept

    if benchmark is not None:
        kept, _ = decontaminate(kept, benchmark, text_col, id_col)
        yield "decontaminate", kept

    yield "split", dataset_split(kept, source_col, split_weights)


def resample_periodic(df: DataFrame, key_cols: Sequence[str], ts_col: str,
                      step: str, value_cols: Sequence[str],
                      fill: str = "ffill") -> DataFrame:
    """Per-key periodic resampling with gap fill: emit one row per ``step``
    tick between each key's first and last observation, carrying values
    forward over gaps (``fill='ffill'``) or leaving them null
    (``fill='none'``).

    The time grid is generated per key with sequence+explode — bounded by
    span/step per key, never by table size — then observations attach via
    a left join on the bucketed tick and forward-fill runs as one
    last(ignorenulls) window per key ordered by tick. Two shuffles on the
    key (grid agg + window), both AQE-coalescible; the reference's period
    grids (A1-A5 zero-filled marts) are the calendar-grain cousins of this
    operator."""
    if fill not in ("ffill", "none"):
        raise ValueError("fill must be 'ffill' or 'none'")
    from .temporal import parse_step_seconds
    secs = parse_step_seconds(step)
    keys = list(key_cols)
    # floor, not cast: cast('long') truncates toward zero, so pre-1970
    # (negative-epoch) timestamps would land one bucket LATE
    tick = F.floor(F.unix_timestamp(F.col(ts_col)) / secs) * secs
    obs = df.withColumn("__tick", tick)
    grid = (obs.groupBy(*keys)
            .agg(F.min("__tick").alias("__lo"), F.max("__tick").alias("__hi"))
            .select(*keys, F.explode(
                F.sequence("__lo", "__hi", F.lit(secs))).alias("__tick")))
    # keep-last per (key, tick): the newest observation inside a bucket
    # wins; value columns break exact-timestamp ties so the pick is
    # deterministic under retries/speculation (module contract)
    w_tick = Window.partitionBy(*keys, "__tick").orderBy(
        F.col(ts_col).desc(), *[F.col(c).desc_nulls_last()
                                for c in value_cols])
    latest = (obs.withColumn("__rn", F.row_number().over(w_tick))
              .filter(F.col("__rn") == 1)
              .select(*keys, "__tick", *value_cols))
    out = grid.join(latest, [*keys, "__tick"], "left")
    if fill == "ffill":
        w = (Window.partitionBy(*keys).orderBy("__tick")
             .rowsBetween(Window.unboundedPreceding, 0))
        for c in value_cols:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out.withColumn(
        ts_col, F.timestamp_seconds(F.col("__tick"))).drop("__tick")
