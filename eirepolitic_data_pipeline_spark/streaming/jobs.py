"""Structured Streaming surface — SURVEY §2.10.

The reference has no streaming runtime; its incremental semantics are cron
micro-batches with overlapping lookback windows reconciled by keep-last
upsert. The Spark-native equivalents provided here:

- **watermark = overlap window**: the reference's 35-day weekly lookback
  becomes ``withWatermark(ts, overlap)`` — late rows inside the overlap are
  incorporated, older ones dropped, exactly the reference's trade-off.
- **idempotent reprocessing** → ``dropDuplicates`` on the deterministic
  event id under the watermark (at-least-once + dedupe, reference
  resume-map semantics).
- **tumbling/sliding windows** → ``F.window``; **sessions** →
  ``F.session_window`` (gap-based, the streaming twin of workload
  q20_sessionization).

All jobs take a source DataFrame (``spark.readStream`` or a batch frame for
testing — the transformations are identical in both modes; batch mode is
the ``availableNow`` analog used by the tests)."""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from ..operators.vectors import IVFPQModel


def tumbling_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "35 days",
                          slide: str | None = None) -> DataFrame:
    """Tumbling-window counts/sums per event_type with late-data watermark
    (reference weekly overlap → watermark). Pass ``slide`` (< window) for
    SLIDING windows — each event then lands in window/slide overlapping
    windows (the alerting/rate-monitoring shape); None keeps the tumbling
    behavior (slide == window). Same epoch-aligned grid either way."""
    src = events
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window, slide or window).alias("win"),
                    "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("total_value"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "event_type", "n_events", "total_value")
    )


def dedup_events_stream(events: DataFrame, id_col: str = "event_id",
                        watermark: str = "35 days") -> DataFrame:
    """Idempotent at-least-once ingestion: dedupe on the deterministic id
    within the watermark horizon (reference upsert-keep-last reconciliation
    of re-delivered overlap rows)."""
    src = events
    if src.isStreaming:
        # dropDuplicatesWithinWatermark, NOT dropDuplicates([id]): plain
        # dedup only evicts state when the event-time column is part of the
        # subset, so id-only dedup state would grow forever. The
        # within-watermark variant keys state on the id and expires entries
        # once the watermark passes — bounded state, the reference's
        # overlap-window reconciliation exactly.
        src = src.withWatermark("ts", watermark)
        return src.dropDuplicatesWithinWatermark([id_col])
    # batch mode: deterministic keep-last (newest ts, total-order
    # tiebreak) — dropDuplicates keeps whichever row the shuffle delivers
    # first, so a backfill carrying two versions of one id would commit
    # different payloads on different runs
    from ..operators.dedupe import dedupe_keep_first
    order = [F.col("ts").desc_nulls_last()] + [
        F.col(f.name).desc_nulls_last() for f in src.schema.fields
        if f.name not in (id_col, "ts")
        and "map<" not in f.dataType.simpleString()]
    return dedupe_keep_first(src, [id_col], order)


def sessionized_stream(events: DataFrame, gap: str = "30 minutes",
                       watermark: str = "35 days") -> DataFrame:
    """Session windows per user (gap-close semantics). Batch mode gives the
    same sessions as the lag+cumsum formulation in workload q20."""
    src = events
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("session_events"),
             F.sum("value").alias("session_value"))
        .select("user_id",
                F.col("sess.start").alias("session_start"),
                F.col("sess.end").alias("session_end"),
                "session_events", "session_value")
    )


def stateful_user_totals(events: DataFrame,
                         value_threshold: float = 50.0) -> DataFrame:
    """Custom stateful operator: per-user running totals + high-value count.

    The one §2.10 shape the built-ins can't express: arbitrary per-key state
    carried across micro-batches, here via ``applyInPandasWithState`` (Arrow
    batches, one state row per user). Each update emits the user's running
    event count, value sum, and count of values above the threshold — the
    streaming analog of the reference's resume-map jobs that accumulate
    per-key progress across runs (`process/llm_table_runner.py:362-445`).

    State is partitioned by user_id, so at scale it shards across executors
    with no driver involvement; state size is O(distinct users) × 3 numbers.
    Streaming-only (Spark requires a streaming source for stateful apply).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    # the key column keeps ITS OWN type: hardcoding `long` would fail the
    # Arrow conversion on the first micro-batch of any string/UUID-keyed
    # events source
    key_type = events.schema["user_id"].dataType.simpleString()
    out_schema = (f"user_id {key_type}, n_events long, total_value double, "
                  "n_high long")
    state_schema = "n long, total double, nh long"

    def update(key, pdfs, state):
        n, total, nh = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
            nh += int((pdf["value"] > value_threshold).sum())
        state.update((n, total, nh))
        yield pd.DataFrame([{"user_id": key[0], "n_events": n,
                             "total_value": total, "n_high": nh}])

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def streaming_merge_sink(events: DataFrame, writer, table: str, policy,
                         batch_id: str, *, id_col: str = "event_id",
                         watermark: str = "35 days",
                         checkpoint_dir: str | None = None,
                         ts_col: str = "ts",
                         processing_interval: str | None = None):
    """Continuous ingestion into the engine's merge-on-write catalog.

    Wires Structured Streaming to the MergeWriter through ``foreachBatch``:
    each micro-batch is deduplicated on the deterministic id within the
    watermark (at-least-once delivery → exactly-once table contents), then
    applied to retained history under the table's write policy — the same
    upsert-keep-last reconciliation the reference runs per cron window
    (`merge.py:14-30` + `io_s3.py:118-127`), now incremental.

    ``policy`` must be replay-idempotent (``upsert`` /
    ``snapshot_replace`` / ``rebuild``): foreachBatch re-delivers a failed
    epoch from the checkpoint, and only a keyed merge or a wholesale
    replace absorbs the replay. A plain ``append`` policy would silently
    duplicate every replayed row, so it is refused here — append-shaped
    streams should carry a deterministic id and use upsert on it.

    The cross-batch id dedup applies to UPSERT only. Snapshot policies
    (``snapshot_replace``/``rebuild``) replace the table wholesale per
    epoch, so each epoch must carry the COMPLETE state: stripping
    already-seen ids from a later snapshot would make the replace merge
    silently drop those rows from the table. Replace is naturally
    idempotent under epoch replay without any dedup.

    ``processing_interval`` selects the trigger: None (default) runs
    availableNow — drain what exists and stop, the batch-orchestrated
    refresh shape; a duration string ("30 seconds") runs the continuous
    micro-batch trigger for a long-lived ingestion query.

    Streaming input returns the StreamingQuery (caller owns
    awaitTermination / stop). A BATCH frame (tests, backfills) cannot
    writeStream — it is applied through the same merge path once and
    returns None.
    """
    if policy.mode == "append":
        raise ValueError(
            "streaming_merge_sink requires a key-idempotent policy "
            "(upsert/snapshot_replace/rebuild); 'append' duplicates rows "
            "when a failed epoch replays from the checkpoint")

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        writer.write(batch_df, table, policy, batch_id, accumulate=True)

    dedup = policy.mode == "upsert"  # see the docstring: snapshots must
    #                                  arrive complete, never id-stripped
    if not events.isStreaming:
        batch = events
        if dedup:
            # deterministic keep-last per id, not dropDuplicates: a
            # backfill carrying two versions of one event would otherwise
            # commit whichever row the shuffle delivered first, flipping
            # payloads between runs of the same input
            from ..operators.dedupe import dedupe_keep_first
            order = [F.col(ts_col).desc_nulls_last()] + [
                F.col(f.name).desc_nulls_last() for f in batch.schema.fields
                if f.name not in (id_col, ts_col)
                and "map<" not in f.dataType.simpleString()]
            batch = dedupe_keep_first(batch, [id_col], order)
        apply_batch(batch, 0)
        return None
    src = events
    if dedup:
        # Within-watermark dedup: bounded state (see dedup_events_stream).
        src = (src.withWatermark(ts_col, watermark)
               .dropDuplicatesWithinWatermark([id_col]))
    w = src.writeStream.foreachBatch(apply_batch)
    if processing_interval is None:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=processing_interval)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()


def streaming_index_refresh_sink(vectors: DataFrame, model: IVFPQModel,
                                 path: str, *,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 checkpoint_dir: str | None = None,
                                 processing_interval: str | None = None):
    """Continuous vector ingestion into a persisted IVF-PQ serving
    index: each micro-batch encodes with the FROZEN ``IVFPQModel`` (either
    codec) and appends into cell partitions — ``refresh_ivf_pq_index``
    driven by Structured Streaming instead of cron, the
    streaming leg of the index lifecycle (build → refresh → compact →
    drift-watch → refit). Serving keeps reading a consistent index
    throughout: the append adds files inside ``cell=`` dirs and a serve
    racing it simply misses the still-landing rows (the same
    read-committed story as the batch refresh).

    Epoch idempotence: ``foreachBatch`` replays a FAILED epoch from the
    checkpoint, and a parquet append-sink would re-append the replayed
    rows — duplicate ``vec_id``s that the serving paths would surface
    as duplicate candidates. Each applied epoch therefore writes a
    marker under ``<path>/_epochs/`` and a replayed epoch that finds
    its marker SKIPS (the standard foreachBatch idempotence recipe,
    test-pinned). The residual window — a crash BETWEEN the append and
    its marker — still duplicates that one epoch on replay; a sink that
    must close it needs a transactional table format, which this repo
    deliberately does not depend on. ``ivf_pq_index_drift`` remains the
    steady-state watchdog either way, and a full rebuild
    (mode="overwrite") repairs any duplication.

    Streaming input returns the StreamingQuery (caller owns
    awaitTermination / stop); trigger defaults to availableNow (drain
    and stop — the batch-orchestrated refresh shape), or pass
    ``processing_interval`` for a long-lived micro-batch query. A BATCH
    frame applies once through the same refresh path and returns None
    (the tests' and backfills' shape)."""
    import os

    from ..operators.similarity import refresh_ivf_pq_index

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        marker_dir = os.path.join(path, "_epochs")
        marker = os.path.join(marker_dir, str(epoch_id))
        if os.path.exists(marker):
            return  # replayed epoch, already fully applied
        refresh_ivf_pq_index(batch_df, model, path, vec_col=vec_col,
                             id_col=id_col)
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as f:
            f.write("applied")

    if not vectors.isStreaming:
        # batch/backfill shape: apply once, no marker (the caller owns
        # idempotence when there is no checkpoint to replay from)
        if not vectors.isEmpty():
            refresh_ivf_pq_index(vectors, model, path, vec_col=vec_col,
                                 id_col=id_col)
        return None
    w = vectors.writeStream.foreachBatch(apply_batch)
    if processing_interval is None:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=processing_interval)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()


def load_moments(path: str) -> dict:
    """Read the moments state ``streaming_moments_sink`` maintains —
    the input of ``pca_fit_from_moments`` (refit) and
    ``covariance_frame_from_moments`` (profiling)."""
    import json
    import os

    state_file = os.path.join(path, "moments.json")
    if not os.path.exists(state_file):
        raise FileNotFoundError(
            f"no moments state at {state_file} — the sink has not "
            "applied any batch yet")
    with open(state_file) as f:
        return json.load(f)


def streaming_moments_sink(vectors: DataFrame, path: str, *,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           checkpoint_dir: str | None = None,
                           processing_interval: str | None = None):
    """Continuous maintenance of the PCA sufficient statistic: each
    micro-batch folds its own one-pass ``pca_moments`` into the running
    state under ``<path>/moments.json`` via ``merge_moments`` — the
    streaming leg of the incremental PCA lifecycle (q97's contract
    driven by Structured Streaming instead of cron), so a drift-
    triggered ``pca_fit_from_moments`` refit never rescans history.
    The state is moment-matrix-sized (dim² floats — the bounded model
    class, same as the frozen codebooks), written atomically
    (tmp + rename) by the single foreachBatch writer; a multi-writer
    deployment would hold it in a transactional store instead.

    Epoch idempotence: the ``streaming_index_refresh_sink`` marker
    recipe — a replayed epoch that finds its ``<path>/_epochs/``
    marker skips, so at-least-once delivery never double-counts a
    batch into the additive statistic (which, unlike the index append,
    would corrupt silently rather than just duplicate candidates). A
    batch with no well-formed vectors marks-and-skips (nothing to
    fold). Batch frames apply once and return None; streaming input
    returns the StreamingQuery (availableNow unless
    ``processing_interval`` is given)."""
    import json
    import os

    from ..operators.vectors import merge_moments, pca_moments

    state_file = os.path.join(path, "moments.json")

    def fold(batch_df: DataFrame) -> None:
        try:
            delta = pca_moments(batch_df, vec_col=vec_col,
                                id_col=id_col)
        except ValueError:
            return  # no well-formed vectors in this batch
        if os.path.exists(state_file):
            with open(state_file) as f:
                merged = merge_moments(json.load(f), delta)
        else:
            merged = delta
        os.makedirs(path, exist_ok=True)
        tmp = state_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, state_file)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        marker_dir = os.path.join(path, "_epochs")
        marker = os.path.join(marker_dir, str(epoch_id))
        if os.path.exists(marker):
            return  # replayed epoch, already folded
        fold(batch_df)
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as f:
            f.write("applied")

    if not vectors.isStreaming:
        if not vectors.isEmpty():
            fold(vectors)
        return None
    w = vectors.writeStream.foreachBatch(apply_batch)
    if processing_interval is None:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=processing_interval)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()
