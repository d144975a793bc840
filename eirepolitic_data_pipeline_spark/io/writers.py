"""MergeWriter — merge-on-write sink (reference S13, `io_s3.py:118-127`).

Before a table's "latest" is (re)written, the current production table is
read through the catalog pointer and the write-policy merge is applied, so
the write path IS the merge operator. The merged result lands in the open
candidate batch; promotion makes it production with one pointer write.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark import StorageLevel
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.merge import (WritePolicy, merge_for_policy,
                               merge_upsert_antijoin)
from .catalog import BatchCatalog, CatalogError, is_path_not_found


@dataclass
class MergeWriter:
    catalog: BatchCatalog
    spark: SparkSession

    def write(self, incoming: DataFrame, table: str, policy: WritePolicy,
              batch_id: str, snapshot_date: Optional[str] = None,
              accumulate: bool = False, bucket_by: tuple = (),
              num_buckets: int = 0, status: str = "ok",
              schema: Optional[StructType] = None,
              gate: Optional[Observation] = None,
              check: Optional[Callable[[], None]] = None) -> DataFrame:
        """Merge incoming into retained history per policy, write to the
        candidate batch, and return the merged DataFrame.

        ``snapshot_date`` partitions the physical layout (hive-style, as the
        reference's `snapshot_date={d}` keys) when provided.

        ``accumulate`` is the streaming micro-batch mode: merge against the
        CANDIDATE batch's current state when it exists (else production), and
        replace the candidate table — so successive micro-batches build up
        one batch dir instead of colliding, and a checkpoint replay re-merges
        idempotently. The replace goes through the catalog's atomic-swap
        overwrite (write to a temp dir, rename into place), so the merged
        plan can read the current candidate dir directly — no localCheckpoint
        (whose non-replicated, lineage-severed blocks would be the ONLY copy
        of all prior micro-batch merges on a real cluster) and no window
        where a mid-write failure has destroyed the previous state. The
        returned frame re-reads the committed files, not the pre-swap plan.

        ``bucket_by``/``num_buckets`` persist the merged table BUCKETED
        (merge-heavy fact tables set this by default via the registry's
        ``bucket_by`` config). When the bucket keys are exactly the
        policy's primary key, the merge itself switches to the anti-join
        form (operators/merge.py:merge_upsert_antijoin) so the
        storage-clustered history is never re-shuffled — the refresh-cycle
        cost becomes O(delta), not O(history). The window-over-union form
        remains the default for everything else.

        ``schema`` is the table's declared schema (the registry's); given
        it, the history read infers nothing. ``gate`` observes the incoming
        batch's DQ metrics in the merge (operators/merge.py), and ``check``
        judges them once the files land — before the table enters the
        batch manifest (BatchCatalog.write_table).
        """
        existing = None
        existing_batch = None  # which batch's manifest describes `existing`
        if accumulate:
            # Existence check, not a broad try/except: a transient READ
            # failure must propagate (falling back to production and then
            # overwriting the candidate would silently drop the prior
            # micro-batches). The catalog's check is swap-crash-aware: it
            # restores a candidate stranded at its `.__replaced` sibling
            # before answering.
            if self.catalog.candidate_table_exists(batch_id, table):
                existing = self.catalog.read_table(
                    self.spark, table, batch_id=batch_id, schema=schema)
                existing_batch = batch_id
        if existing is None:
            # The production MANIFEST decides whether history exists — a
            # table it does not record (no pointer yet, or the first write
            # of a NEW table) is genuine absence and is never read. A read
            # failure on a recorded table propagates: treating a corrupt
            # table as "no history" would silently reset retained history
            # to this write's input, and PATH_NOT_FOUND there means its
            # data dir vanished out from under the catalog (external
            # delete, partial restore).
            prod = self.catalog.production_batch_id()
            if prod is not None and self.catalog.batch_has_table(prod, table):
                existing_batch = prod
                try:
                    existing = self.catalog.read_table(
                        self.spark, table, batch_id=prod, schema=schema)
                except AnalysisException as e:
                    if is_path_not_found(e):
                        raise CatalogError(
                            f"production manifest for batch {prod!r} "
                            f"records table {table!r} but its data "
                            "directory is missing — refusing to treat "
                            "corruption as first-write (history would be "
                            "silently reset to this batch)") from e
                    raise
        # The anti-join form is only EQUIVALENT to the window merge when the
        # history side is already PK-unique (merge_upsert_antijoin's
        # preconditions) — a config alone can't prove that: history merged
        # under an older append policy, or written by a direct caller that
        # skipped the DQ gate, may hold duplicate PKs the window form would
        # collapse but the anti-join would retain forever. So the fast path
        # additionally requires the history's own manifest PROVENANCE: its
        # entry must record it was produced by an upsert merge on this same
        # primary key (merge_pk, written below). Absent/mismatched
        # provenance falls back to the window form, whose output then
        # records the provenance — self-healing after one full merge.
        pk = tuple(policy.primary_key)
        pk_unique_out = policy.mode == "upsert" and not policy.business_key
        hist_pk = ()
        if existing is not None:
            hist_pk = tuple(self.catalog.table_entry(
                table, batch_id=existing_batch).get("merge_pk") or ())
        fast_path = (existing is not None and pk_unique_out
                     and bucket_by and tuple(bucket_by) == pk
                     and hist_pk == pk)
        pinned = None
        if fast_path and incoming.storageLevel == StorageLevel.NONE:
            # the fast path reads the delta three times (the null-PK probe,
            # the dedupe and the anti-join keys): pin it for this write so
            # its source is computed once, and release only what this
            # write pinned
            pinned = incoming = incoming.persist()
        try:
            if fast_path:
                # merge_upsert_antijoin's remaining precondition is
                # NON-NULL PKs: a null PK component groups in the window
                # form but never matches the plain-equality anti-join, so
                # the old row would be kept AND the new one appended — and
                # the merge_pk stamp would keep routing the now-duplicate
                # history down the fast path forever. The DQ gate checks
                # only the LEADING key, so probe the delta (delta-sized
                # scan, not history) and fall back to the window form when
                # any PK column holds a null.
                null_pk = None
                for k in pk:
                    c = F.col(k).isNull()
                    null_pk = c if null_pk is None else (null_pk | c)
                if incoming.filter(null_pk).limit(1).count():
                    fast_path = False
            # observability (and the tests' hook): which merge form ran —
            # the returned frame is the committed re-read, whose plan no
            # longer shows the join shape
            self.last_merge_form = "antijoin" if fast_path else "window"
            if fast_path:
                merged = merge_upsert_antijoin(existing, incoming, policy,
                                               gate)
            else:
                merged = merge_for_policy(existing, incoming, policy, gate)
            partition_by = ()
            if snapshot_date is not None:
                merged = merged.withColumn("snapshot_date",
                                           F.lit(snapshot_date))
                # hive-style snapshot_date={d} layout, as documented above
                partition_by = ("snapshot_date",)
            self.catalog.write_table(merged, table, batch_id, status=status,
                                     overwrite=accumulate,
                                     partition_by=partition_by,
                                     bucket_by=tuple(bucket_by),
                                     num_buckets=num_buckets,
                                     merge_pk=pk if pk_unique_out else (),
                                     check=check)
        finally:
            if pinned is not None:
                pinned.unpersist()
        # Hand back the COMMITTED files in both modes, never the pre-write
        # merge plan: in accumulate mode the swap has replaced the files
        # that plan read; in batch mode the plan still works, but the
        # caller's first action on it would re-execute the entire history
        # merge a second time — at fact scale that doubles the dominant
        # refresh cost for nothing. The written schema is known, so the
        # re-read infers nothing.
        return self.catalog.read_table(self.spark, table, batch_id=batch_id,
                                       schema=merged.schema)
