"""Immutable-batch + production-pointer catalog.

Re-expresses the reference's publish/promote/rollback machinery
(`extract/oireachtas/batch.py:53-283`, `io_s3.py:62-83`) as a thin layout +
pointer layer over any filesystem Spark can address (local path, s3a://,
hdfs://):

Layout::

    {root}/batches/{batch_id}/tables/{table}/   ← immutable batch data
    {root}/pointer.json                         ← {"production_batch_id": ...}

Semantics preserved from the reference:
- candidate (latest) writes are REDIRECTED into the open batch; a candidate
  write without a batch id is refused (`io_s3.py:74-83`);
- reads resolve through the production pointer (`batch.py:77-88`);
- promotion is a SINGLE pointer write of a VALIDATED batch
  (`batch.py:180-219`); rollback re-points to any previous batch
  (`batch.py:222-283`);
- a batch whose manifest has missing/failed tables cannot be promoted
  (`batch.py:133-177`).

The pointer file is tiny driver-side JSON — the data itself never moves on
promote/rollback, so both are O(1) regardless of table size (the property
that makes this safe at 100 TB).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from . import atomic
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _path_digest(path: str) -> str:
    """Stable 12-hex identifier for a path, used in session-catalog table
    names. hashlib, NOT Python hash(): str hashing is PYTHONHASHSEED-salted
    per process, so hash-derived names would differ every run — on a
    persistent (Hive) metastore each new driver would CREATE a fresh entry
    for the same path while DROP IF EXISTS only ever hits its own name,
    accumulating entries unboundedly."""
    import hashlib
    return hashlib.sha256(path.encode("utf-8")).hexdigest()[:12]


class CatalogError(RuntimeError):
    pass


def is_path_not_found(e: Exception) -> bool:
    """True when an AnalysisException carries the PATH_NOT_FOUND condition
    — the one version-compat probe (getCondition on Spark 4, getErrorClass
    before it) shared by every caller that must distinguish a genuinely
    absent table from any other read failure."""
    get_cond = getattr(e, "getCondition", None) or \
        getattr(e, "getErrorClass", None)
    return get_cond is not None and get_cond() == "PATH_NOT_FOUND"


#: how long ``observed`` waits for an observation's metrics
OBSERVATION_TIMEOUT_S = 600.0


def observed(observation: Observation) -> dict:
    """The metrics of an Observation whose action has ALREADY finished.

    Spark fills an observation from its listener bus, shortly after the
    action returns; ``Observation.get`` waits for that with no bound, so
    an observation no action carried (a plan that pruned it, a dropped
    listener event) would hang the caller. This waits at most
    ``OBSERVATION_TIMEOUT_S`` and then fails loudly. (A Spark Connect
    observation has no JVM handle; its metrics arrive with the action's
    result.)"""
    jo = getattr(observation, "_jo", None)
    if jo is not None:
        future = jo.future()
        deadline = time.monotonic() + OBSERVATION_TIMEOUT_S
        pause = 0.001
        while not future.isCompleted():
            if time.monotonic() > deadline:
                raise CatalogError(
                    f"observed metrics not reported within "
                    f"{OBSERVATION_TIMEOUT_S:.0f} s of the action that "
                    "carried them")
            time.sleep(pause)
            pause = min(2 * pause, 0.01)
    return observation.get


@dataclass
class BatchCatalog:
    root: str

    # -- paths ---------------------------------------------------------------
    def batch_path(self, batch_id: str, table: str) -> str:
        return os.path.join(self.root, "batches", batch_id, "tables", table)

    @property
    def pointer_path(self) -> str:
        return os.path.join(self.root, "pointer.json")

    def manifest_path(self, batch_id: str) -> str:
        """Public accessor for the batch manifest location (recorded in the
        control tables' manifest_s3_key column)."""
        return self._manifest_path(batch_id)

    def _manifest_path(self, batch_id: str) -> str:
        return os.path.join(self.root, "batches", batch_id, "manifest.json")

    # -- pointer -------------------------------------------------------------
    def production_batch_id(self) -> Optional[str]:
        try:
            with open(self.pointer_path) as f:
                return json.load(f).get("production_batch_id")
        except FileNotFoundError:
            return None

    def _write_pointer(self, batch_id: str, previous: Optional[str]):
        os.makedirs(self.root, exist_ok=True)
        tmp = self.pointer_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"production_batch_id": batch_id,
                       "previous_batch_id": previous,
                       "promoted_at_unix": int(time.time())}, f, sort_keys=True)
        os.replace(tmp, self.pointer_path)  # single atomic pointer write

    # -- manifest ------------------------------------------------------------
    def record_table(self, batch_id: str, table: str, row_count: int,
                     status: str = "ok", replace: bool = False,
                     partition_by: tuple = (), bucket_by: tuple = (),
                     num_buckets: int = 0, merge_pk: tuple = ()):
        """Per-table batch entry (reference `batch.py:91-130`). ``replace``
        is for accumulating writers (streaming micro-batches) that re-record
        the same table within the open candidate batch. ``partition_by``
        records the hive partition columns so maintenance jobs (compaction,
        re-layout) can preserve the layout without re-inferring it from
        directory names; ``bucket_by``/``num_buckets`` record the storage
        bucketing (parquet files alone don't carry it) so read_table can
        re-attach it in any session. ``merge_pk`` records the primary key
        the rows were PK-UNIQUELY merged on (upsert merge output) — the
        provenance the MergeWriter's anti-join fast path requires of its
        history side; absent for tables written any other way."""
        m = self._load_manifest(batch_id)
        self._refuse_if_promoted(batch_id, m)
        if table in m["tables"] and not replace:
            raise CatalogError(f"duplicate table {table!r} in batch {batch_id!r}")
        m["tables"][table] = {"row_count": int(row_count), "status": status,
                              "partition_by": list(partition_by),
                              "bucket_by": list(bucket_by),
                              "num_buckets": int(num_buckets),
                              "merge_pk": list(merge_pk)}
        self._save_manifest(batch_id, m)

    def table_entry(self, table: str, batch_id: Optional[str] = None) -> dict:
        """The manifest entry for ``table`` in ``batch_id`` (default: the
        production batch); {} when the batch or table is absent."""
        bid = batch_id or self.production_batch_id()
        if bid is None:
            return {}
        return self._load_manifest(bid).get("tables", {}).get(table, {})

    def _refuse_if_promoted(self, batch_id: str, manifest: Optional[dict] = None):
        """EVER-promoted batches are immutable — even for NEW table names:
        a past batch is a valid rollback target and must stay byte-identical,
        or rollback could surface content never validated at promote time."""
        m = manifest if manifest is not None else self._load_manifest(batch_id)
        if m.get("promoted_at_unix"):
            raise CatalogError(
                f"batch {batch_id!r} has been promoted — promoted batches "
                "are immutable")

    def unpromoted_batches_containing(self, table: str) -> list[str]:
        """Batch ids whose manifest records ``table`` but was never
        promoted — i.e. completed-but-unpromoted candidate work. Durable
        (reads the manifests on disk), so a NEW process can detect a
        previous run that crashed between write and promote; the
        incremental-refresh guard is built on this."""
        bdir = os.path.join(self.root, "batches")
        try:
            ids = sorted(os.listdir(bdir))
        except FileNotFoundError:
            return []
        return [bid for bid in ids
                if not (m := self._load_manifest(bid)).get("promoted_at_unix")
                and table in m.get("tables", {})]

    def _load_manifest(self, batch_id: str) -> dict:
        p = self._manifest_path(batch_id)
        try:
            with open(p) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"batch_id": batch_id, "tables": {}}

    def _save_manifest(self, batch_id: str, manifest: dict):
        p = self._manifest_path(batch_id)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            json.dump(manifest, f, sort_keys=True)

    def validate_batch(self, batch_id: str, expected_tables: list[str]) -> list[str]:
        """Reference `batch.py:133-177`: missing/failed/dataless tables make
        the batch unpromotable. Returns the list of problems (empty = valid)."""
        m = self._load_manifest(batch_id)
        problems = []
        for tname in expected_tables:
            entry = m["tables"].get(tname)
            if entry is None:
                problems.append(f"missing table {tname!r}")
            elif entry["status"] != "ok":
                problems.append(f"table {tname!r} status={entry['status']!r}")
            elif not os.path.isdir(self.batch_path(
                    entry.get("from_batch") or batch_id, tname)):
                problems.append(f"table {tname!r} has no data directory")
        return problems

    def carry_forward(self, batch_id: str,
                      from_batch_id: Optional[str] = None) -> list[str]:
        """Record manifest REFERENCES in ``batch_id`` for every table the
        source batch (default: production) serves that ``batch_id`` does
        not itself build. Returns the carried table names.

        This is what lets a partial-cadence run promote: the production
        pointer is batch-global, so a monthly batch that builds only the
        monthly tables would otherwise either trip the shrink guard or
        (with allow_shrink) silently retire every weekly table. Data
        never moves — promoted batches are immutable, so the carried
        entry just points at the ORIGINAL producing batch's directory
        (``from_batch``, chased so chains never form: a carry of a carry
        still references the batch that physically wrote the files)."""
        src = from_batch_id or self.production_batch_id()
        if src is None or src == batch_id:
            return []
        m = self._load_manifest(batch_id)
        self._refuse_if_promoted(batch_id, m)
        carried = []
        for tname, entry in sorted(
                self._load_manifest(src).get("tables", {}).items()):
            if tname in m["tables"]:
                continue
            e = dict(entry)
            e["from_batch"] = entry.get("from_batch") or src
            m["tables"][tname] = e
            carried.append(tname)
        if carried:
            self._save_manifest(batch_id, m)
        return carried

    # -- write/read ----------------------------------------------------------
    def write_table(self, df: DataFrame, table: str, batch_id: Optional[str],
                    status: str = "ok", overwrite: bool = False,
                    partition_by: tuple = (), bucket_by: tuple = (),
                    num_buckets: int = 0, merge_pk: tuple = (),
                    check: Optional[Callable[[], None]] = None):
        """Candidate write — always lands in a batch dir.

        A production-bound write without a batch id is refused, mirroring the
        reference's candidate redirection guard (`io_s3.py:74-83`).
        Batches are immutable once PROMOTED; during the build window an
        accumulating writer (streaming micro-batches) may pass ``overwrite``
        to re-land the table in the OPEN candidate batch — the reference's
        own candidate keys are rewritten per table build the same way.

        ``bucket_by``/``num_buckets`` persist the table BUCKETED on those
        keys (sorted within buckets): the storage pays the clustering once,
        and every later merge/join on the keys plans without re-shuffling
        the table (the scan reports the bucketing as its output
        partitioning). The bucketing is recorded in the manifest so
        ``read_table`` can re-attach it in any later session — parquet
        files alone don't carry it.

        ``check`` runs after the files land and before the table enters
        the manifest (the write's own observed metrics are readable by
        then); if it raises, the landed files are removed and the error
        propagates, so the batch never records the table.
        """
        if not batch_id:
            raise CatalogError(
                f"refusing candidate write of {table!r} without a batch id")
        if bucket_by and num_buckets <= 0:
            raise CatalogError(
                f"bucketed write of {table!r} needs num_buckets > 0 "
                "(size it with io.bucketing.buckets_for)")
        if bucket_by and partition_by:
            raise CatalogError(
                f"bucketed write of {table!r}: combining hive partitioning "
                "with bucketing is not supported by the catalog's "
                "re-attach DDL; pick one layout per table")
        self._refuse_if_promoted(batch_id)
        path = self.batch_path(batch_id, table)
        atomic.heal_interrupted_swap(path)
        # The row count is observed IN the write job, not counted after it:
        # counting the plan executes it a second time, and counting the
        # committed files costs a schema-inference job plus a count job.
        rows = Observation()
        df = df.observe(rows, F.count(F.lit(1)).alias("rows"))
        swap = overwrite and os.path.isdir(path)
        target = path
        if swap:
            # Atomic-swap overwrite: the incoming plan may READ the current
            # table dir (accumulating merge writers do), and an in-place
            # overwrite that fails mid-write destroys the only copy of every
            # prior micro-batch merge. io/atomic.py's two-rename protocol:
            # the old data survives on disk until the new write has fully
            # committed, and a crash between the renames is healed on the
            # writer's next touch. (On a rename-less object store this step
            # would be a manifest/pointer update instead, exactly like
            # promote()'s pointer write.)
            target = atomic.incoming_path(path)
            self._write_files(df, target, partition_by, bucket_by,
                              num_buckets)
        elif bucket_by:
            if os.path.isdir(path):  # saveAsTable checks table, not path
                raise CatalogError(
                    f"table {table!r} already written in batch {batch_id!r}")
            self._write_files(df, path, partition_by, bucket_by, num_buckets)
        else:
            mode = "overwrite" if overwrite else "errorifexists"
            self._writer(df, mode, partition_by).parquet(path)
        try:
            row_count = int(observed(rows)["rows"])
            if check is not None:
                check()
        except BaseException:
            # nothing between the landed files and record_table may leave
            # them behind: a retry into this batch would hit them
            shutil.rmtree(target, ignore_errors=True)
            raise
        if swap:
            atomic.swap_in(path)
        self.record_table(batch_id, table, row_count, status,
                          replace=overwrite, partition_by=partition_by,
                          bucket_by=bucket_by, num_buckets=num_buckets,
                          merge_pk=merge_pk)

    def _write_files(self, df: DataFrame, target: str, partition_by: tuple,
                     bucket_by: tuple, num_buckets: int):
        """Write the data files for ``target``, bucketed when asked.

        Spark only writes bucketed data through ``saveAsTable``, so the
        bucketed branch routes through a throwaway session-catalog entry
        pinned to the target path, dropped immediately after (EXTERNAL
        table: the files stay; the durable bucketing record lives in the
        batch manifest, re-attached at read time)."""
        if not bucket_by:
            self._writer(df, "errorifexists", partition_by).parquet(target)
            return
        spark = df.sparkSession
        tmp_name = "__catalog_write_" + _path_digest(target)
        spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
        (df.write.format("parquet").mode("errorifexists")
         .option("path", target)
         .bucketBy(num_buckets, *bucket_by).sortBy(*bucket_by)
         .saveAsTable(tmp_name))
        spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")

    @staticmethod
    def _writer(df: DataFrame, mode: str, partition_by: tuple = ()):
        """Hive-style partitioned writer (`snapshot_date={d}` keys, the
        reference's published layout) when partition columns are given —
        readers then get partition pruning on those keys for free."""
        w = df.write.mode(mode)
        return w.partitionBy(*partition_by) if partition_by else w

    def candidate_table_exists(self, batch_id: str, table: str) -> bool:
        """Existence check for accumulating writers — swap-crash-aware, so
        a recovering stream merges against the restored prior state instead
        of silently falling back to production. WRITER-side only (the
        single writer that owns the candidate); readers never heal, because
        a reader that renames `.__replaced` back while a live swap is
        between its two renames would crash that swap (the healer cannot
        tell a crashed swap from one in flight)."""
        path = self.batch_path(batch_id, table)
        atomic.heal_interrupted_swap(path)
        return os.path.isdir(path)

    def batch_tables(self, batch_id: str) -> list[str]:
        """Tables the batch manifest records, sorted — what promote should
        validate when a run promotes the whole batch."""
        return sorted(self._load_manifest(batch_id).get("tables", {}))

    def batch_has_table(self, batch_id: str, table: str) -> bool:
        """READER-side existence check: consults only the batch manifest,
        never the filesystem, so it cannot interfere with a concurrent
        writer's in-flight atomic swap (candidate_table_exists heals and
        is writer-only). record_table runs after the data lands, so a
        manifest entry implies a complete readable table."""
        return table in self._load_manifest(batch_id).get("tables", {})

    def read_table(self, spark: SparkSession, table: str,
                   batch_id: Optional[str] = None,
                   schema: Optional[StructType] = None) -> DataFrame:
        """Read a table; production reads resolve through the pointer.

        ``schema`` is the table's known schema (the registry's, or the
        frame that was written): given it, the read infers nothing, and
        inference costs a Spark job per read. Columns are matched by name.

        Partition-value type inference is disabled for the read (and the
        previous session value restored immediately — schema is fixed at
        analysis time): hive keys are strings in this layout, and inference
        would round-trip `snapshot_date=2026-8-1` into '2026-08-01',
        silently rewriting non-canonical values.

        A table the manifest records as BUCKETED is re-attached to the
        session catalog (CREATE TABLE ... CLUSTERED BY ... LOCATION) and
        read through it, so the scan reports the storage clustering as its
        output partitioning and merges/joins on the bucket keys plan
        without re-shuffling this side. A plain ``spark.read.parquet``
        would silently drop the bucketing — the files carry no metadata."""
        bid = batch_id or self.production_batch_id()
        if bid is None:
            raise CatalogError(f"no production batch promoted; cannot read {table!r}")
        entry = self._load_manifest(bid).get("tables", {}).get(table, {})
        # a carried-forward entry references the batch that physically
        # wrote the files (see carry_forward) — read from there
        path = self.batch_path(entry.get("from_batch") or bid, table)
        conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = spark.conf.get(conf_key, "true")
        try:
            spark.conf.set(conf_key, "false")
            # the plain read also checks the path exists (PATH_NOT_FOUND),
            # which the bucketed re-attach's CREATE TABLE would not
            reader = spark.read.schema(schema) if schema else spark.read
            df = reader.parquet(path)
            if entry.get("bucket_by") and entry.get("num_buckets", 0) > 0:
                return self._read_bucketed(spark, path, entry, df.schema)
            return df
        finally:
            spark.conf.set(conf_key, prev)

    @staticmethod
    def _read_bucketed(spark: SparkSession, path: str, entry: dict,
                       schema: StructType) -> DataFrame:
        """Re-attach a bucketed parquet dir to the session catalog under a
        deterministic name and read through it (delegating the DDL to
        io.bucketing.register_bucketed; the DDL is the schema the plain
        read resolved — the caller's, else the parquet footers', so schema
        evolution between batches needs no bookkeeping)."""
        from .bucketing import register_bucketed
        name = "__catalog_read_" + _path_digest(path)
        register_bucketed(spark, name, path, schema.toDDL(),
                          entry["bucket_by"], entry["num_buckets"])
        return spark.table(name)

    # -- promote / rollback ----------------------------------------------------
    def promote(self, batch_id: str, expected_tables: list[str],
                allow_shrink: bool = False):
        """Point production at ``batch_id`` after validating its manifest.

        The shrink guard lives HERE, not in individual callers: the
        production pointer is batch-global, so promoting a batch whose
        manifest covers only a subset of the current production batch's
        tables silently removes every absent table from production reads.
        ``expected_tables`` is usually ``batch_tables(batch_id)`` — a
        self-referential set that cannot catch that — so promote itself
        compares against the live production manifest and refuses to
        shrink unless ``allow_shrink=True`` says the retirement is
        deliberate."""
        if self._load_manifest(batch_id).get("promoted_at_unix"):
            # promote() stamps and therefore MUTATES the manifest — on an
            # ever-promoted (immutable) batch that would restamp
            # promoted_at_unix and corrupt the audit record. Re-pointing
            # production at a past batch is exactly what rollback() is for.
            raise CatalogError(
                f"batch {batch_id!r} was already promoted; promoted "
                "batches are immutable — use rollback() to re-point "
                "production at it")
        problems = self.validate_batch(batch_id, expected_tables)
        if problems:
            raise CatalogError(
                f"batch {batch_id!r} failed validation: {problems}")
        prod_id = self.production_batch_id()
        if prod_id and prod_id != batch_id and not allow_shrink:
            batch_set = set(self.batch_tables(batch_id))
            shrink = sorted(set(self.batch_tables(prod_id)) - batch_set)
            if shrink:
                raise CatalogError(
                    f"promote refused: batch {batch_id!r} is missing "
                    f"{len(shrink)} table(s) the production batch "
                    f"{prod_id!r} currently serves ({', '.join(shrink)}); "
                    "build them into this batch first, or pass "
                    "allow_shrink=True to retire them deliberately")
        # Stamp the manifest: from this moment the batch is immutable even
        # after the pointer moves on (it remains a rollback target).
        m = self._load_manifest(batch_id)
        m["promoted_at_unix"] = int(time.time())
        self._save_manifest(batch_id, m)
        self._write_pointer(batch_id, previous=self.production_batch_id())

    def rollback(self, to_batch_id: str):
        """Re-point production at a PREVIOUSLY PROMOTED batch. A batch that
        was never promoted is still mutable (write_table accepts it), so
        pointing production at it would let readers observe tables being
        swapped out from under them — the immutability invariant promote()
        stamps is exactly what makes a batch a valid rollback target."""
        if not os.path.isdir(os.path.join(self.root, "batches", to_batch_id)):
            raise CatalogError(f"unknown batch {to_batch_id!r}")
        if not self._load_manifest(to_batch_id).get("promoted_at_unix"):
            raise CatalogError(
                f"batch {to_batch_id!r} was never promoted — it is still "
                "mutable and unvalidated, so it cannot serve production")
        self._write_pointer(to_batch_id, previous=self.production_batch_id())
