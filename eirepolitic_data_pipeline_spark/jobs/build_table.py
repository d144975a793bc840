"""`build_table` — the reference's primary entry point (SURVEY §3.1,
`extract/oireachtas/build_table.py:58-75,269+`) re-expressed over this
engine's catalog/registry/builders:

    python -m eirepolitic_data_pipeline_spark.jobs.build_table \
        --table silver_members --mode full --batch-id b42 \
        --raw-root /data/raw --warehouse /data/warehouse [--promote]

One invocation builds ONE declared table end-to-end: resolve inputs (raw
payload files for silver, catalog reads for gold), run the builder,
conform to the registry schema, and land the result in the immutable
candidate batch via the write-policy merge. The declared-PK DQ gate rides
on that write: its metrics are observed in the merge's key window and
judged before the table enters the batch manifest.
``--mode test`` caps the raw input rows (reference P11 semantics);
promotion stays explicit (``--promote``), mirroring the reference's
``--publish-latest`` gate.

The raw layout is one JSON-lines file per API source under ``--raw-root``
(``members.jsonl`` …, one fetched page payload per line) — the shape
`sources.rest.PaginatedRestSource.fetch_all` archives; silver_speeches
reads ``debate_xml.jsonl`` rows carrying the downloaded XML documents.
Control tables are produced by the run machinery (io/catalog manifests,
plans/quality results), not by builders — build_table reports them as
unsupported rather than pretending.

The production pointer is batch-GLOBAL: a promote moves every read to
the promoted batch, so a refresh run builds ALL its tables into one
batch and passes ``--promote`` on the last invocation (promotion
validates the batch's entire manifest).
"""

from __future__ import annotations

import argparse
import glob
import inspect
import json
import os
from dataclasses import dataclass, field
from datetime import date
from typing import Any, Callable, Optional, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..io.catalog import (BatchCatalog, CatalogError, is_path_not_found,
                          observed)
from ..io.writers import MergeWriter
from ..plans.default_tables import DEFAULT_TABLES_CONFIG
from ..plans.quality import DQSuite, write_gate_results
from ..plans.registry import TableRegistry
from ..tables import (
    gold_constituency_activity_yearly,
    gold_content_fact_pool,
    gold_current_members,
    gold_member_activity_monthly,
    gold_member_activity_yearly,
    silver_bill_debates,
    silver_bill_events,
    silver_bill_related_docs,
    silver_bill_sponsors,
    silver_bill_stages,
    silver_bill_versions,
    silver_bills,
    silver_constituencies,
    silver_debate_records,
    silver_debate_sections,
    silver_division_tallies,
    silver_divisions,
    silver_houses,
    silver_member_constituencies,
    silver_member_memberships,
    silver_member_offices,
    silver_member_parties,
    silver_member_votes,
    silver_members,
    silver_parties,
    silver_questions,
    silver_source_files,
)

VALID_MODES = ("full", "test")

#: silver table → (builder, raw-source stem). One payload archive feeds
#: every table exploded from that endpoint, exactly as one fetched page
#: does in the reference.
SILVER_BUILDERS: dict[str, tuple[Callable[..., DataFrame], str]] = {
    "silver_members": (silver_members, "members"),
    "silver_member_memberships": (silver_member_memberships, "members"),
    "silver_member_parties": (silver_member_parties, "members"),
    "silver_member_constituencies": (silver_member_constituencies, "members"),
    "silver_member_offices": (silver_member_offices, "members"),
    "silver_houses": (silver_houses, "houses"),
    "silver_parties": (silver_parties, "parties"),
    "silver_constituencies": (silver_constituencies, "constituencies"),
    "silver_divisions": (silver_divisions, "divisions"),
    "silver_member_votes": (silver_member_votes, "divisions"),
    "silver_division_tallies": (silver_division_tallies, "divisions"),
    "silver_questions": (silver_questions, "questions"),
    "silver_debate_records": (silver_debate_records, "debates"),
    "silver_debate_sections": (silver_debate_sections, "debates"),
    "silver_source_files": (silver_source_files, "debates"),
    "silver_bills": (silver_bills, "legislation"),
    "silver_bill_versions": (silver_bill_versions, "legislation"),
    "silver_bill_stages": (silver_bill_stages, "legislation"),
    "silver_bill_sponsors": (silver_bill_sponsors, "legislation"),
    "silver_bill_related_docs": (silver_bill_related_docs, "legislation"),
    "silver_bill_debates": (silver_bill_debates, "legislation"),
    "silver_bill_events": (silver_bill_events, "legislation"),
}

#: gold table → (builder fn, catalog input tables in positional order,
#: which inputs may be absent → empty frame).
GOLD_BUILDERS: dict[str, tuple[Callable[..., DataFrame], list[str],
                               set[str]]] = {
    "gold_current_members": (
        gold_current_members,
        ["silver_members", "silver_member_memberships",
         "silver_member_parties", "silver_member_constituencies",
         "silver_member_offices"],
        {"silver_member_parties", "silver_member_constituencies",
         "silver_member_offices"}),
    # The three activity marts read the CURRENT ROSTER (gold_current_members
    # — reference table_gold_member_activity_yearly.py:49 and
    # table_gold_constituency_activity_yearly.py:49 read
    # gold_current_members.csv), NOT silver_members: the roster carries the
    # resolved constituency_name the constituency mart's lookup requires
    # (silver_members only has latest_constituency_name), and the member
    # grid must range over current members, not every member ever seen.
    # Candidate-first input resolution serves the roster built earlier in
    # the same batch; cadences that rebuild a mart without the roster
    # (monthly) read the production roster, as the reference does.
    "gold_member_activity_yearly": (
        gold_member_activity_yearly,
        ["gold_current_members", "silver_speeches", "silver_member_votes",
         "silver_divisions"],
        {"silver_speeches", "silver_divisions"}),
    "gold_member_activity_monthly": (
        gold_member_activity_monthly,
        ["gold_current_members", "silver_speeches", "silver_member_votes"],
        {"silver_speeches"}),
    "gold_constituency_activity_yearly": (
        gold_constituency_activity_yearly,
        ["gold_current_members", "silver_speeches", "silver_member_votes"],
        {"silver_speeches"}),
    "gold_content_fact_pool": (
        gold_content_fact_pool,
        ["gold_member_activity_yearly", "gold_member_activity_monthly",
         "gold_constituency_activity_yearly", "gold_current_members"],
        set()),
}

#: schema stubs for optional gold inputs that may have no catalog table
_EMPTY_INPUT_COLUMNS = {
    "silver_speeches": ["speaker_member_code", "debate_date", "speech_id"],
    "silver_divisions": ["division_id", "division_date"],
    "silver_member_parties": ["member_code", "party_name", "party_start",
                              "party_end", "is_current"],
    "silver_member_constituencies": ["member_code", "constituency_name",
                                     "represent_start", "represent_end",
                                     "is_current"],
    "silver_member_offices": ["member_code", "office_name", "office_start",
                              "office_end", "is_current"],
}

UNSUPPORTED = {
    "control_pipeline_runs": "written by the run machinery, not a builder",
    "control_table_manifests": "written by io.catalog manifests",
    "control_data_quality_results": "written by plans.quality suites",
}


@dataclass
class BuildResult:
    table: str
    batch_id: str
    row_count: int
    dq_passed: bool
    dq: list = field(default_factory=list)
    promoted: bool = False


class DQGateError(CatalogError):
    """DQ gate failure that CARRIES the check results, so orchestration
    (run_refresh's control_data_quality_results) can record the per-check
    pass/fail rows of a failed build — a bare message would leave the DQ
    telemetry table with only ever-passing rows."""

    def __init__(self, message: str, dq: list):
        super().__init__(message)
        self.dq = dq


def _read_raw(spark: SparkSession, raw_root: str, stem: str,
              mode: str, limit: int, fmt: str = "text") -> DataFrame:
    """Payload frame from the raw archive: every line of
    ``{raw_root}/{stem}.jsonl`` (or ``{stem}/*.jsonl``) is one page
    payload — read as one text column named ``payload`` (``fmt='text'``,
    the JSON-string input the silver builders parse themselves) or as
    schema-inferred rows (``fmt='json'``, the XML-corpus shape). mode=test
    caps pages read — reference P11."""
    paths = [p for pat in (f"{stem}.jsonl", os.path.join(stem, "*.jsonl"))
             for p in glob.glob(os.path.join(raw_root, pat))]
    if not paths:
        raise FileNotFoundError(
            f"no raw payloads for source {stem!r} under {raw_root!r}")
    if fmt == "json":
        df = spark.read.json(paths)
    else:
        df = spark.read.text(paths).withColumnRenamed("value", "payload")
    if mode == "test":
        df = df.limit(max(1, limit))
    return df


def _read_input_or_none(spark: SparkSession, catalog: BatchCatalog,
                        name: str, batch_id: str,
                        schema: Optional[StructType] = None
                        ) -> Optional[DataFrame]:
    """Gold-input read with candidate-first resolution; returns None ONLY
    for genuine absence: neither the candidate batch's manifest nor the
    production manifest records the table, so nothing is read. Manifests,
    never the filesystem, decide — so the check cannot disturb a
    concurrent writer's atomic swap. Any read failure of a RECORDED table
    — corrupt files, I/O errors, a vanished data dir — propagates:
    substituting an empty stub there would silently blank the mart's
    columns while DQ passes. ``schema`` (the registry's) spares the read
    its schema-inference job."""
    bid = batch_id if catalog.batch_has_table(batch_id, name) else None
    if bid is None:
        bid = catalog.production_batch_id()
        if bid is None or not catalog.batch_has_table(bid, name):
            return None
    try:
        return _stringified(catalog.read_table(spark, name, batch_id=bid,
                                               schema=schema))
    except AnalysisException as e:
        if is_path_not_found(e):
            raise CatalogError(
                f"manifest for batch {bid!r} records input {name!r} but "
                "its data directory is missing — refusing to treat "
                "corruption as absence") from e
        raise


def _stringified(df: DataFrame) -> DataFrame:
    """Catalog tables are typed (conform casts); builders speak the silver
    string convention (blank == missing) — cast back, null → ''."""
    return df.select(*[
        F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c)
        for c in df.columns])


def _call_builder(fn: Callable[..., DataFrame], df: DataFrame,
                  snapshot_date: str, today: Optional[date]) -> DataFrame:
    kwargs: dict[str, Any] = {"snapshot_date": snapshot_date}
    if "today" in inspect.signature(fn).parameters:
        kwargs["today"] = today
    return fn(df, **kwargs)


def build_table(spark: SparkSession, catalog: BatchCatalog,
                registry: TableRegistry, table: str, *, batch_id: str,
                raw_root: str = "", mode: str = "full", limit: int = 25,
                snapshot_date: str = "", today: Optional[date] = None,
                promote: bool = False,
                allow_shrink: bool = False) -> BuildResult:
    """Build one table into the candidate batch. Raises CatalogError for
    unsupported tables and ValueError for bad modes; DQ failure aborts
    before the table enters the batch manifest (the reference's
    dq_status=fail short-circuit): the gate's metrics ride on the write,
    and a failing gate removes the landed files and raises DQGateError.

    ``promote`` refuses to move the batch-global production pointer onto a
    batch whose manifest is MISSING tables the current production batch
    serves — promoting a subset would silently remove every absent table
    from production reads. ``allow_shrink=True`` (CLI ``--allow-shrink``)
    is the explicit override for intentional table retirement."""
    if mode not in VALID_MODES:
        raise ValueError(f"mode must be one of {VALID_MODES}")
    if table in UNSUPPORTED:
        raise CatalogError(f"{table}: unsupported by build_table — "
                           + UNSUPPORTED[table])
    snapshot_date = snapshot_date or date.today().isoformat()
    today = today or date.fromisoformat(snapshot_date)

    if table == "silver_speeches":
        # XML corpus, not JSON pages: debate_xml.jsonl rows carry
        # {debate_id, debate_date, xml_uri, xml_url, xml} — the downloaded
        # archive shape sources/files.py's XML fetch (S6) produces
        from ..tables import silver_speeches
        corpus = _read_raw(spark, raw_root, "debate_xml", mode, limit,
                           fmt="json")
        out = silver_speeches(corpus, snapshot_date=snapshot_date)
    elif table in SILVER_BUILDERS:
        fn, stem = SILVER_BUILDERS[table]
        raw = _read_raw(spark, raw_root, stem, mode, limit)
        out = _call_builder(fn, raw, snapshot_date, today)
    elif table in GOLD_BUILDERS:
        fn, input_tables, optional = GOLD_BUILDERS[table]
        inputs = []
        for name in input_tables:
            # inputs built earlier in THIS batch win over production —
            # batches are full immutable snapshots (one batch per refresh
            # run, promoted once at the end), so gold layers must see the
            # silver tables the same run just produced
            df = _read_input_or_none(spark, catalog, name, batch_id,
                                     registry[name].schema)
            if df is not None:
                inputs.append(df)
                continue
            if name not in optional:
                raise CatalogError(
                    f"{table}: required input {name!r} does not exist in "
                    f"batch {batch_id!r} or production; build it first")
            cols = _EMPTY_INPUT_COLUMNS.get(name)
            if cols is None:
                raise CatalogError(
                    f"{table}: optional input {name!r} is absent and has "
                    "no _EMPTY_INPUT_COLUMNS stub — add one so the "
                    "builder receives a typed empty frame, not None")
            inputs.append(spark.createDataFrame(
                [], ", ".join(f"{c} string" for c in cols)))
        out = fn(*inputs, snapshot_date)
    else:
        raise CatalogError(f"unknown table {table!r}; registry declares: "
                           + ", ".join(sorted(registry.tables)))

    tdef = registry[table]
    pk = list(tdef.policy.primary_key)
    min_rows = 0 if mode == "test" else 1
    gate = Observation()
    dq: list = []

    def check_gate():
        dq[:] = write_gate_results(observed(gate), pk, min_rows)
        if not DQSuite.passed(dq):
            raise DQGateError(
                f"{table}: DQ gate failed; table left out of batch "
                f"{batch_id!r}: "
                + "; ".join(str(c) for c in dq if not c.passed), list(dq))

    conformed = tdef.conform(out)
    writer = MergeWriter(catalog=catalog, spark=spark)
    bucket_kw = {}
    if tdef.bucket_keys:
        # merge-heavy fact tables persist BUCKETED on their declared keys
        # by default: the storage pays the clustering once, and the next
        # refresh's merge plans without re-shuffling retained history
        # (io/writers.py fast path). Bucket count sized from the table's
        # current production volume (first build: minimum).
        from ..io.bucketing import buckets_for
        prev_rows = int(catalog.table_entry(table).get("row_count", 0))
        bucket_kw = dict(bucket_by=tuple(tdef.bucket_keys),
                         num_buckets=buckets_for(prev_rows))
    # test-mode builds are UNPROMOTABLE by construction: the manifest entry
    # records status='test', which validate_batch refuses — mirroring the
    # reference CLI's publish guard (`build_table.py:67,84`: --publish-latest
    # auto disables publishing for mode=test). Without it, the CLI's
    # default --mode test would land a 25-page sample in the candidate
    # batch that a later --promote silently serves as production.
    cached_before = (set(spark.sparkContext._jsc.getPersistentRDDs()
                         .keySet().toArray())
                     if table in GOLD_BUILDERS else set())
    writer.write(conformed, table, tdef.policy, batch_id=batch_id,
                 status="test" if mode == "test" else "ok",
                 schema=tdef.schema, gate=gate, check=check_gate,
                 **bucket_kw)
    # the committed row count was observed in the write job and recorded
    # in the manifest — counting the returned frame again would launch a
    # redundant full-table job
    n = int(catalog.table_entry(table, batch_id=batch_id)["row_count"])
    if table in GOLD_BUILDERS:
        # the gold builders .cache() their dimension-bounded metric/lookup
        # frames (consumed 2-3x within ONE mart materialization); the write
        # above was that materialization, so release exactly the blocks
        # THIS build pinned — never session-global clearCache, which would
        # evict an embedding caller's own cached frames as collateral
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in jmap.keySet().toArray():
            if rid not in cached_before:
                jmap.get(rid).unpersist()
    if promote:
        # The production pointer is batch-GLOBAL: promoting moves every
        # read to this batch, so promote validates the batch's ENTIRE
        # manifest (all tables this run built), not just this table.
        # Build every table of the run into one batch, then pass
        # --promote on the last invocation.
        # the shrink guard (refusing a batch that serves fewer tables than
        # production) lives in catalog.promote itself, shared with run_refresh
        catalog.promote(batch_id, catalog.batch_tables(batch_id),
                        allow_shrink=allow_shrink)
    return BuildResult(table=table, batch_id=batch_id, row_count=n,
                       dq_passed=True, dq=dq, promoted=promote)


def main(argv: Optional[Sequence[str]] = None) -> int:
    ap = argparse.ArgumentParser(prog="build_table")
    ap.add_argument("--table")
    ap.add_argument("--mode", choices=VALID_MODES, default="test")
    ap.add_argument("--batch-id", default=os.getenv("SPARK_GRAFT_BATCH_ID", ""))
    ap.add_argument("--raw-root", default="")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--snapshot-date", default="")
    ap.add_argument("--limit", type=int, default=25)
    ap.add_argument("--promote", action="store_true")
    ap.add_argument("--allow-shrink", action="store_true",
                    help="let --promote move production onto a batch that "
                         "serves FEWER tables than the current production "
                         "batch (deliberate table retirement)")
    ap.add_argument("--list-tables", action="store_true")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args(argv)

    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    if args.list_tables:
        for name in sorted(registry.tables):
            status = ("builder" if name in SILVER_BUILDERS
                      or name in GOLD_BUILDERS
                      or name == "silver_speeches" else "unsupported")
            print(f"{name}\t{status}")
        return 0
    if not args.table:
        ap.error("--table is required (or --list-tables)")
    if not args.batch_id:
        ap.error("--batch-id is required (env SPARK_GRAFT_BATCH_ID)")

    from ..session import get_spark
    spark = get_spark(f"build_table:{args.table}")
    catalog = BatchCatalog(root=args.warehouse)
    res = build_table(
        spark, catalog, registry, args.table, batch_id=args.batch_id,
        raw_root=args.raw_root, mode=args.mode, limit=args.limit,
        snapshot_date=args.snapshot_date, promote=args.promote,
        allow_shrink=args.allow_shrink)
    if args.json:
        print(json.dumps({
            "table": res.table, "batch_id": res.batch_id,
            "row_count": res.row_count, "dq_passed": res.dq_passed,
            "promoted": res.promoted}))
    else:
        print(f"{res.table}: {res.row_count} rows in batch "
              f"{res.batch_id} (promoted={res.promoted})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
